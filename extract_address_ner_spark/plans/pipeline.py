"""Checkpoint-resumable staged KG-construction pipeline with lineage.

Orchestration (SURVEY.md §2.9, §7.1.7): each stage writes its output to
``<warehouse>/stage=<name>/`` as parquet; Spark's committed ``_SUCCESS``
marker makes the stage durable. On re-run, completed stages are SKIPPED and
their parquet is read back — downstream stages always consume the *written*
artifact, so a resumed run is bit-identical to a clean one (idempotency test
in tests/test_pipeline.py).

Lineage (generalizing the reference's model_versions metrics table,
db_service.py:55-62): per-stage lineage from the write's Observation —
``lineage(run_id, stage, rows, sha_crc_sum, wall_ms, partitions)``, one row
per stage. ``rows`` and ``sha_crc_sum`` are observed metrics of the write
job itself (``DataFrame.observe``), so lineage costs no Spark job of its
own: the row is written on the driver with pyarrow. ``sha_crc_sum`` is an
order-independent integrity aggregate (sum of crc32(content_sha256) over
rows) used for the end-to-end sha256 invariant: the per-document aggregate
at the sink must equal the one at the scan (input_hint). ``wall_ms`` is
measured on the DRIVER around the stage action — never wall-clock inside a
task (FIXTURES.md determinism rule). ``partitions`` counts the part files
the write left in the stage directory (a driver listing).

Scale notes: stage outputs are parquet (columnar, predicate-pushdown-able);
lineage is a tiny side table; the resume check is a filesystem probe, not a
data read. Each stage runs under ``session.stage(<name>)``, so its jobs
carry the stage name in the event log and the UI. At cluster scale the
warehouse dir is object storage and ``_SUCCESS`` semantics carry over
unchanged (this is exactly Iceberg-style
snapshot commit semantics with a parquet-dir backend; an Iceberg catalog can
be swapped in via spark.jars.packages without changing stage logic —
SURVEY.md §7.3; no network in this sandbox, so the parquet warehouse is the
default).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_mentions
from ..operators.link import build_edges, build_nodes
from ..operators.tagger import extract_mentions
from ..operators.validate import road_address_gate
from ..session import stage as stage_label

LINEAGE_SCHEMA = (
    "run_id string, stage string, rows long, sha_crc_sum long, "
    "wall_ms long, partitions long"
)
_LINEAGE_ARROW = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()), ("rows", pa.int64()),
    ("sha_crc_sum", pa.int64()), ("wall_ms", pa.int64()),
    ("partitions", pa.int64()),
])


def _success_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_SUCCESS")


class StagedPipeline:
    """corpus → mentions → canonical → edges + nodes, each stage durable."""

    STAGES = ("corpus", "mentions", "canonical", "edges", "nodes")

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str,
        sha_col: str = "content_sha256",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id
        self.sha_col = sha_col
        self.ran_stages: list[str] = []  # stages actually computed this run

    # -- plumbing ----------------------------------------------------------

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, f"stage={stage}")

    def _lineage_dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, "lineage", f"stage={stage}")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(_success_path(self.stage_dir(stage)))

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_dir(stage))

    def _write_stage(self, stage: str, df: DataFrame) -> DataFrame:
        """Write stage output + its lineage row; return the re-read artifact
        (downstream consumes the durable copy). One Spark job: the write.
        Rows and the sha aggregate are observed in the write's result stage
        (no exchange above the ``observe``), and the read-back takes the
        written schema instead of inferring it."""
        t0 = time.monotonic()
        out = self.stage_dir(stage)
        obs = Observation()
        sha = (
            F.sum(F.crc32(F.col(self.sha_col))).cast("long")
            if self.sha_col in df.columns
            else F.lit(None).cast("long")
        )
        df.observe(
            obs, F.count(F.lit(1)).alias("rows"), sha.alias("sha_crc_sum")
        ).write.mode("overwrite").parquet(out)
        wall_ms = int((time.monotonic() - t0) * 1000)
        metrics = obs.get
        lineage_dir = self._lineage_dir(stage)
        shutil.rmtree(lineage_dir, ignore_errors=True)
        os.makedirs(lineage_dir)
        row = {
            "run_id": self.run_id,
            "stage": stage,
            "rows": metrics["rows"],
            "sha_crc_sum": metrics["sha_crc_sum"],
            "wall_ms": wall_ms,
            "partitions": sum(
                1 for fn in os.listdir(out) if fn.startswith("part-")
            ),
        }
        pq.write_table(
            pa.Table.from_pylist([row], schema=_LINEAGE_ARROW),
            os.path.join(lineage_dir, "part-00000.parquet"),
        )
        self.ran_stages.append(stage)
        return self.spark.read.schema(df.schema).parquet(out)

    def _stage(self, stage: str, compute: Callable[[], DataFrame]) -> DataFrame:
        with stage_label(stage):
            if self.is_done(stage):
                return self.read_stage(stage)
            return self._write_stage(stage, compute())

    # -- the plan ----------------------------------------------------------

    def run(self, corpus_source: Callable[[], DataFrame]) -> dict[str, DataFrame]:
        corpus = self._stage("corpus", corpus_source)
        mentions = self._stage("mentions", lambda: extract_mentions(corpus))
        canonical = self._stage(
            "canonical",
            lambda: canonicalize_mentions(road_address_gate(mentions)),
        )
        edges = self._stage("edges", lambda: build_edges(canonical))
        nodes = self._stage("nodes", lambda: build_nodes(canonical))
        return {
            "corpus": corpus,
            "mentions": mentions,
            "canonical": canonical,
            "edges": edges,
            "nodes": nodes,
        }

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.warehouse, "lineage")
        )

    def info(self) -> DataFrame:
        """Pipeline/run summary from the lineage table — the analogue of the
        reference's GET /model-info (app/main.py:182-189): per stage, latest
        run id, rows, partitions (part files written), wall time."""
        return self.lineage().select(
            "stage", "run_id", "rows", "partitions", "wall_ms"
        ).orderBy("stage")

    # -- invariants --------------------------------------------------------

    def sha_invariant_ok(self) -> bool:
        """Per-document sha256 preserved end-to-end (input_hint): the
        order-independent aggregate over distinct (doc_id, sha) at the
        mentions stage equals the same aggregate over the corpus docs that
        carry mentions. Exact row-level equality is separately asserted in
        tests via a join."""
        corpus = self.read_stage("corpus").select("doc_id", self.sha_col)
        mentions = (
            self.read_stage("mentions")
            .select("doc_id", self.sha_col)
            .dropDuplicates(["doc_id"])
        )
        j = mentions.alias("m").join(
            corpus.alias("c"), on="doc_id", how="left"
        )
        mismatched = j.filter(
            (F.col(f"c.{self.sha_col}").isNull())
            | (F.col(f"m.{self.sha_col}") != F.col(f"c.{self.sha_col}"))
        ).count()
        return mismatched == 0
