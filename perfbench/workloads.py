"""The benchmark's workloads: inputs, one closed-loop operation, its traced
twin and the correctness check of each.

Every workload prepares its inputs and gold under a work directory
(untimed), warms up on separate inputs (timed as set-up), then runs
``op`` back to back with one client. ``traced_op`` does the same work as
``op`` but calls each layer's public function on its own and materializes
its output at the layer boundary, inside one span per layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from extract_address_ner_spark.entry_queries_streaming import (
    expire_snapshots,
    merge_edge_snapshot,
    read_edge_snapshot,
)
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.dedup import (
    connected_components,
    dedup_cache_scope,
    dedup_near,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
)
from extract_address_ner_spark.operators.graph_query import (
    degree_distribution,
    region_rollup,
    top_addresses_per_repo,
)
from extract_address_ner_spark.operators.link import build_edges, build_nodes
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.plans.pipeline import StagedPipeline
from pyspark.sql import functions as F

#: Parquet files per input table, so the scan splits across cores the way
#: a multi-file corpus drop does.
INPUT_FILES = 8
#: Passed to dedup_near / connected_components: pair lists above it take
#: the distributed components loop, below it the driver union-find. The
#: default is 100 000; a workload with that many pairs runs one ~15 s
#: operation per run on a 4-core box, too few for a steady median, so the
#: benchmark lowers the threshold under its 9 360 verified pairs instead.
DRIVER_THRESHOLD = 4_000
#: dedup recall floor: banded MinHash misses a planted pair now and then,
#: which may cost its cluster a member (precision must stay exactly 1)
DEDUP_RECALL_FLOOR = 0.99


def write_table(cols: dict[str, list], path: str) -> None:
    """Write columns as INPUT_FILES parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    step = -(-table.num_rows // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k}.parquet")


def write_gold(rows, path: str) -> None:
    with open(path, "w") as f:
        json.dump(sorted(rows), f)


def edge_set(df) -> set[tuple[str, str, str]]:
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def precision_recall(got: set, gold: set) -> tuple[float, float]:
    hit = len(got & gold)
    return (hit / len(got) if got else 1.0, hit / len(gold) if gold else 1.0)


@dataclass
class OpResult:
    """One operation: its wall, the docs it processed, its output rows,
    and whether its output checked out."""

    wall: float
    docs: int
    rows: int = 0
    ok: bool = True
    precision: float = 1.0
    recall: float = 1.0
    # CPU seconds of this process, the JVM and its Python workers in ``wall``
    cpu: float = 0.0
    # per-op values the traced run reads besides the event log
    extra: dict[str, float] = field(default_factory=dict)


def _materialize(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


class KgBatch:
    """``StagedPipeline.run`` over one code corpus; each op builds a fresh
    warehouse from the same input. Runnable by name for traced comparisons
    of the tagger share; BENCHMARK.json lists the two workloads below."""

    def __init__(self, name: str, n_docs: int, address_share: float,
                 hangul_share: float, op_seconds: float):
        self.name = name
        self.n_docs = n_docs
        # nominal wall of one op on a 4-core box: sets the op count per run
        self.op_seconds = op_seconds
        self.address_share = address_share
        self.hangul_share = hangul_share
        # the traced run also reads the per-stage write walls from lineage
        self.read_lineage = False

    def prepare(self, work: str, seed: int, n_ops: int) -> None:
        self.work = work
        self.input = f"{work}/in/corpus"
        cols, gold = gen.make_corpus(seed, self.n_docs, self.address_share,
                                     self.hangul_share)
        write_table(cols, self.input)
        self.gold = gold | gen.backbone_edges()
        write_gold(self.gold, f"{work}/in/gold_edges.json")
        # full-size, so the JIT has compiled the per-row loops before timing
        self.warm_input = f"{work}/in/warmup"
        cols, _ = gen.make_corpus(seed + 1, self.n_docs, self.address_share,
                                  self.hangul_share, doc_id_base=10 ** 9)
        write_table(cols, self.warm_input)

    def _build(self, spark, src: str, run_id: str) -> tuple[StagedPipeline, dict]:
        p = StagedPipeline(spark, f"{self.work}/wh/{run_id}", run_id)
        return p, p.run(lambda: spark.read.parquet(src))

    def _finish(self, res: OpResult, p: StagedPipeline, gold: set) -> None:
        """Untimed after a staged build: check its edges and sha invariant,
        read its lineage walls and bytes on disk (traced run), drop it."""
        self._check(res, p.read_stage("edges"), gold)
        res.ok = res.ok and p.sha_invariant_ok()
        if self.read_lineage:
            # wall_ms repeats on every partition row of a stage
            walls = p.lineage().groupBy("stage").agg(F.max("wall_ms")).collect()
            res.extra["pipeline.stage_write_s"] = sum(r[1] for r in walls) / 1000
            res.extra["pipeline.bytes_written"] = sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _dn, fns in os.walk(p.warehouse) for fn in fns)
        shutil.rmtree(p.warehouse, ignore_errors=True)

    def _layer_chain(self, spark, tracer, src: str, d: str, res: OpResult):
        """The staged build's layers one by one, each materialized under
        ``d`` inside its own span; returns the edges."""
        t0 = time.monotonic()
        with tracer.span("corpus"):
            corpus = _materialize(spark.read.parquet(src), f"{d}/corpus")
        with tracer.span("tagger"):
            mentions = _materialize(extract_mentions(corpus), f"{d}/mentions")
        with tracer.span("validate"):
            gated = _materialize(road_address_gate(mentions), f"{d}/gated")
        with tracer.span("canonicalize"):
            canonical = _materialize(canonicalize_mentions(gated), f"{d}/canonical")
        with tracer.span("link.edges"):
            edges = _materialize(build_edges(canonical), f"{d}/edges")
        with tracer.span("link.nodes"):
            _materialize(build_nodes(canonical), f"{d}/nodes")
        res.wall = time.monotonic() - t0
        with tracer.span("aux"):
            res.extra["tagger.docs_with_mention"] = (
                mentions.select("doc_id").distinct().count())
            res.extra["canonicalize.linked"] = (
                canonical.filter(F.col("canonical_id").isNotNull()).count())
        return edges

    @staticmethod
    def _check(res: OpResult, edges, gold: set) -> None:
        got = edge_set(edges)
        res.rows = len(got)
        res.precision, res.recall = precision_recall(got, gold)
        res.ok = res.ok and got == gold

    def warmup(self, spark) -> None:
        self._build(spark, self.warm_input, "warmup")

    def op(self, spark, i: int) -> OpResult:
        t0, c0 = time.monotonic(), self.clock.now()
        p, _out = self._build(spark, self.input, f"op{i}")
        res = OpResult(time.monotonic() - t0, self.n_docs, cpu=self.clock.now() - c0)
        res.extra["pipeline_s"] = res.wall
        self._finish(res, p, self.gold)
        return res

    def traced_op(self, spark, tracer, i: int) -> OpResult:
        d = f"{self.work}/tr/op{i}"
        res = OpResult(0.0, self.n_docs)
        edges = self._layer_chain(spark, tracer, self.input, d, res)
        with tracer.span("aux"):
            self._check(res, edges, self.gold)
        shutil.rmtree(d, ignore_errors=True)
        return res


class KgRefresh(KgBatch):
    """Each op builds the next pre-written delta drop with
    ``StagedPipeline.run``, merges its edges stage into the snapshot chain
    with ``merge_edge_snapshot``, expires the chain to two versions, then
    issues the three graph reads against the latest snapshot: the
    write-beside-read shape. The refresh latency runs from the start of the
    build until the merged snapshot is visible."""

    QUERIES = (
        ("graph_query.degree", degree_distribution),
        ("graph_query.top_addresses", top_addresses_per_repo),
        ("graph_query.region_rollup", region_rollup),
    )

    def prepare(self, work: str, seed: int, n_ops: int) -> None:
        self.work = work
        self.root = f"{work}/edges"
        self.gold_by_delta = []
        # every delta draws from the seed's address pool, so later deltas
        # touch addresses (and snapshot buckets) that earlier ones wrote
        for k in range(n_ops):
            cols, gold = gen.make_corpus(seed, self.n_docs, self.address_share,
                                         self.hangul_share,
                                         doc_id_base=(k + 1) * 10 ** 7)
            write_table(cols, f"{work}/in/delta{k}")
            self.gold_by_delta.append(gold | gen.backbone_edges())
        write_gold(set().union(*self.gold_by_delta),
                   f"{work}/in/gold_edges_all_deltas.json")
        # a full-size drop of its own, merged into a chain of its own
        self.warm_input = f"{work}/in/warmup"
        cols, _ = gen.make_corpus(seed, self.n_docs, self.address_share,
                                  self.hangul_share, doc_id_base=10 ** 9)
        write_table(cols, self.warm_input)
        self.applied: list[int] = []
        self.query_walls: list[float] = []

    def _reads(self, spark, root: str, tracer=None) -> None:
        for name, fn in self.QUERIES:
            with tracer.span(name) if tracer else contextlib.nullcontext():
                t0 = time.monotonic()
                with dedup_cache_scope():  # the queries persist their input
                    fn(read_edge_snapshot(spark, root)).collect()
                self.query_walls.append(time.monotonic() - t0)

    def warmup(self, spark) -> None:
        _p, out = self._build(spark, self.warm_input, "warmup")
        root = f"{self.work}/warm_edges"
        merge_edge_snapshot(out["edges"], root, 1)
        expire_snapshots(root, keep=2)
        self._reads(spark, root)
        self.query_walls.clear()

    def op(self, spark, i: int) -> OpResult:
        t0, c0 = time.monotonic(), self.clock.now()
        p, out = self._build(spark, f"{self.work}/in/delta{i}", f"op{i}")
        built = time.monotonic()
        merge_edge_snapshot(out["edges"], self.root, i + 1)
        refresh = time.monotonic() - t0
        self.applied.append(i)
        expire_snapshots(self.root, keep=2)
        self._reads(spark, self.root)
        res = OpResult(time.monotonic() - t0, self.n_docs, cpu=self.clock.now() - c0)
        res.extra |= {"refresh_s": refresh, "pipeline_s": built - t0}
        self._finish(res, p, self.gold_by_delta[i])
        return res

    def traced_op(self, spark, tracer, i: int) -> OpResult:
        d = f"{self.work}/tr/op{i}"
        res = OpResult(0.0, self.n_docs)
        t0 = time.monotonic()
        edges = self._layer_chain(spark, tracer, f"{self.work}/in/delta{i}", d, res)
        aux = time.monotonic() - t0 - res.wall
        with tracer.span("refresh.merge"):
            merge_edge_snapshot(edges, self.root, i + 1)
        res.extra["refresh_s"] = time.monotonic() - t0 - aux
        self.applied.append(i)
        with tracer.span("refresh.expire"):
            expire_snapshots(self.root, keep=2)
        self._reads(spark, self.root, tracer)
        res.wall = time.monotonic() - t0 - aux
        with tracer.span("aux"):
            self._check(res, edges, self.gold_by_delta[i])
        res.extra |= self._snapshot_stats(i + 1)
        shutil.rmtree(d, ignore_errors=True)
        return res

    def _snapshot_stats(self, version: int) -> dict[str, float]:
        """Touched-bucket share and bytes of a version, from its manifest
        and its directory on disk; files the latest read scans."""
        with open(f"{self.root}/v{version}/manifest.json") as f:
            manifest = json.load(f)
        pointers = manifest["buckets"].values()
        own = sum(1 for rel in pointers if rel.startswith(f"v{version}/"))
        written = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _dn, fns in os.walk(f"{self.root}/v{version}/data")
            for fn in fns
        )
        files_read = sum(
            1 for rel in pointers
            for fn in os.listdir(f"{self.root}/{rel}") if fn.endswith(".parquet")
        )
        return {
            "refresh.touched_ratio": own / manifest["n_buckets"],
            "refresh.bytes_per_merge": written,
            "graph_query.files_read": files_read,
        }

    def final_check(self, spark) -> OpResult:
        """The latest snapshot against the gold of every delta applied."""
        gold = set().union(*(self.gold_by_delta[k] for k in self.applied))
        res = OpResult(0.0, 0)
        self._check(res, read_edge_snapshot(spark, self.root), gold)
        return res


class NearDedup:
    """``dedup_near`` over docs with planted near-duplicate clusters, sized
    so the verified pairs exceed DRIVER_THRESHOLD: the distributed
    components loop is what gets measured. Each op takes a corpus of its
    own: how many propagation rounds the loop needs depends on which pairs
    banded MinHash happens to miss, so one corpus per run would make the
    run's time depend on its seed."""

    def __init__(self, name: str, n_clusters: int, cluster_size: int,
                 n_near_miss: int, n_singletons: int, op_seconds: float):
        self.name = name
        self.op_seconds = op_seconds
        self.shape = (n_clusters, cluster_size, n_near_miss, n_singletons)

    def prepare(self, work: str, seed: int, n_ops: int) -> None:
        self.work = work
        self.golds = []
        for k in range(n_ops + 1):
            cols, gold = gen.make_dup_corpus(seed * 100 + k, *self.shape)
            write_table(cols, f"{work}/in/docs{k}")
            write_gold(gold, f"{work}/in/gold_dropped{k}.json")
            self.golds.append(gold)
        self.all_ids = set(cols["doc_id"])  # 0..n-1 in every corpus
        self.n_docs = len(self.all_ids)
        # the last corpus is the warm-up one
        self.warm_input = f"{work}/in/docs{n_ops}"

    def warmup(self, spark) -> None:
        with dedup_cache_scope():
            dedup_near(spark.read.parquet(self.warm_input),
                       driver_threshold=DRIVER_THRESHOLD).collect()

    def _check(self, kept_path: str, spark, i: int, wall: float) -> OpResult:
        kept = {r.doc_id for r in spark.read.parquet(kept_path).select("doc_id").collect()}
        dropped = self.all_ids - kept
        prec, rec = precision_recall(dropped, self.golds[i])
        ok = prec == 1.0 and rec >= DEDUP_RECALL_FLOOR and kept <= self.all_ids
        return OpResult(wall, self.n_docs, len(kept), ok, prec, rec)

    def op(self, spark, i: int) -> OpResult:
        out = f"{self.work}/out/op{i}"
        t0, c0 = time.monotonic(), self.clock.now()
        with dedup_cache_scope():
            dedup_near(spark.read.parquet(f"{self.work}/in/docs{i}"),
                       driver_threshold=DRIVER_THRESHOLD).write.parquet(out)
        wall, cpu = time.monotonic() - t0, self.clock.now() - c0
        res = self._check(out, spark, i, wall)
        res.cpu = cpu
        shutil.rmtree(out, ignore_errors=True)
        return res

    def traced_op(self, spark, tracer, i: int) -> OpResult:
        d = f"{self.work}/tr/op{i}"
        docs = spark.read.parquet(f"{self.work}/in/docs{i}")
        t0 = time.monotonic()
        with dedup_cache_scope():
            with tracer.span("dedup.minhash"):
                minhash_signatures(docs).write.parquet(f"{d}/sigs")
            with tracer.span("dedup.lsh"):
                cand = _materialize(lsh_candidate_pairs(docs), f"{d}/cand")
            with tracer.span("dedup.verify"):
                pairs = _materialize(jaccard_verify(docs, cand), f"{d}/pairs")
            with tracer.span("dedup.components"):
                comp = _materialize(
                    connected_components(docs, pairs,
                                         driver_threshold=DRIVER_THRESHOLD),
                    f"{d}/comp")
            with tracer.span("dedup.keep"):
                keepers = comp.filter(F.col("doc_id") == F.col("component_id"))
                docs.join(keepers.select("doc_id"), "doc_id", "left_semi") \
                    .write.parquet(f"{d}/kept")
        wall = time.monotonic() - t0
        with tracer.span("aux"):
            res = self._check(f"{d}/kept", spark, i, wall)
        shutil.rmtree(d, ignore_errors=True)
        return res


#: Workload name -> a fresh instance (each holds the state of one run).
WORKLOADS = {
    # ~2/3 of files carry addresses: the tagger and link stages dominate
    "kg_dense": lambda: KgBatch("kg_dense", n_docs=8000, address_share=2 / 3,
                                hangul_share=0.7, op_seconds=6),
    # realistic code corpus: the Hangul prefilter skips almost every file
    "kg_sparse": lambda: KgBatch("kg_sparse", n_docs=8000, address_share=0.01,
                                 hangul_share=0.02, op_seconds=5),
    # dense 600-doc deltas, so the tagger works on every build
    "kg_refresh": lambda: KgRefresh("kg_refresh", n_docs=600,
                                    address_share=2 / 3, hangul_share=0.7,
                                    op_seconds=5),
    # per corpus, 12 clusters of 40 give 9 360 verified pairs from 620 docs
    "near_dedup": lambda: NearDedup("near_dedup", n_clusters=12,
                                    cluster_size=40, n_near_miss=40,
                                    n_singletons=100, op_seconds=4),
}
