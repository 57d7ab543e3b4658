"""Staged pipeline: resume, idempotency, lineage, sha invariant, eval."""

import shutil

import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from extract_address_ner_spark.plans.evaluate import span_prf
from extract_address_ner_spark.plans.pipeline import StagedPipeline
from extract_address_ner_spark.session import STAGE_PROPERTY
from extract_address_ner_spark.sources import corpus as C


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


def _edges_set(dfs):
    return {
        (r["subj"], r["pred"], r["obj"], round(r["confidence"], 9))
        for r in dfs["edges"].collect()
    }


def test_pipeline_end_to_end_and_resume(spark, warehouse, sf_smoke):
    src = lambda: C.corpus_from_documents(spark, sf_smoke)  # noqa: E731

    p1 = StagedPipeline(spark, warehouse, run_id="r1")
    out1 = p1.run(src)
    assert p1.ran_stages == list(StagedPipeline.STAGES)
    edges1 = _edges_set(out1)
    assert len(edges1) > 300
    assert p1.sha_invariant_ok()

    # full re-run: everything resumes, nothing recomputed
    p2 = StagedPipeline(spark, warehouse, run_id="r2")
    out2 = p2.run(src)
    assert p2.ran_stages == []
    assert _edges_set(out2) == edges1

    # partial resume: drop the edges stage only → exactly it is recomputed
    shutil.rmtree(p1.stage_dir("edges"))
    p3 = StagedPipeline(spark, warehouse, run_id="r3")
    out3 = p3.run(src)
    assert p3.ran_stages == ["edges"]
    assert _edges_set(out3) == edges1


def test_lineage_rows(spark, warehouse, sf_smoke):
    p = StagedPipeline(spark, warehouse, run_id="r1")
    p.run(lambda: C.corpus_from_documents(spark, sf_smoke))
    lin = p.lineage().collect()
    stages = {r["stage"] for r in lin}
    assert stages == set(StagedPipeline.STAGES)
    per_stage_rows = {}
    for r in lin:
        assert r["run_id"] == "r1"
        assert r["rows"] > 0
        assert r["wall_ms"] >= 0
        per_stage_rows[r["stage"]] = per_stage_rows.get(r["stage"], 0) + r["rows"]
    # lineage row counts reconcile with the stage artifacts
    for stage in StagedPipeline.STAGES:
        assert per_stage_rows[stage] == p.read_stage(stage).count()
    # corpus/mentions stages carry the sha aggregate
    assert all(
        r["sha_crc_sum"] is not None for r in lin if r["stage"] == "corpus"
    )


def test_pipeline_info(spark, warehouse, sf_smoke):
    p = StagedPipeline(spark, warehouse, run_id="r1")
    p.run(lambda: C.corpus_from_documents(spark, sf_smoke))
    info = {r["stage"]: r for r in p.info().collect()}
    assert set(info) == set(StagedPipeline.STAGES)
    for stage, r in info.items():
        assert r["run_id"] == "r1"
        assert r["rows"] == p.read_stage(stage).count()
        assert r["partitions"] >= 1 and r["wall_ms"] >= 0


def _sha_frame(spark, n):
    return spark.range(n).withColumn(
        "content_sha256", F.sha2(F.col("id").cast("string"), 256))


def test_write_stage_is_one_job(spark, warehouse, jobs_run_by):
    """A stage write is ONE Spark job: rows and the sha aggregate arrive
    with the write (an Observation), the lineage row is written on the
    driver, and the returned read-back frame takes the written schema, so
    building it runs no schema-inference job."""
    p = StagedPipeline(spark, warehouse, run_id="r1")
    df = _sha_frame(spark, 1000)
    written, n_jobs = jobs_run_by(lambda: p._write_stage("corpus", df))
    assert n_jobs == 1
    assert written.schema == spark.read.parquet(p.stage_dir("corpus")).schema
    assert written.count() == 1000


def test_lineage_reconciles_with_stages(spark, warehouse, sf_smoke):
    """One lineage row per stage; its rows equal the re-read stage's count,
    and on the sha-carrying stages its sha_crc_sum equals the aggregate
    recomputed over the re-read stage."""
    p = StagedPipeline(spark, warehouse, run_id="r1")
    p.run(lambda: C.corpus_from_documents(spark, sf_smoke))
    lin = {}
    for r in p.lineage().collect():
        assert r["stage"] not in lin, r["stage"]
        lin[r["stage"]] = r
    assert set(lin) == set(StagedPipeline.STAGES)
    for stage, r in lin.items():
        assert r["rows"] == p.read_stage(stage).count(), stage
    for stage in ("corpus", "mentions"):
        want = p.read_stage(stage).agg(
            F.sum(F.crc32("content_sha256")).cast("long")
        ).collect()[0][0]
        assert lin[stage]["sha_crc_sum"] == want, stage


def test_empty_stage_records_a_lineage_row(spark, warehouse):
    """An empty stage still gets its lineage row (rows = 0), so info()
    keeps the stage."""
    p = StagedPipeline(spark, warehouse, run_id="r1")
    p._write_stage("edges", _sha_frame(spark, 10).filter("id < 0"))
    lin = p.lineage().collect()
    assert [(r["stage"], r["rows"]) for r in lin] == [("edges", 0)]
    info = p.info().collect()
    assert [(r["stage"], r["rows"]) for r in info] == [("edges", 0)]
    assert info[0]["partitions"] >= 1


def test_stages_run_under_their_label(spark, warehouse, sf_smoke):
    """Each stage's jobs carry its name as the ``kg.stage`` local property:
    a task of the corpus stage sees "corpus". The label is gone after
    run(), and a caller's job group is left as it was."""

    @F.udf("string")
    def task_stage():
        return TaskContext.get().getLocalProperty(STAGE_PROPERTY)

    sc = spark.sparkContext
    p = StagedPipeline(spark, warehouse, run_id="r1")
    sc.setJobGroup("caller-group", "caller")
    try:
        out = p.run(lambda: C.corpus_from_documents(spark, sf_smoke)
                    .withColumn("task_stage", task_stage()))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    labels = {r[0] for r in out["corpus"].select("task_stage").distinct().collect()}
    assert labels == {"corpus"}
    assert sc.getLocalProperty(STAGE_PROPERTY) is None


def test_sha_row_level_invariant(spark, warehouse, sf_smoke):
    """Exact per-row sha equality corpus→mentions (stronger than the
    aggregate check)."""
    p = StagedPipeline(spark, warehouse, run_id="r1")
    out = p.run(lambda: C.corpus_from_documents(spark, sf_smoke))
    bad = (
        out["mentions"].alias("m")
        .join(out["corpus"].alias("c"), on="doc_id")
        .filter("m.content_sha256 <> c.content_sha256")
        .count()
    )
    assert bad == 0


def test_eval_harness(spark, warehouse, sf_smoke):
    p = StagedPipeline(spark, warehouse, run_id="r1")
    out = p.run(lambda: C.corpus_from_documents(spark, sf_smoke))
    gold = C.gold_mentions_from_documents(spark, sf_smoke)
    row = span_prf(out["mentions"], gold).collect()[0]
    assert row["precision"] == 1.0
    assert row["recall"] == 1.0
    assert row["f1"] == 1.0
    assert row["accuracy"] == 1.0  # reference bug: accuracy := precision
    assert row["n_pred"] == row["n_gold"] == row["matched"]
    # degraded prediction set → P/R drop accordingly
    half = out["mentions"].filter("doc_id % 2 = 0")
    r2 = span_prf(half, gold).collect()[0]
    assert r2["precision"] == 1.0
    assert 0.4 < r2["recall"] < 0.6
