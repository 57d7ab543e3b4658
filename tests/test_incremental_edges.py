"""Incremental KG construction (round 4): streaming edge-delta merge into a
snapshot-versioned warehouse table must converge to exactly the batch
``build_edges`` result, and a replayed micro-batch (foreachBatch re-executes
its last batch after a failure) must be a no-op, not a double-count."""

from pyspark.sql import functions as F

from extract_address_ner_spark import entry_queries_streaming as ES
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.link import build_edges
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.sources import corpus as C


def _edge_rows(df):
    return sorted(
        map(tuple, df.select("subj", "pred", "obj", "confidence").collect())
    )


def test_streaming_edges_equals_batch(spark, sf_smoke):
    """The driver query end-to-end: three drops through streaming
    extraction + foreachBatch merge == one batch build_edges pass."""
    batch = build_edges(
        canonicalize_mentions(
            road_address_gate(
                extract_mentions(C.corpus_from_documents(spark, sf_smoke))
            )
        )
    )
    streamed = ES.q_streaming_edges(spark, sf_smoke)
    assert _edge_rows(streamed) == _edge_rows(batch)


def test_merge_replay_is_idempotent(spark, sf_smoke, tmp_path):
    """merge_edge_snapshot is max-merge: re-running a batch against the
    snapshot it already produced changes nothing, and drop order does not
    change the final table."""
    corpus = C.corpus_from_documents(spark, sf_smoke)

    def delta(part):
        return build_edges(
            canonicalize_mentions(
                road_address_gate(
                    extract_mentions(corpus.filter(F.col("doc_id") % 2 == part))
                )
            )
        )

    root_a = str(tmp_path / "a")
    ES.merge_edge_snapshot(delta(0), root_a, 0)
    ES.merge_edge_snapshot(delta(1), root_a, 1)
    final_a = _edge_rows(ES.read_edge_snapshot(spark, root_a))

    # replay of batch 1 (same delta, same id) must reproduce v1 exactly
    ES.merge_edge_snapshot(delta(1), root_a, 1)
    assert _edge_rows(ES.read_edge_snapshot(spark, root_a)) == final_a

    # reversed drop order converges to the same final table
    root_b = str(tmp_path / "b")
    ES.merge_edge_snapshot(delta(1), root_b, 0)
    ES.merge_edge_snapshot(delta(0), root_b, 1)
    assert _edge_rows(ES.read_edge_snapshot(spark, root_b)) == final_a


def test_snapshot_diff_reads_the_versioned_table(spark, sf_smoke, tmp_path):
    """snapshot_diff over merge_edge_snapshot's versions: additions are
    exactly the edges the later drop introduced, nothing is removed by a
    pure merge, and a synthetic removal IS reported (the diff is
    symmetric, not additions-only)."""
    corpus = C.corpus_from_documents(spark, sf_smoke)

    def delta(pred):
        return build_edges(
            canonicalize_mentions(
                road_address_gate(extract_mentions(corpus.filter(pred)))
            )
        )

    root = str(tmp_path / "w")
    ES.merge_edge_snapshot(delta("doc_id % 3 = 0"), root, 0)
    v0 = ES.read_edge_snapshot(spark, root)
    ES.merge_edge_snapshot(delta("doc_id % 3 != 0"), root, 1)
    v1 = ES.read_edge_snapshot(spark, root)

    d = {r["pred"]: r for r in ES.snapshot_diff(v0, v1).collect()}
    full = _edge_rows(delta("true"))
    old = _edge_rows(v0)
    assert all(r["n_removed"] == 0 for r in d.values())
    assert sum(r["n_new"] for r in d.values()) == len(full)
    added_expected = len(full) - len(old)
    assert sum(r["n_added"] for r in d.values()) == added_expected > 0

    # synthetic removal: drop one located_in edge from the new side
    import pyspark.sql.functions as F  # noqa: N812
    one = v1.filter("pred = 'located_in'").limit(1).collect()[0]
    pruned = v1.filter(
        ~((F.col("subj") == one["subj"]) & (F.col("pred") == one["pred"])
          & (F.col("obj") == one["obj"])))
    d2 = {r["pred"]: r for r in ES.snapshot_diff(v1, pruned).collect()}
    assert d2["located_in"]["n_removed"] == 1
    assert d2["located_in"]["n_added"] == 0


def _bucket_files(root, version):
    """{bucket: sorted parquet file paths} as resolved THROUGH the manifest."""
    import glob

    man = ES._read_manifest(root, version)
    return {
        b: sorted(glob.glob(f"{root}/{rel}/*.parquet"))
        for b, rel in man["buckets"].items()
    }


def test_merge_rewrites_only_touched_buckets(spark, sf_smoke, tmp_path):
    """VERDICT r04 #2: a merge's write amplification must be O(touched
    buckets), not O(table) — untouched buckets are not rewritten at all
    (the new manifest points at the PRIOR version's physical files), and
    the incremental version still reads as the complete merged table."""
    corpus = C.corpus_from_documents(spark, sf_smoke)

    def delta(pred):
        return build_edges(
            canonicalize_mentions(
                road_address_gate(extract_mentions(corpus.filter(pred)))
            )
        )

    root = str(tmp_path / "w")
    ES.merge_edge_snapshot(delta("true"), root, 0)
    files_v0 = _bucket_files(root, 0)

    # a one-subject delta touches exactly one subj-hash bucket
    one = ES.read_edge_snapshot(spark, root).limit(1).collect()[0]
    small = delta("true").filter(F.col("subj") == one["subj"])
    n_b = ES._read_manifest(root, 0)["n_buckets"]
    touched = {
        str(r[0]) for r in
        small.select(ES._edge_bucket(n_b)).distinct().collect()
    }
    assert len(touched) == 1
    ES.merge_edge_snapshot(small, root, 1)

    files_v1 = _bucket_files(root, 1)
    man_v1 = ES._read_manifest(root, 1)["buckets"]
    for b, rel in man_v1.items():
        if b in touched:
            assert rel.startswith("v1/"), (b, rel)
        else:
            # pointer reuse: the SAME physical files, not a copy
            assert rel.startswith("v0/"), (b, rel)
            assert files_v1[b] == files_v0[b]
    # and v1 still reads as the complete (unchanged, max-merge) table
    assert _edge_rows(ES.read_edge_snapshot(spark, root)) == _edge_rows(
        ES.read_edge_snapshot(spark, root, version=0)
    )


def test_expire_snapshots_keeps_referenced_versions(spark, sf_smoke, tmp_path):
    """Retention must be manifest-liveness aware: an expired COUNT of
    versions is kept, plus any older version a retained manifest still
    points into (incremental versions store only their touched buckets)."""
    corpus = C.corpus_from_documents(spark, sf_smoke)
    full = build_edges(
        canonicalize_mentions(road_address_gate(extract_mentions(corpus)))
    )
    root = str(tmp_path / "w")
    ES.merge_edge_snapshot(full, root, 0)
    one = ES.read_edge_snapshot(spark, root).limit(1).collect()[0]
    small = full.filter(F.col("subj") == one["subj"])
    ES.merge_edge_snapshot(small, root, 1)  # points into v0 for the rest
    ES.merge_edge_snapshot(small, root, 2)  # ditto
    before = _edge_rows(ES.read_edge_snapshot(spark, root))

    deleted = ES.expire_snapshots(root, keep=1)
    # v1 is prunable; v0 must SURVIVE retention because v2's manifest still
    # references its bucket files
    assert deleted == [1]
    assert ES._version_dirs(root) == [0, 2]
    assert _edge_rows(ES.read_edge_snapshot(spark, root)) == before

    # a full (all-bucket) rewrite makes the old chain unreferenced
    ES.merge_edge_snapshot(full, root, 3)
    deleted = ES.expire_snapshots(root, keep=1)
    assert set(deleted) == {0, 2}
    assert ES._version_dirs(root) == [3]
    assert _edge_rows(ES.read_edge_snapshot(spark, root)) == before


def test_empty_delta_merge_is_pointer_only(spark, sf_smoke, tmp_path):
    """A micro-batch with no valid mentions yields an EMPTY edge delta —
    the merge must still commit a complete, readable version (all buckets
    as pointers to the prior version, zero data rewritten)."""
    corpus = C.corpus_from_documents(spark, sf_smoke)
    full = build_edges(
        canonicalize_mentions(road_address_gate(extract_mentions(corpus)))
    )
    root = str(tmp_path / "w")
    ES.merge_edge_snapshot(full, root, 0)
    want = _edge_rows(ES.read_edge_snapshot(spark, root))
    ES.merge_edge_snapshot(full.filter("1 = 0"), root, 1)
    man = ES._read_manifest(root, 1)
    assert man["buckets"], "manifest lost the prior pointers"
    assert all(rel.startswith("v0/") for rel in man["buckets"].values())
    assert _edge_rows(ES.read_edge_snapshot(spark, root)) == want


def test_snapshot_read_runs_no_job(spark, sf_smoke, tmp_path, jobs_run_by):
    """Snapshot files hold exactly EDGE_SCHEMA (the merge casts confidence
    to double), so reading a snapshot takes that schema as given: building
    the read launches no schema-inference job."""
    corpus = C.corpus_from_documents(spark, sf_smoke)
    full = build_edges(
        canonicalize_mentions(road_address_gate(extract_mentions(corpus)))
    )
    root = str(tmp_path / "w")
    ES.merge_edge_snapshot(full, root, 0)
    snap, n_jobs = jobs_run_by(lambda: ES.read_edge_snapshot(spark, root))
    assert n_jobs == 0
    paths = [f"{root}/{rel}" for rel in ES._read_manifest(root, 0)["buckets"].values()]
    on_disk = spark.read.parquet(*paths).schema
    assert [(f.name, f.dataType) for f in on_disk] == [
        (f.name, f.dataType) for f in snap.schema
    ]
    assert _edge_rows(snap) == _edge_rows(full)


def test_replay_never_reads_its_own_version(spark, sf_smoke, tmp_path):
    """ADVICE r04: replay of batch N merges against the latest version
    STRICTLY BELOW N — even if v<N> exists with corrupt/partial content,
    replay regenerates it from the intact prior chain instead of reading
    the directory it is about to overwrite."""
    corpus = C.corpus_from_documents(spark, sf_smoke)
    full = build_edges(
        canonicalize_mentions(road_address_gate(extract_mentions(corpus)))
    )
    root = str(tmp_path / "w")
    half = full.filter(F.col("subj").isNotNull())
    ES.merge_edge_snapshot(half, root, 0)
    ES.merge_edge_snapshot(half, root, 1)
    want = _edge_rows(ES.read_edge_snapshot(spark, root))

    # corrupt v1 in-place (simulated mid-write crash leftovers), then replay
    import json
    import shutil

    shutil.rmtree(f"{root}/v1/data", ignore_errors=True)
    with open(f"{root}/v1/manifest.json", "w") as f:
        json.dump({"batch_id": 1, "n_buckets": 16, "buckets": {}}, f)
    ES.merge_edge_snapshot(half, root, 1)
    assert _edge_rows(ES.read_edge_snapshot(spark, root)) == want


def test_streaming_near_dedup_labels(spark, sf_smoke, tmp_path):
    """Round-5: NEAR-dup dedup-on-arrival end-to-end through a REAL
    availableNow stream (maxFilesPerTrigger=1 over three drops) — the
    foreachBatch body (``merge_dedup_labels``) maintains a snapshot-
    versioned label table via the durable band index; after the drain the
    latest labels equal the one-shot components over the FULL corpus and
    the keeper set equals ``dedup_near``. Then the foreachBatch failure
    mode: the last batch's label version is destroyed and the batch
    replayed with the same id — the replay regenerates it from the
    strictly-prior chain plus its own re-written corpus drop, identically."""
    import shutil

    from extract_address_ner_spark.entry_queries_data import dup_documents
    from extract_address_ner_spark.operators import dedup
    from extract_address_ner_spark.streaming.stream import (
        ensure_streaming_confs,
    )

    docs = dup_documents(spark, sf_smoke).select("doc_id", "text")
    in_dir = str(tmp_path / "in")
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    root = str(tmp_path / "dedup")
    ensure_streaming_confs(spark)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        stream.writeStream
        .foreachBatch(lambda df, bid: ES.merge_dedup_labels(df, root, bid))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = ES._version_dirs(f"{root}/labels")
    assert versions == [0, 1, 2], versions
    got = {r["doc_id"]: r["component_id"]
           for r in spark.read.parquet(f"{root}/labels/v2").collect()}
    want = {r["doc_id"]: r["component_id"]
            for r in dedup.connected_components(
                docs, dedup.lsh_verified_pairs(docs)).collect()}
    assert got == want
    keepers = {d for d, c in got.items() if d == c}
    assert keepers == {r["doc_id"] for r in dedup.dedup_near(docs).collect()}

    shutil.rmtree(f"{root}/labels/v2")
    ES.merge_dedup_labels(spark.read.parquet(f"{root}/corpus/v2"), root, 2)
    got2 = {r["doc_id"]: r["component_id"]
            for r in spark.read.parquet(f"{root}/labels/v2").collect()}
    assert got2 == got


def test_expire_label_snapshots_keeps_replay_floor(spark, sf_smoke, tmp_path):
    """Label-chain retention: newest K survive, older versions go, keep<2
    is refused (a replayed last batch reads the version before it), and
    band/corpus drops are untouched — after expiry a last-batch replay
    still regenerates identical labels from the retained chain."""
    import os
    import shutil

    import pytest

    from extract_address_ner_spark.entry_queries_data import dup_documents

    docs = dup_documents(spark, sf_smoke).select("doc_id", "text")
    root = str(tmp_path / "dedup")
    for part in range(3):
        ES.merge_dedup_labels(
            docs.filter(F.col("doc_id") % 3 == part), root, part)
    want = sorted(map(tuple,
                      spark.read.parquet(f"{root}/labels/v2").collect()))

    with pytest.raises(ValueError, match="keep"):
        ES.expire_label_snapshots(root, keep=1)
    assert ES.expire_label_snapshots(root, keep=2) == [0]
    assert ES._version_dirs(f"{root}/labels") == [1, 2]
    assert ES._version_dirs(f"{root}/bands") == [0, 1, 2]
    assert ES._version_dirs(f"{root}/corpus") == [0, 1, 2]

    # replay of the last batch against the retained chain is still exact
    shutil.rmtree(f"{root}/labels/v2")
    ES.merge_dedup_labels(spark.read.parquet(f"{root}/corpus/v2"), root, 2)
    got = sorted(map(tuple,
                     spark.read.parquet(f"{root}/labels/v2").collect()))
    assert got == want
    assert os.path.isdir(f"{root}/labels/v1")


def test_compact_band_index(spark, sf_smoke, tmp_path):
    """Band-index compaction: the probe's read set shrinks from O(batches)
    directories to keep+1 while the ROW SET is exactly preserved; the
    newest `keep` drops stay uncompacted (replay floor); re-running is a
    no-op; and a simulated crash (an original dir surviving next to the
    combined one) self-heals on the next compaction via the canonical
    dropDuplicates."""
    import shutil

    from extract_address_ner_spark.entry_queries_data import dup_documents

    docs = dup_documents(spark, sf_smoke).select("doc_id", "text")
    root = str(tmp_path / "dedup")
    for part in range(5):
        ES.merge_dedup_labels(
            docs.filter(F.col("doc_id") % 5 == part), root, part)

    def band_rows():
        vs = ES._version_dirs(f"{root}/bands")
        return sorted(map(tuple, spark.read.parquet(
            *[f"{root}/bands/v{v}" for v in vs]).dropDuplicates().collect()))

    before = band_rows()
    want_labels = sorted(map(tuple,
                             spark.read.parquet(f"{root}/labels/v4").collect()))

    assert ES.compact_band_index(spark, root, keep=2) == [0, 1]
    assert ES._version_dirs(f"{root}/bands") == [2, 3, 4]
    assert band_rows() == before
    assert ES.compact_band_index(spark, root, keep=2) == []  # no-op now

    # replay of the last batch probes the compacted index identically
    shutil.rmtree(f"{root}/labels/v4")
    ES.merge_dedup_labels(spark.read.parquet(f"{root}/corpus/v4"), root, 4)
    got_labels = sorted(map(tuple,
                            spark.read.parquet(f"{root}/labels/v4").collect()))
    assert got_labels == want_labels

    # crash sim: an already-merged original survives (rm step died) — the
    # next compaction absorbs the duplicate rows without changing the set
    spark.read.parquet(f"{root}/bands/v2").limit(50).write.parquet(
        f"{root}/bands/v1")
    assert ES.compact_band_index(spark, root, keep=2) == [1]
    assert ES._version_dirs(f"{root}/bands") == [2, 3, 4]
    assert band_rows() == before


def test_merge_dedup_labels_empty_batch(spark, sf_smoke, tmp_path):
    """A foreachBatch body must survive an EMPTY micro-batch (possible
    under non-availableNow triggers): the label chain advances with an
    unchanged table, the (empty) band/corpus drops stay readable, and a
    subsequent real batch merges normally."""
    from extract_address_ner_spark.entry_queries_data import dup_documents

    docs = dup_documents(spark, sf_smoke).select("doc_id", "text")
    root = str(tmp_path / "dedup")
    ES.merge_dedup_labels(docs.filter(F.col("doc_id") % 2 == 0), root, 0)
    v0 = sorted(map(tuple, spark.read.parquet(f"{root}/labels/v0").collect()))

    ES.merge_dedup_labels(docs.limit(0), root, 1)  # empty batch
    v1 = sorted(map(tuple, spark.read.parquet(f"{root}/labels/v1").collect()))
    assert v1 == v0
    assert ES._version_dirs(f"{root}/bands") == [0, 1]

    ES.merge_dedup_labels(docs.filter(F.col("doc_id") % 2 == 1), root, 2)
    got = {r["doc_id"]: r["component_id"]
           for r in spark.read.parquet(f"{root}/labels/v2").collect()}
    from extract_address_ner_spark.operators import dedup
    want = {r["doc_id"]: r["component_id"]
            for r in dedup.connected_components(
                docs, dedup.lsh_verified_pairs(docs)).collect()}
    assert got == want


def test_compact_band_index_rename_window_recovery(spark, sf_smoke, tmp_path):
    """The one dangerous compaction crash window — original displaced to
    .old, combined dir not yet published — must self-heal on the next
    probe read or compaction (code-review finding r05: without recovery,
    the index silently lost v<high>'s rows forever)."""
    import os

    from extract_address_ner_spark.entry_queries_data import dup_documents

    docs = dup_documents(spark, sf_smoke).select("doc_id", "text")
    root = str(tmp_path / "dedup")
    for part in range(4):
        ES.merge_dedup_labels(
            docs.filter(F.col("doc_id") % 4 == part), root, part)
    vs = ES._version_dirs(f"{root}/bands")

    def band_rows():
        cur = ES._version_dirs(f"{root}/bands")
        return sorted(map(tuple, spark.read.parquet(
            *[f"{root}/bands/v{v}" for v in cur]).dropDuplicates().collect()))

    before = band_rows()
    # simulate: crash between rename(final, .old) and rename(staged, final)
    os.rename(f"{root}/bands/v1", f"{root}/bands/v1.old")
    assert ES._version_dirs(f"{root}/bands") != vs  # the loss is real...
    ES._restore_displaced_bands(root)               # ...and healed
    assert ES._version_dirs(f"{root}/bands") == vs
    assert band_rows() == before

    # the heal also runs implicitly: displace again, then a REPLAY of the
    # last batch (the probe-read path) must see the full index
    os.rename(f"{root}/bands/v1", f"{root}/bands/v1.old")
    want = sorted(map(tuple,
                      spark.read.parquet(f"{root}/labels/v3").collect()))
    import shutil
    shutil.rmtree(f"{root}/labels/v3")
    ES.merge_dedup_labels(spark.read.parquet(f"{root}/corpus/v3"), root, 3)
    got = sorted(map(tuple,
                     spark.read.parquet(f"{root}/labels/v3").collect()))
    assert got == want
    assert ES._version_dirs(f"{root}/bands") == vs
