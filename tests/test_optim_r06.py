"""Round-6 optimization pins: every internals change must be result-
identical to the path it replaced (the driver's oracles only see sf0.01 —
these pins cover the switch points and edge cases directly).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from extract_address_ner_spark.operators import dedup
from extract_address_ner_spark.session import scale_partitions


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "서울특별시 강남구 테헤란로 123번길 45 the fast key order sort table scan"),
        (2, "the fast key order sort table scan merge part window small hash"),
        (3, "DUP the fast key order sort table scan merge part window small hash"),
        (4, "one two"),  # < k words → whole-text shingle
        (5, ""),  # empty → single empty shingle
        (6, "  spaced   out   tokens   here   now  "),  # space runs
        (7, None),  # NULL text
        (8, "the fast key order sort table scan merge part window small hash"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_arrow_matches_expr_signatures_and_bands(docs):
    """The Arrow kernel behind _sig_frame is byte-identical to the SQL
    expression minhash_sig_expr, and the band table bands those exact
    signatures."""
    sig_arrow = _rows(dedup._sig_frame(docs, "text", "doc_id"))
    sig_expr = _rows(dedup.with_shingle_hashes(docs, "text").select(
        "doc_id", F.expr(dedup.minhash_sig_expr("_hs")).alias("_sig")))
    assert sig_arrow == sig_expr
    # concat_ws skips NULL elements: an all-NULL band hashes md5('')
    band_expr = sorted(
        (doc_id, b, hashlib.md5(",".join(
            str(v) for v in sig[b * dedup.BAND_SIZE:(b + 1) * dedup.BAND_SIZE]
            if v is not None).encode()).hexdigest())
        for doc_id, sig in sig_expr
        for b in range(dedup.N_HASHES // dedup.BAND_SIZE)
    )
    assert _rows(dedup.lsh_band_table(docs)) == band_expr
    # every doc emits 16 rows — the NULL-text doc emits NULL minhashes
    # (ANSI size(NULL) semantics of the expression path, mirrored exactly)
    long_rows = _rows(dedup.minhash_signatures(docs))
    assert len(long_rows) == 8 * dedup.N_HASHES
    assert sum(1 for r in long_rows if r[2] is None) == dedup.N_HASHES


def test_minhash_batch_kernel_edge_cases():
    out = dedup._minhash_sigs_batch([None, "", "a b", "a b c d"])
    assert list(out[0]) == [None] * dedup.N_HASHES
    assert out[1] is not None and len(out[1]) == dedup.N_HASHES
    # 2-word doc hashes the whole normalized text as ONE shingle
    m = hashlib.md5(b"a b").hexdigest()
    h1 = int(m[:15], 16) % dedup.M31
    assert out[2][0] == h1 % dedup.M31
    # 4-word doc: 2 shingles, sig[j] is the min over both
    assert len(out[3]) == dedup.N_HASHES


def test_connected_components_driver_fastpath_identity(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id int"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11), (9, 11)],
        "id_a int, id_b int",
    )
    dist = _rows(dedup.connected_components(docs, pairs))
    fast = _rows(dedup.connected_components(docs, pairs,
                                            driver_threshold=100))
    assert fast == dist
    # threshold smaller than the pair count → falls back, same result
    fb = _rows(dedup.connected_components(docs, pairs, driver_threshold=3))
    assert fb == dist


def test_dedup_near_fastpath_matches_distributed(spark, docs):
    d = docs.filter(F.col("text").isNotNull())
    kept_fast = _rows(dedup.dedup_near(d).select("doc_id"))
    kept_dist = _rows(
        dedup.dedup_near(d, driver_threshold=0).select("doc_id")
    )
    assert kept_fast == kept_dist
    # rows 2/3/8 form one near-dup cluster (exact 2≡8, near 3) → keeper 2
    ids = {r[0] for r in kept_fast}
    assert 2 in ids and 8 not in ids


def test_punct_translate_equals_regex_count(spark):
    """with_quality_score's punct count moved from the [^A-Za-z0-9 ] regex
    to a translate char map (round 6, ~5x) — pin the equivalence on
    punctuation, Hangul, astral (surrogate-pair) and empty inputs."""
    from extract_address_ner_spark.functions.textstats import (
        _CLEAN_CHARS,
        PUNCT_RE,
    )

    fix = spark.createDataFrame(
        [("a,b.c!",), ("한글 텍스트?",), ("",), ("eé🙂x 9",),
         ("ONLY clean Text 123 ",), ("\t\n",)],
        "text string",
    )
    bad = fix.selectExpr(
        f"length(translate(text, '{_CLEAN_CHARS}', '')) AS a",
        f"size(regexp_extract_all(text, '{PUNCT_RE}', 0)) AS b",
    ).filter("a != b").count()
    assert bad == 0


def test_scale_partitions_floors_and_noops(spark):
    low = spark.createDataFrame([(i,) for i in range(100)], "x int") \
        .coalesce(1)
    # explicit floor: repartitions, identical rows
    floored = scale_partitions(low, min_parts=8)
    assert floored.rdd.getNumPartitions() >= 8
    assert _rows(floored) == _rows(low)
    # adaptive mode: a tiny parquet input (size-based stats) stays on its
    # native layout — no exchange added
    import tempfile

    d = tempfile.mkdtemp(prefix="floor_probe_")
    low.coalesce(1).write.mode("overwrite").parquet(d)
    tiny = spark.read.parquet(d)
    assert scale_partitions(tiny).rdd.getNumPartitions() == \
        tiny.rdd.getNumPartitions()
    # an already-parallel input is never repartitioned
    high = spark.range(0, 1000, 1, 64)
    assert scale_partitions(high, min_parts=8).rdd.getNumPartitions() == 64
