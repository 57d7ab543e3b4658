"""Round-6 optimization pins: every internals change must be result-
identical to the path it replaced (the driver's oracles only see sf0.01 —
these pins cover the switch points and edge cases directly).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from extract_address_ner_spark.operators import dedup
from extract_address_ner_spark.session import scale_partitions


EDGE_TEXTS = [
    "서울특별시 강남구 테헤란로 123번길 45 the fast key order sort table scan",
    "the fast key order sort table scan merge part window small hash",
    "DUP the fast key order sort table scan merge part window small hash",
    "one two",  # < k words → whole-text shingle
    "",  # empty → single empty shingle
    "  spaced   out   tokens   here   now  ",  # space runs
    None,  # NULL text
    "the fast key order sort table scan merge part window small hash",
    "a b c a b c a b c a b",  # repeated shingles: 3 distinct of 9
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(list(enumerate(EDGE_TEXTS, start=1)),
                                 "doc_id int, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _reference(text):
    """The word-shingle kernel's definition in plain Python: ``(sig, sh,
    simhash)`` of one text. Words come from split(" ") with empties
    dropped; a doc shorter than k words is one shingle of its words; each
    shingle's md5 hex gives h1 = hex[:15] and h2 = hex[15:30]."""
    n, k, m31 = dedup.N_HASHES, dedup.SHINGLE_K, dedup.M31
    if text is None:
        return [None] * n, None, 0
    words = [w for w in text.split(" ") if w]
    shingles = ([" ".join(words)] if len(words) < k else
                [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)])
    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in shingles]
    h = [(int(m[:15], 16), int(m[15:30], 16)) for m in hexes]
    sig = [min((h1 % m31 + j * (h2 % m31)) % m31 for h1, h2 in h)
           for j in range(n)]
    sh = sorted({(h1 % m31) << 31 | (h2 % m31) for h1, h2 in h})
    simhash = sum(
        1 << b for b in range(dedup.SIMHASH_BITS)
        if sum(1 if h1 >> b & 1 else -1 for h1, _ in h) > 0
    )
    return sig, sh, simhash


def test_minhash_arrow_matches_expr_signatures_and_bands(spark, docs):
    """_sig_frame's signature and shingle hashes, and simhash_signatures,
    equal the plain-Python definition on the edge docs; the band table
    bands those signatures."""
    frame = {r["doc_id"]: (r["_sig"], r["_sh"])
             for r in dedup._sig_frame(docs, "text", "doc_id").collect()}
    simhash = dict(dedup.simhash_signatures(docs).collect())
    for i, t in enumerate(EDGE_TEXTS, start=1):
        sig, sh, sim = _reference(t)
        assert frame[i] == (sig, sh), repr(t)
        assert simhash[i] == sim, repr(t)
    # concat_ws skips NULL elements: an all-NULL band hashes md5('')
    band_ref = sorted(
        (doc_id, b, hashlib.md5(",".join(
            str(v) for v in sig[b * dedup.BAND_SIZE:(b + 1) * dedup.BAND_SIZE]
            if v is not None).encode()).hexdigest())
        for doc_id, (sig, _) in sorted(frame.items())
        for b in range(dedup.N_HASHES // dedup.BAND_SIZE)
    )
    assert _rows(dedup.lsh_band_table(docs)) == band_ref
    # every doc emits 16 rows — the NULL-text doc emits NULL minhashes
    long_rows = _rows(dedup.minhash_signatures(docs))
    assert len(long_rows) == len(EDGE_TEXTS) * dedup.N_HASHES
    assert sum(1 for r in long_rows if r[2] is None) == dedup.N_HASHES


def test_minhash_batch_kernel_edge_cases():
    texts = [None, "", "a b", "a b c d", "a b c a b c a b c a b"]
    sigs, shs = dedup._minhash_batch(texts)
    for t, sig, sh in zip(texts, sigs, shs):
        ref_sig, ref_sh, _ = _reference(t)
        assert list(sig) == ref_sig, repr(t)
        assert (None if sh is None else list(sh)) == ref_sh, repr(t)
    assert shs[0] is None and list(sigs[0]) == [None] * dedup.N_HASHES
    # 2-word doc hashes the whole normalized text as ONE shingle
    m = hashlib.md5(b"a b").hexdigest()
    assert list(shs[2]) == [(int(m[:15], 16) % dedup.M31) << 31
                            | int(m[15:30], 16) % dedup.M31]
    # repeated shingles: 9 shingles, 3 distinct hashes
    assert len(shs[4]) == 3
    # an all-NULL batch still returns one row per text
    assert dedup._minhash_batch([None, None]) == (
        [[None] * dedup.N_HASHES] * 2, [None, None])


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
