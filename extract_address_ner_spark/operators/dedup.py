"""Deduplication operators: exact and near-duplicate doc collapse by word
shingles — the near-dup problem here is set similarity, never vectors.

Six families, each usable standalone and each with a driver-checked query
in entry_queries:

- exact:       sha256 content hash → groupBy (one shuffle on the hash; at
               100 TB this is the cheapest possible dedup — hash computed in
               the scan projection, map-side combine on the group).
- MinHash:     k-word shingles → n md5-derived min-hashes per doc — computed
               NARROW (no explode/shuffle until the band join) by ONE
               Arrow-batched kernel (hashlib md5 + NumPy), the only place
               word shingles are cut: it emits each doc's signature and
               its sorted distinct shingle hashes, which every family
               below reads.
- LSH:         banded minhash signatures → candidate pairs via an equi-join
               on (band_idx, band_signature) — the scale path for near-dup:
               candidates ∝ true duplicates, not n².
- n-gram Jaccard: exact verification on candidates (or, small-scale, on the
               shingle inverted index) — inter/union over distinct shingle
               hashes.
- SimHash:     16-bit sign-sum sketch over the same shingler and digests;
               hamming-distance pairing for near-dup.
- components:  connected components over the near-dup pair list — cluster
               collapse / keeper selection, the stage after pair generation
               in a real dedup. Two interchangeable algorithms: min-label
               propagation (O(diameter) rounds — dense near-dup clusters)
               and alternating large-star/small-star (O(log² n) worst case —
               chain-shaped components).

All hash material derives from md5 hex prefixes so DuckDB oracles reproduce
values exactly (cross-engine bridge: conv(substr(md5(x),1,15),16,10)).

Caching contract: operators that read one subplan more than once
(``lsh_candidate_pairs``, ``jaccard_pairs``, ``simhash_near_pairs``, and
the signature frame of ``lsh_verified_pairs``, ``similar_docs`` and
``jaccard_verify``) persist() that subplan so the shingle/sketch work runs
once, and the blocks stay cached after the result is materialized (the
laziness of the returned DataFrame means the operator itself cannot know
when it is safe to unpersist). Storage is MEMORY_AND_DISK and
LRU-evictable, so correctness is never at risk, but LONG-LIVED sessions
issuing many dedup calls have two escape hatches:

- ``dedup_cache_scope()`` (the library-friendly one): a context manager that
  collects every subplan these operators persist while it is active and
  unpersists them all on exit. Materialize the result INSIDE the scope::

      with dedup_cache_scope():
          pairs = lsh_verified_pairs(docs).collect()
      # no residual cached blocks here

- ``spark.catalog.clearCache()`` between workloads (it also clears caches
  the caller made, so it is the blunt instrument).

``connected_components`` checkpoints its pair list once and its label
table every round (``localCheckpoint`` — lineage truncation, see its
docstring) and unpersists its persisted edge list and initial labels
itself. Checkpoint blocks, the final label table's included, are not
scope-registered: GC and the ContextCleaner release them once the
returned DataFrame is dereferenced, not a ``dedup_cache_scope`` exit.
"""

from __future__ import annotations

import contextlib
import hashlib
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Active dedup_cache_scope registries (a stack — scopes can nest; every
# active scope sees the persist so nesting never leaks). THREAD-LOCAL:
# scopes opened on one thread must never capture (and later unpersist)
# caches another thread sharing the SparkSession is still using.
_TLS = threading.local()


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_TLS, "stack"):
        _TLS.stack = []
    return _TLS.stack


def _persist(df: DataFrame) -> DataFrame:
    """persist() that registers with any active dedup_cache_scope on THIS
    thread so the scope can unpersist it on exit."""
    df = df.persist()
    for scope in _scopes():
        scope.append(df)
    return df


@contextlib.contextmanager
def dedup_cache_scope():
    """Unpersist every subplan the dedup operators cached while the scope
    was active. Results must be materialized (collected / written) inside
    the scope — after exit their cached inputs are released and a re-run
    would recompute them (correct, just slower)."""
    scope: list[DataFrame] = []
    stack = _scopes()
    stack.append(scope)
    try:
        yield
    finally:
        # remove by IDENTITY, not equality — two scopes' lists compare ==
        # whenever they hold the same DataFrames (or are both empty), and
        # list.remove would pop the OUTER scope's list from under a nested
        # scope, leaking its persists and raising on the outer exit
        for i, sc in enumerate(stack):
            if sc is scope:
                del stack[i]
                break
        for df in scope:
            df.unpersist()

N_HASHES = 16
BAND_SIZE = 4
SHINGLE_K = 3

#: Recommended PRODUCTION bucket cap for lsh_candidate_pairs /
#: lsh_verified_pairs (the correctness default stays None = exact
#: semantics). Measured trade-off (BENCH.md round-4 table): on the
#: sf0.1 planted-duplicate corpus, recall vs exact Jaccard is 1.0000 at
#: cap ∈ {None, 200, 50} — every pair in a capped bucket still meets in
#: one of its other n_bands-1 buckets (pinned ≥ 0.99 by pytest) — while
#: the cap bounds the worst-case m²/2 pair blowup of a boilerplate bucket
#: (the stress corpus in tests/test_datapipeline.py shows the blowup the
#: cap exists to stop).
DEFAULT_MAX_BUCKET_SIZE = 200


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(content_sha256, n_copies, keeper_id) per distinct content; keeper is
    the minimum id (deterministic)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_sha256"), id_col)
        .groupBy("content_sha256")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly the keeper row of each content group (min id)."""
    keepers = exact_dup_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# shingles + minhash: one Arrow kernel
# --------------------------------------------------------------------------

# Minhash family: DOUBLE HASHING (Kirsch-Mitzenmacher) — two independent
# 60-bit values h1, h2 from ONE md5 per shingle (hex chars 1-15 and 16-30),
# each reduced mod the Mersenne prime M31; family j is (h1 + j·h2) mod M31.
# An affine family over ONE base hash correlated the families in a band
# (20k distinct docs: 35,773 accidental candidates vs 600 with double
# hashing). Products stay < 2^36, so the int64 arithmetic is exact.
M31 = 2147483647


def _shingle_digests(texts):
    """The one word shingler: cut each text of ONE Arrow batch into
    ``SHINGLE_K``-word shingles and md5 each once. Returns int64 arrays
    ``(counts, h1, h2)``: shingles per text (-1 for NULL) and, over all
    shingles in order, the 60-bit hash halves ``conv(substr(md5_hex, 1,
    15), 16, 10)`` and ``conv(substr(md5_hex, 16, 15), 16, 10)`` that the
    DuckDB oracles compute. Words come from ``text.split(" ")`` with
    empties dropped (tabs/newlines stay inside tokens); a doc shorter than
    k words is one shingle of its words, so every non-NULL doc has ≥ 1.
    Python, not SQL: Spark's higher-order functions run interpreted, and
    the SQL shingle + md5 fold measured ~7× slower than hashlib + NumPy."""
    md5 = hashlib.md5
    fb = int.from_bytes
    m60 = (1 << 60) - 1
    counts: list[int] = []
    h1l: list[int] = []
    h2l: list[int] = []
    ap1, ap2 = h1l.append, h2l.append
    for text in texts:
        if text is None:
            counts.append(-1)
            continue
        # encode words ONCE (each word sits in up to k shingles — hashing
        # the UTF-8 byte concatenation equals encoding the joined string)
        words = [w.encode("utf-8") for w in text.split(" ") if w]
        if len(words) < SHINGLE_K:
            sh = [b" ".join(words)]
        else:
            sh = [b" ".join(t)
                  for t in zip(*[words[i:] for i in range(SHINGLE_K)])]
        counts.append(len(sh))
        for s in sh:
            # digest bytes, not hexdigest: hex chars [0,15) are the first
            # 60 bits (d[:8] >> 4), chars [15,30) the next 60 (low 60 bits
            # of d[7:15])
            d = md5(s).digest()
            ap1(fb(d[:8], "big") >> 4)
            ap2(fb(d[7:15], "big") & m60)
    return (np.asarray(counts, dtype=np.int64),
            np.asarray(h1l, dtype=np.int64), np.asarray(h2l, dtype=np.int64))


def _minhash_batch(texts, n_hashes: int = N_HASHES):
    """MinHash signature and shingle set of every text of ONE Arrow batch:
    ``(sigs, shs)``, per text a length-``n_hashes`` signature —
    ``sig[j] = min over shingles of (h1 + j·h2) mod M31`` — and the sorted
    distinct shingle hashes ``(h1 % M31) << 31 | (h2 % M31)`` (62 bits).
    A NULL text gets ``[None] * n_hashes`` (its band rows then hash
    ``md5('')``, as the DuckDB oracle's ``concat_ws`` does) and NULL
    hashes. Two distinct shingles collide on all 62 bits with probability
    ~2^-62, so Jaccard over the hashes equals Jaccard over the strings
    short of a ~10^-15-per-pair chance."""
    counts, h1, h2 = _shingle_digests(texts)
    sigs: list = [[None] * n_hashes] * len(counts)
    shs: list = [None] * len(counts)
    live = np.flatnonzero(counts >= 0)
    if not live.size:
        return sigs, shs
    n = counts[live]
    starts = np.cumsum(n) - n
    h1, h2 = h1 % M31, h2 % M31
    j = np.arange(n_hashes, dtype=np.int64)
    mins = np.minimum.reduceat((h1[:, None] + j * h2[:, None]) % M31,
                               starts, axis=0)
    # per-doc sort + dedupe in one pass: order by (doc, hash), keep the
    # first of each run, then cut at the doc boundaries
    doc = np.repeat(np.arange(live.size), n)
    packed = (h1 << 31) | h2
    order = np.lexsort((packed, doc))
    packed, doc = packed[order], doc[order]
    first = np.ones(packed.size, dtype=bool)
    first[1:] = (packed[1:] != packed[:-1]) | (doc[1:] != doc[:-1])
    packed, doc = packed[first], doc[first]
    parts = np.split(packed, np.flatnonzero(np.diff(doc)) + 1)
    for pos, i in enumerate(live):
        sigs[i], shs[i] = mins[pos], parts[pos]
    return sigs, shs


def _sig_frame(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = N_HASHES
) -> DataFrame:
    """(id, _sig array<bigint>, _sh array<bigint>): each doc's MinHash
    signature and sorted distinct shingle hashes, from ONE Arrow-batched
    pass of ``_minhash_batch`` — the only place word shingles are cut.
    Every word-shingle operator reads this frame; a caller that needs both
    columns persists it so the kernel runs once."""

    def _fn(texts: pd.Series) -> pd.DataFrame:
        sigs, shs = _minhash_batch(texts.tolist(), n_hashes)
        return pd.DataFrame({"_sig": sigs, "_sh": shs})

    udf = F.pandas_udf(_fn, "struct<_sig:array<bigint>,_sh:array<bigint>>")
    return df.select(id_col, udf(F.col(text_col)).alias("_k")).select(
        id_col, "_k._sig", "_k._sh"
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Long format (id, h_idx, minhash) — the driver-checkable projection of
    the signature matrix."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(df.sparkSession)
    return (
        _sig_frame(df, text_col, id_col, n_hashes)
        .select(id_col, F.posexplode("_sig").alias("h_idx", "minhash"))
    )


def _bands(
    sigs: DataFrame, id_col: str, n_hashes: int, band_size: int
) -> DataFrame:
    """(id, band_idx, band_sig) from a ``_sig_frame``: one row per band,
    the band's signature slice md5-ed."""
    n_bands = n_hashes // band_size
    return sigs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> md5(concat_ws(',', slice(_sig, b * {band_size} + 1, {band_size}))))"
            )
        ).alias("band_idx", "band_sig"),
    )


def lsh_band_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_HASHES, band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band_idx, band_sig): each doc's banded MinHash signature, one
    row per band — the LSH bucket membership table that
    ``lsh_candidate_pairs`` self-joins."""
    return _bands(_sig_frame(df, text_col, id_col, n_hashes), id_col,
                  n_hashes, band_size)


def _cap_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop the LSH buckets holding more than ``max_bucket_size`` docs
    (None keeps every bucket): one aggregation on the SAME key the pair
    join shuffles on (the exchange is reused), then a filter — buckets
    above the cap never reach the join. See ``lsh_candidate_pairs``."""
    if max_bucket_size is None:
        return bands
    sizes = bands.groupBy("band_idx", "band_sig").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    return (
        bands.join(sizes, ["band_idx", "band_sig"])
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def _bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """(id_a < id_b) for every two docs sharing a bucket: one equi-join
    keyed on (band_idx, band_sig)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_HASHES, band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b): docs agreeing on ALL hashes
    of any band meet in a bucket. One equi-join keyed on (band_idx,
    band_sig) — skew-safe via AQE; bucket sizes are bounded by duplicate
    cluster sizes, not corpus size.

    ``max_bucket_size``: drop buckets holding more than this many docs
    BEFORE the self-join. The realistic failure of banded LSH on code/web
    corpora is a boilerplate bucket (shared license header, template page):
    a bucket of m docs emits m²/2 candidate pairs in ONE join group, so a
    single hot bucket holding 10% of a 100 TB corpus is quadratic output,
    not a skew-rebalance problem — AQE can split the straggler task but
    cannot shrink the pair count. Capping is the standard production fix
    (pairs within a dropped bucket can still meet in their other n_bands-1
    buckets). Default None = exact semantics (every bucket joined)."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(df.sparkSession)
    # the self-join would recompute the signature DAG for each side —
    # persist (LRU-evictable) so the kernel runs once
    bands = _persist(_cap_buckets(
        lsh_band_table(df, text_col, id_col, n_hashes, band_size),
        max_bucket_size,
    ))
    return _bucket_pairs(bands, id_col)


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard for every pair sharing ≥1 shingle, filtered to
    J ≥ threshold. Shuffle keyed on shingle hash (inverted index) then on
    the pair — at 100 TB this runs on LSH candidates instead of the full
    index (compose: lsh_candidate_pairs → semi-join this)."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(df.sparkSession)
    toks = _sig_frame(df, text_col, id_col).select(
        id_col, F.explode("_sh").alias("shingle")
    )
    toks = _persist(toks)  # consumed 3x: both join sides + counts
    counts = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard(sa: str, sb: str):
    """4-dp Jaccard of two distinct-shingle-hash array columns."""
    n_inter = F.size(F.array_intersect(sa, sb))
    return F.round(n_inter / (F.size(sa) + F.size(sb) - n_inter), 4
                   ).cast("double")


def lsh_verified_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = N_HASHES, band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """THE 100 TB near-dup path: banded-LSH candidate generation composed
    with exact shingle-Jaccard verification on candidates only. Unlike
    ``jaccard_pairs`` (inverted-index join — cost scales with shingle
    co-occurrence, i.e. corpus size), verification here touches only pairs
    LSH already bucketed together, so total cost scales with the duplicate
    volume. Jaccard is computed per candidate pair from the two docs'
    distinct shingle hashes (array_intersect), matching jaccard_pairs'
    values exactly on shared pairs.

    The signature frame is computed ONCE and persisted: its ``_sig``
    column feeds the band table, its ``_sh`` column the verify gathers —
    so each doc is shingled and hashed by one kernel pass.
    ``max_bucket_size`` caps boilerplate buckets (see
    ``lsh_candidate_pairs``)."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(df.sparkSession)
    frame = _persist(_sig_frame(df, text_col, id_col, n_hashes))
    bands = _cap_buckets(_bands(frame, id_col, n_hashes, band_size),
                         max_bucket_size)
    cand = _persist(_bucket_pairs(bands, id_col))
    return _verified(frame, cand, id_col, threshold)


def similar_docs(
    df: DataFrame, queries: DataFrame, k: int = 10,
    text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_HASHES, band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Textual similarity SEARCH over the corpus — the serving read of the
    MinHash-LSH machinery: for each query doc, the top-``k`` most-similar
    corpus docs as ``(query_id, doc_id, jaccard, rank)``, by exact
    shingle-Jaccard over LSH-candidate docs only. The "find documents like
    this one" read a training-data pipeline needs next after dedup — e.g.
    expanding one contaminated/flagged document into its whole near-dup
    family.

    Scale shape (100 TB corpus, handful-to-thousands of queries):

    - The corpus is scanned ONCE: one persisted signature frame feeds both
      its band table and the verification side; the query frame (n_bands
      band rows per query) is broadcast, so candidate generation is a
      map-side BroadcastHashJoin — no corpus self-join, no corpus shuffle.
    - Exact Jaccard runs on candidates only (same candidate-bounded cost
      argument as ``lsh_verified_pairs``).
    - The per-query top-k window sees only that query's candidates —
      bounded by its duplicate family, never the corpus.
    - ``max_bucket_size`` (default None = exact) drops boilerplate buckets
      before the probe, same trade-off as ``lsh_candidate_pairs``.

    Ranking is deterministic cross-engine: jaccard is 4-dp-rounded FIRST
    (integer-count ratios — both engines compute the identical double) and
    ties break on ascending doc id. Queries drawn from the corpus never
    match themselves (``doc_id != query_id``)."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(df.sparkSession)
    frame = _persist(_sig_frame(df, text_col, id_col, n_hashes))
    bands = _cap_buckets(_bands(frame, id_col, n_hashes, band_size),
                         max_bucket_size)
    q = _persist(_sig_frame(queries, text_col, id_col, n_hashes)
                 ).withColumnRenamed(id_col, "query_id")
    q_bands = _bands(q, "query_id", n_hashes, band_size)
    cand = (
        bands.join(F.broadcast(q_bands), ["band_idx", "band_sig"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    corpus_sh = frame.select(id_col, F.col("_sh").alias("_sb"))
    q_sh = q.select("query_id", F.col("_sh").alias("_sa"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), F.asc(id_col)
    )
    return (
        cand.join(corpus_sh, id_col)
        .join(F.broadcast(q_sh), "query_id")
        .withColumn("jaccard", _jaccard("_sa", "_sb"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "jaccard",
                F.col("rank").cast("int").alias("rank"))
    )


def _verified(
    frame: DataFrame, cand: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) for the candidate pairs, reading
    both endpoints' ``_sh`` from a signature frame. Each input is read
    twice: pass both persisted. The two endpoints are gathered by TWO
    INDEPENDENT id-keyed joins whose halves then join on (id_a, id_b), so
    array payloads shuffle ∝ candidates only (a serial cand⋈a⋈b chain
    re-shuffled the growing intermediate: 3.65s → 2.93s at sf1.0)."""
    r1 = frame.join(cand, frame[id_col] == cand["id_a"]).select(
        "id_a", "id_b", F.col("_sh").alias("_sa")
    )
    r2 = frame.join(cand, frame[id_col] == cand["id_b"]).select(
        F.col("id_a").alias("_ia"), F.col("id_b").alias("_ib"),
        F.col("_sh").alias("_sb"),
    )
    return (
        r1.join(
            r2,
            (r1["id_a"] == r2["_ia"]) & (r1["id_b"] == r2["_ib"]),
        )
        .withColumn("jaccard", _jaccard("_sa", "_sb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify(
    df: DataFrame, cand: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard verification of a given candidate pair list
    (id_a, id_b) against the corpus — the back half of
    ``lsh_verified_pairs`` on its own. It computes its own signature
    frame; ``lsh_verified_pairs`` shares one frame between its band table
    and verification instead."""
    cand = _persist(cand.select("id_a", "id_b"))  # both gathers + pair join
    frame = _persist(_sig_frame(df, text_col, id_col).select(id_col, "_sh"))
    return _verified(frame, cand, id_col, threshold)


# --------------------------------------------------------------------------
# near-dup connected components (cluster collapse / keeper selection)
# --------------------------------------------------------------------------

def _unionfind_remap(spark, rows, id_type: T.DataType) -> DataFrame:
    """Driver-side union-find over a bounded pair list: returns the
    ``(_old, _new)`` DataFrame mapping every non-root member to its root,
    roots being the MIN id of each component — exactly the min-label CC
    contract. The bounded fast path of ``connected_components``."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row["id_a"]), find(row["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    remap = [(n, r) for n in parent if (r := find(n)) != n]
    schema = T.StructType([
        T.StructField("_old", id_type),
        T.StructField("_new", id_type),
    ])
    return spark.createDataFrame(remap, schema)


def connected_components(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iter: int = 25, driver_threshold: int = 0,
) -> DataFrame:
    """(doc_id, component_id): connected components over a near-dup pair
    list, component_id = min doc id in the component (deterministic);
    singletons label themselves. This is the stage a 100 TB dedup actually
    needs after pair generation — pairs don't pick keepers, clusters do.

    Algorithm: iterative min-label propagation (each round, every node takes
    the min of its own label and its neighbors' labels) — converges in
    O(component diameter) rounds; near-dup clusters are small and dense
    (diameter 1-3), so a handful of bounded shuffles, each keyed on the node
    id. The pair list is ``localCheckpoint``-ed once at entry, so a lazy
    generator (MinHash → LSH → verify) runs once however many times the
    loop reads it; each round's label table is ``localCheckpoint``-ed too,
    which cuts its lineage (every round's plan references the previous
    labels twice, so without the cut the plan grows at least 2^rounds and
    the driver runs out of memory planning and rendering it); convergence
    = no node's label changed this round, detected by an EXISTENCE check
    (limit(1) short-circuit) on a ``_changed`` flag computed INLINE with
    the label update
    (``min_incoming < own`` — round 5: the previous formulation joined the
    new label table back to the old one, a second O(nodes) join per round
    that the flag makes unnecessary at any scale). Round-3
    change (ADVICE r02): the previous sum-of-labels checksum silently
    assumed a numeric id column — with string ids F.sum returns NULL (or
    raises under ANSI) and None == None exited after one round,
    under-merging; huge numeric ids could also overflow the ANSI sum. The
    flag comparison works for any orderable id type. ``max_iter`` bounds
    pathological chain-shaped graphs: if the last allowed round still
    changed a label, this raises ``RuntimeError`` rather than return a
    partial labelling. For those graphs (long drift series where
    each doc is near-dup only of its neighbor) use
    ``connected_components_star``, the large-star/small-star variant that
    converges in ~log₂(chain) rounds; near-dup graphs are usually dense
    enough (diameter 1-3) that plain propagation wins on constant factors."""
    # One eager checkpoint of the pair list: the driver-path probe and both
    # sides of the edge union read it, never the generator's plan again.
    pairs = pairs.select("id_a", "id_b").localCheckpoint()
    # Bounded driver fast path (round 6, opt-in via driver_threshold > 0):
    # when the pair list holds at most driver_threshold edges, one
    # limit(threshold+1).collect() + union-find replaces the whole
    # propagation loop (per-round join/aggregate/convergence-probe jobs are
    # pure fixed overhead at small pair counts — measured ~3-4s for 23k
    # pairs at sf1.0). The collect is BOUNDED (threshold+1 rows), an
    # oversized pair list falls back to the distributed loop below at the
    # cost of that one probe action, and the result is pytest-pinned
    # identical between the paths.
    if driver_threshold > 0:
        rows = pairs.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            remap = _unionfind_remap(docs.sparkSession, rows,
                                     docs.schema[id_col].dataType)
            return docs.select(id_col).join(
                F.broadcast(remap),
                F.col(id_col) == F.col("_old"), "left"
            ).select(
                id_col,
                F.coalesce(F.col("_new"), F.col(id_col)).alias("component_id"),
            )
    # Round-4 per-round shuffle diet: edges are pre-partitioned on the
    # message SOURCE key and labels on the node key, both with the session
    # shuffle-partition count, and both CACHED or CHECKPOINTED — either
    # preserves its outputPartitioning, so every round's edge⋈label join
    # and the label⋈min-message merge plan with ZERO new exchange
    # (pinned by tests/test_plans.py). The only per-round shuffle left is
    # the message aggregation itself — ∝ |edges|, never ∝ |nodes|. The
    # previous union+groupBy formulation re-shuffled the FULL label table
    # (O(nodes)) every round; at 100 TB that dominates.
    edges = _persist(
        pairs.select(F.col("id_a").alias("_u"), F.col("id_b").alias("_v"))
        .union(pairs.select(F.col("id_b").alias("_u"), F.col("id_a").alias("_v")))
        .repartition(F.col("_u"))
    )
    labels = _persist(
        docs.select(F.col(id_col).alias("_id"), F.col(id_col).alias("_lab"))
        .repartition(F.col("_id"))
    )
    for _ in range(max_iter):
        msgs = edges.join(
            labels, edges["_u"] == labels["_id"]
        ).select(F.col("_v").alias("_id"), "_lab")
        min_msgs = msgs.groupBy("_id").agg(F.min("_lab").alias("_m"))
        # new label = min(own, min incoming): identical to the
        # union+groupBy(min) formulation, but labels stay put. _changed is
        # computed inline (min incoming strictly improves the label), so
        # convergence needs NO second O(nodes) join — just an existence
        # scan of this round's checkpointed labels. Next round's joins
        # project the flag away for free.
        new_labels = (
            labels.join(min_msgs, "_id", "left").select(
                "_id",
                F.least(
                    F.col("_lab"), F.coalesce(F.col("_m"), F.col("_lab"))
                ).alias("_lab"),
                F.coalesce(
                    F.col("_m") < F.col("_lab"), F.lit(False)
                ).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("_changed").limit(1).count()
        # releases round 0's persisted table; checkpoints are reclaimed by
        # GC + the ContextCleaner once dereferenced (a no-op for them)
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; raise max_iter or use "
            f"connected_components_star"
        )
    edges.unpersist()
    out = labels.select(
        F.col("_id").alias(id_col), F.col("_lab").alias("component_id")
    )
    return out


def connected_components_star(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iter: int = 50, stats: dict | None = None,
) -> DataFrame:
    """(doc_id, component_id): connected components via ALTERNATING
    LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the chain-safe variant of
    ``connected_components``. Same output contract: component_id = min doc
    id in the component, singletons label themselves.

    Why it exists: plain min-label propagation converges in O(component
    DIAMETER) rounds — fine for near-dup clusters (diameter 1-3) but O(n)
    on a chain-shaped component (pairwise-similar drift series, where each
    doc is within threshold of its neighbor only). Star contraction
    restructures the graph itself each round — large-star hooks every
    node's larger neighbors directly onto the minimum of its neighborhood,
    small-star flattens the smaller neighbors — so path lengths collapse
    geometrically: O(log² n) rounds worst-case, ~log₂(chain length)
    observed (pinned by tests/test_datapipeline.py on a 200-node chain).

    Each round is two bounded shuffle stages (a groupBy-min keyed on the
    node + an equi-join on the same key — AQE-handled, no cross join, no
    window), and edges stay in canonical (u > v) form throughout. The
    per-round edge set is ``localCheckpoint``-ed (eager): unlike persist(),
    checkpointing TRUNCATES the logical plan, which is load-bearing for
    this algorithm — the edge expression references the previous round's
    ~5 times, so without truncation Catalyst re-analyzes a plan tree that
    grows ~5^rounds and the driver, not the cluster, becomes the
    bottleneck. (The propagation variant checkpoints its labels every
    round for the same reason: its fan-out is only 2, but with persist()
    an 8-round chain already exhausted a 4g driver heap.) Checkpoint
    blocks are executor-local storage, dereferenced each round and
    reclaimed by the ContextCleaner; on a real cluster with flaky
    executors you'd point this at reliable checkpoint storage instead.
    Convergence = the edge set reached a fixed point (stars), checked by
    two left-anti existence probes over the two checkpointed sets that
    short-circuit at the first differing edge; if round ``max_iter`` still
    changed the edge set, this raises ``RuntimeError``. ``stats``, if given,
    receives ``{"rounds": n_rounds_run}`` so callers/tests can assert the
    round bound."""
    e = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def sym(edges: DataFrame) -> DataFrame:
        return edges.select(F.col("u").alias("x"), F.col("v").alias("nbr")).union(
            edges.select(F.col("v").alias("x"), F.col("u").alias("nbr"))
        )

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # LARGE-STAR: every node x computes m = min(neighborhood(x) ∪ {x})
        # and hooks each STRICTLY LARGER neighbor onto m.
        s = sym(e)
        mins = (
            s.groupBy("x")
            .agg(F.min("nbr").alias("_mn"))
            .select("x", F.least("x", "_mn").alias("m"))
        )
        large = (
            s.join(mins, "x")
            .filter(F.col("nbr") > F.col("x"))
            .select(F.col("nbr").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # feeds small-star's sym twice
        )
        # SMALL-STAR: every node x hooks itself and all of its SMALLER
        # neighbors onto the minimum of those smaller neighbors.
        s2 = sym(large).filter(F.col("nbr") < F.col("x"))
        mins2 = s2.groupBy("x").agg(F.min("nbr").alias("m"))
        new_e = (
            s2.join(mins2, "x")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("nbr").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # fixed point iff edge sets are equal — two short-circuiting
        # existence probes (both sides checkpointed, canonical (u>v) form)
        changed = (
            new_e.join(e, ["u", "v"], "left_anti").limit(1).count()
            + e.join(new_e, ["u", "v"], "left_anti").limit(1).count()
        )
        e = new_e
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: edge set still changing after "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixed point every edge is (node, component_min); centers and
    # singletons appear only on the v side / not at all → label themselves
    parents = e.groupBy(F.col("u").alias(id_col)).agg(
        F.min("v").alias("_parent")
    )
    return (
        docs.select(id_col)
        .join(parents, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_parent"), F.col(id_col)).alias("component_id"),
        )
    )


def dedup_near(
    docs: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8, driver_threshold: int = 100_000,
) -> DataFrame:
    """END-TO-END near-dedup: keep exactly one representative (the min-id
    keeper) per near-duplicate component. Composes the full production
    chain — banded LSH candidates → Jaccard verification → connected
    components → keeper semi-join — as one operator. The semi-join back to
    the corpus is keyed on the id (broadcast-able keeper side when
    duplicates are sparse).

    ``driver_threshold``: bounded union-find fast path for small verified
    pair lists (see ``connected_components``); identical output, falls back
    to the distributed loop past the threshold."""
    pairs = lsh_verified_pairs(docs, text_col, id_col, threshold=threshold)
    comp = connected_components(
        docs, pairs, id_col, driver_threshold=driver_threshold
    )
    keepers = comp.filter(F.col(id_col) == F.col("component_id")).select(id_col)
    return docs.join(keepers, id_col, "left_semi")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash bigint): a ``SIMHASH_BITS``-bit sign-sum sketch over
    the word shingles of ``_shingle_digests`` — bit b is set iff more
    shingles (repeats counted) have bit b of their 60-bit h1 set than
    clear. A NULL text gets 0. One Arrow-batched pass, like
    ``_sig_frame``."""

    def _fn(texts: pd.Series) -> pd.Series:
        counts, h1, _ = _shingle_digests(texts.tolist())
        out = np.zeros(len(counts), dtype=np.int64)
        live = np.flatnonzero(counts >= 0)
        if live.size:
            n = counts[live]
            b = np.arange(SIMHASH_BITS, dtype=np.int64)
            ones = np.add.reduceat((h1[:, None] >> b) & 1, np.cumsum(n) - n,
                                   axis=0)
            out[live] = ((2 * ones > n[:, None]) << b).sum(axis=1)
        return pd.Series(out)

    udf = F.pandas_udf(_fn, "bigint")
    return df.select(id_col, udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 4, n_blocks: int = 4, bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, with PIGEONHOLE blocking:
    the sketch is cut into ``n_blocks`` chunks and docs meet if ANY chunk
    matches exactly (a pair within hamming ≤ n_blocks-1 is guaranteed to
    share a clean chunk; with max_hamming ≥ n_blocks recall is probabilistic
    but high). Join is keyed on (chunk_idx, chunk_value) — never a cross
    join."""
    chunk_bits = bits // n_blocks
    mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures(df, text_col, id_col)
    chunks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), "
                f"c -> shiftright(simhash, c * {chunk_bits}) % {mask + 1})"
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    chunks = _persist(chunks)  # self-join: compute the sketch once
    a = chunks.alias("a")
    b = chunks.alias("b")
    pop = "bit_count(a.simhash ^ b.simhash)"
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("hamming", F.expr(pop))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
