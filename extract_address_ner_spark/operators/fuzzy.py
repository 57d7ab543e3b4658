"""Fuzzy address-variant matching (SURVEY.md §2.9): map variant spellings of
an address (spacing changes, alias region names, digit formatting) to the
canonical dictionary entry via character-n-gram similarity.

Two physical strategies over the same similarity definition
(char-2-gram Jaccard):

- ``fuzzy_match_broadcast`` — the production path when the canonical
  dictionary is dictionary-sized (≤ millions): broadcast the dictionary,
  compute the candidate's n-gram set once (narrow), join keyed on a shared
  n-gram (inverted index on the broadcast side), score, keep the best match
  ≥ threshold.

- ``fuzzy_match_lsh`` — banded char-n-gram MinHash for dictionary sizes
  where even the inverted index is too hot: same banded-LSH shape as
  dedup.lsh_candidate_pairs, keyed join on (band, signature).

This module owns its char-n-gram MinHash, in SQL (``hash_pairs_expr`` →
``minhash_sig_expr``; dedup's md5 halves and double hashing mod ``M31``),
rather than dedup's Arrow word-shingle kernel: on dictionary-sized inputs
a Python UDF stage costs more than it saves (sf0.01
``fuzzy_variant_match``: 1.07 / 1.18 s in SQL, 1.71 / 1.78 s on a kernel).

Scores are 4-dp rounded for deterministic, cross-engine-stable ranking;
ties break on the lexicographically smallest canonical id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import M31

CHAR_NGRAM = 2


def hash_pairs_expr(arr_col: str) -> str:
    """array<bigint> with BOTH base hashes PACKED per element of a
    string-array column: ``(h1 << 31) | h2`` (each h < M31 < 2^31, so the
    pack fits 62 bits — exact in BIGINT under ANSI). ONE md5 per element:
    the nested transform materializes the hex string before both substr
    reads, and CollapseProject cannot inline it into the outer HOF."""
    return (
        f"transform(transform({arr_col}, s -> md5(s)), m -> "
        f"shiftleft(CAST(conv(substr(m, 1, 15), 16, 10) AS BIGINT) % {M31}, 31)"
        f" + CAST(conv(substr(m, 16, 15), 16, 10) AS BIGINT) % {M31})"
    )


def minhash_sig_expr(hash_col: str, n_hashes: int) -> str:
    """array<bigint> of length n_hashes over a packed-hash column (see
    hash_pairs_expr): sig[j] = min over elements of (h1 + j·h2) mod M31,
    with h1 = p >> 31 and h2 = p & (2^31-1). The size(hash_col) guard is a
    second reference to ``hash_col``: CollapseProject inlines a
    single-referenced alias into the lambda body, where the md5 pipeline
    would run once per j (measured 38.9s → 3.9s on 6.7k docs)."""
    sig = (
        f"transform(sequence(0, {n_hashes - 1}), "
        f"j -> array_min(transform({hash_col}, "
        f"p -> (shiftright(p, 31) + j * (p & {(1 << 31) - 1})) % {M31})))"
    )
    return f"CASE WHEN size({hash_col}) = -1 THEN NULL ELSE {sig} END"


def char_ngrams_expr(text_col: str, n: int = CHAR_NGRAM) -> str:
    """Distinct character n-grams of a string (spacing REMOVED first — the
    whole point is robustness to spacing variants)."""
    squashed = f"replace({text_col}, ' ', '')"
    return f"""
    array_distinct(transform(sequence(1, greatest(length({squashed}) - {n - 1}, 1)),
                   i -> substr({squashed}, i, {n})))
    """.strip()


def _with_ngrams(df: DataFrame, text_col: str, out: str) -> DataFrame:
    return df.withColumn(out, F.expr(char_ngrams_expr(text_col)))


def fuzzy_match_broadcast(
    candidates: DataFrame,
    dictionary: DataFrame,
    cand_col: str = "mention_text",
    dict_col: str = "canonical_addr",
    dict_id_col: str = "canonical_id",
    threshold: float = 0.6,
) -> DataFrame:
    """(cand_col, matched canonical id/addr, jaccard) — best dictionary match
    per candidate with char-n-gram Jaccard ≥ threshold. The dictionary's
    n-gram inverted index is broadcast; the candidate side never shuffles for
    the join (only the per-candidate top-1 aggregation does)."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(candidates.sparkSession)
    cand = _with_ngrams(
        candidates.select(cand_col).distinct(), cand_col, "_cg"
    ).withColumn("_cn", F.expr("size(_cg)"))
    dict_ng = _with_ngrams(
        dictionary.select(dict_id_col, dict_col).distinct(), dict_col, "_dg"
    ).withColumn("_dn", F.expr("size(_dg)"))
    inv = F.broadcast(
        dict_ng.select(
            dict_id_col, dict_col, "_dn", F.explode("_dg").alias("_g")
        )
    )
    cexp = cand.select(cand_col, "_cn", F.explode("_cg").alias("_g"))
    inter = (
        cexp.join(inv, on="_g")
        .groupBy(cand_col, dict_id_col, dict_col, "_cn", "_dn")
        .agg(F.count(F.lit(1)).alias("_ni"))
    )
    scored = inter.withColumn(
        "jaccard",
        F.round(
            F.col("_ni") / (F.col("_cn") + F.col("_dn") - F.col("_ni")), 4
        ).cast("double"),
    ).filter(F.col("jaccard") >= threshold)
    w = Window.partitionBy(cand_col).orderBy(
        F.desc("jaccard"), F.asc(dict_id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .select(cand_col, dict_id_col, dict_col, "jaccard")
    )


def fuzzy_match_lsh(
    candidates: DataFrame,
    dictionary: DataFrame,
    cand_col: str = "mention_text",
    dict_col: str = "canonical_addr",
    dict_id_col: str = "canonical_id",
    threshold: float = 0.6,
    n_hashes: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """Banded char-n-gram MinHash variant: candidates and dictionary entries
    meet only on matching (band, signature); exact Jaccard rerank on the
    (small) candidate set. 8 bands of 2 → pairs at J≈0.6 almost surely share
    a band."""
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(candidates.sparkSession)
    n_bands = n_hashes // band_size

    def sig_bands(df, text_col, extra_cols):
        hashes = hash_pairs_expr("_cg")
        sig = minhash_sig_expr("_hs", n_hashes)
        bands = (
            f"transform(sequence(0, {n_bands - 1}), "
            f"b -> md5(concat_ws(',', slice(_sig, b * {band_size} + 1, {band_size}))))"
        )
        return (
            _with_ngrams(df, text_col, "_cg")
            .withColumn("_hs", F.expr(hashes))
            .withColumn("_sig", F.expr(sig))
            .select(
                *extra_cols, text_col, "_cg",
                F.posexplode(F.expr(bands)).alias("_band", "_bsig"),
            )
        )

    cand = sig_bands(candidates.select(cand_col).distinct(), cand_col, [])
    dict_b = sig_bands(
        dictionary.select(dict_id_col, dict_col).distinct(), dict_col,
        [dict_id_col],
    )
    pairs = (
        cand.join(
            F.broadcast(dict_b.withColumnRenamed("_cg", "_dg")),
            on=["_band", "_bsig"],
        )
        .select(cand_col, dict_id_col, dict_col, "_cg", "_dg")
        .dropDuplicates([cand_col, dict_id_col])
    )
    scored = pairs.withColumn(
        "jaccard",
        F.round(
            F.expr(
                "size(array_intersect(_cg, _dg)) / "
                "CAST(size(array_union(_cg, _dg)) AS DOUBLE)"
            ),
            4,
        ).cast("double"),
    ).filter(F.col("jaccard") >= threshold)
    w = Window.partitionBy(cand_col).orderBy(
        F.desc("jaccard"), F.asc(dict_id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .select(cand_col, dict_id_col, dict_col, "jaccard")
    )
