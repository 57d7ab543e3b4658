"""Repetition-hygiene operators on a (doc_id, text) documents table:
cross-document line dedup and exact duplicate-window detection and removal.

- :func:`boilerplate_lines` / :func:`dedup_lines` — C4-style CROSS-document
  line-level deduplication: line values shared by ``min_docs``+ distinct
  documents (cookie banners, nav bars, license headers) are identified by
  one line-keyed aggregation and removed from every document by a broadcast
  anti-join, preserving the order of surviving lines. Documents with no
  non-blank lines at all contribute no output row (nothing to clean).

- :func:`duplicate_window_stats` / :func:`remove_duplicate_windows` — exact
  duplicate ``w``-token windows (Lee et al. 2022-style substring dedup):
  per-document coverage statistics, and the text rewrite that keeps only
  each duplicated window's canonical occurrence.

No reference citation: the reference (a Korean-address NER service) has no
data-hygiene surface. No KG stage, job option or benchmark workload calls
these operators; only their registry entries and tests reach them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trimmed non-blank line values appearing in at least ``min_docs``
    DISTINCT documents, with their document frequency — the corpus-level
    boilerplate table (nav bars, cookie banners, license headers). One
    shuffle keyed by line value with map-side partial aggregation; output
    size is bounded by total_lines / min_docs and in practice tiny."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.expr(f"filter(transform(split({text_col}, '\\n'), "
                         f"l -> trim(l)), l -> l != '')")).alias("line"),
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).cast("int").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """C4-style cross-document line deduplication: drop every occurrence of
    any (trimmed) line value appearing in ``min_docs``+ distinct documents,
    keeping the remaining lines in original order. Emits ``(id_col,
    redacted, n_lines_kept, n_lines_dropped)``; a document that was ALL
    boilerplate survives with ``redacted = ''`` (filter on n_lines_kept to
    drop it — that decision belongs to the caller).

    Plan shape: one line-keyed aggregation builds the boilerplate set
    (:func:`boilerplate_lines`); the corpus's exploded lines take a
    broadcast LEFT join against it (a keep/drop flag, never losing rows)
    and ONE per-document aggregation reassembles surviving lines and counts
    both sides — no doc-keyed join anywhere, so the only corpus-sized
    shuffle is the reassembly groupBy. With ``broadcast_boilerplate``
    (default) the flag join is a BroadcastHashJoin — the boilerplate table
    is high-df lines only, bounded by total_lines/min_docs and in practice
    small; set it False on a corpus where the boilerplate table itself is
    huge and the same body degrades to a shuffle join on the line value.
    """
    for helper in ("_pos", "line", "_boiler"):
        if helper in df.columns:
            raise ValueError(
                f"dedup_lines: input already has a {helper!r} column"
            )
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(split({text_col}, '\\n'), l -> trim(l))")
        ).alias("_pos", "line"),
    ).filter(F.col("line") != "")
    boiler = boilerplate_lines(
        df, min_docs=min_docs, text_col=text_col, id_col=id_col
    ).select("line", F.lit(True).alias("_boiler"))
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    flagged = lines.join(boiler, "line", "left").select(
        id_col, "_pos", "line",
        F.coalesce("_boiler", F.lit(False)).alias("_boiler"),
    )
    return flagged.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(filter(array_sort(collect_list("
            "struct(_pos, line, _boiler))), s -> NOT s._boiler), "
            "s -> s.line), '\\n')"
        ).alias("redacted"),
        F.sum(F.when(~F.col("_boiler"), 1).otherwise(0))
        .cast("int").alias("n_lines_kept"),
        F.sum(F.when(F.col("_boiler"), 1).otherwise(0))
        .cast("int").alias("n_lines_dropped"),
    )


def duplicate_window_stats(
    df: DataFrame,
    w: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-window detection — the rolling-window, Spark-native
    formulation of exact-substring training-data dedup (Lee et al. 2022 use
    suffix arrays at w=50 BPE tokens; here the unit is a ``w``-token
    lowercased whitespace window). A window VALUE is duplicated when its
    total occurrence count across the corpus (within- plus cross-document)
    reaches ``min_count``. Emits per document:

    - ``n_windows``: total windows (``max(0, n_tokens - w + 1)``),
    - ``n_dup_windows``: window POSITIONS whose value is duplicated,
    - ``dup_token_frac``: fraction of the document's tokens covered by at
      least one duplicated window (union of ``[pos, pos+w)`` ranges,
      4-dp-rounded double).

    Documents with fewer than ``w`` tokens have no windows and report
    ``(0, 0, 0.0)``.

    Plan shape and the honest 100 TB cost: every window flows through ONE
    aggregation keyed by window value (map-side partial counts) — exact
    substring dedup is inherently a full-corpus shuffle, the price Lee et
    al. pay as a distributed suffix-array sort; the duplicated-value table
    that comes back is dup-volume-sized and joins the window stream on the
    value key. Coverage merging is array-local per document (sorted-interval
    union over the duplicated positions), never a second corpus shuffle.
    """
    for helper in ("_pos", "_win", "_dup", "_toks", "_dp"):
        if helper in df.columns:
            raise ValueError(
                f"duplicate_window_stats: input already has a {helper!r} column"
            )
    # Tokenize into a COLUMN ATTRIBUTE first: splicing the tokenization
    # subtree textually into the window-transform lambda would re-evaluate
    # split+filter PER WINDOW — O(tokens²) per document, a scale killer on
    # long documents (and catastrophic when text_col is a non-materialized
    # expression). As a non-cheap projection referenced 3+ times it survives
    # CollapseProject, so tokens are computed once per row.
    ws = f"filter(split(lower({text_col}), ' '), t -> t != '')"
    wins = (
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"transform(sequence(1, size(_toks) - {w} + 1), "
        f"i -> concat_ws(' ', slice(_toks, i, {w}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    base = df.select(F.col(id_col), F.expr(ws).alias("_toks")).select(
        F.col(id_col),
        F.expr("size(_toks)").cast("int").alias("_n_tok"),
        F.expr(wins).alias("_wins"),
    )
    exploded = base.select(
        id_col, "_n_tok", F.posexplode("_wins").alias("_pos", "_win")
    )
    dup_values = (
        exploded.groupBy("_win")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_win", F.lit(True).alias("_dup"))
    )
    flagged = exploded.join(dup_values, "_win", "left").select(
        id_col, "_n_tok", "_pos",
        F.coalesce("_dup", F.lit(False)).alias("_dup"),
    )
    # Coverage = length of the union of the equal-length intervals
    # [pos, pos+w) over the SORTED duplicated positions: the first interval
    # contributes w, each later one min(w, pos_k - pos_{k-1}). O(m) per doc
    # and O(m) memory — the naive flatten(sequence(pos, pos+w-1)) →
    # array_distinct materializes a w×-larger array per document and
    # measured 179 s on 8×20k-token fully-duplicated docs vs <2 s for this
    # form (same values, pinned by the DuckDB oracle + fixture tests).
    per_doc = flagged.groupBy(id_col, "_n_tok").agg(
        F.count("*").cast("int").alias("n_windows"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0))
        .cast("int").alias("n_dup_windows"),
        F.expr("array_sort(collect_list(CASE WHEN _dup THEN _pos END))")
        .alias("_dp"),
    )
    covered = (
        f"CASE WHEN size(_dp) = 0 THEN CAST(0 AS BIGINT) "
        f"WHEN size(_dp) = 1 THEN CAST({w} AS BIGINT) "
        f"ELSE aggregate(sequence(2, size(_dp)), CAST({w} AS BIGINT), "
        f"(a, k) -> a + CAST(least({w}, "
        f"element_at(_dp, k) - element_at(_dp, k - 1)) AS BIGINT)) END"
    )
    stats = per_doc.select(
        id_col, "n_windows", "n_dup_windows",
        F.round(F.expr(covered) / F.greatest("_n_tok", F.lit(1)), 4)
        .cast("double").alias("dup_token_frac"),
    )
    # window-less docs (< w tokens) re-enter with zero stats so the output
    # covers every input document — a left join against a tiny aggregate
    # would shuffle the corpus again; deriving the zeros from the original
    # frame keeps it one narrow union leg. The condition is on _n_tok, NOT
    # size(_wins) = 0: predicate pushdown substitutes the _wins alias tree
    # into the condition, where the transform lambda's _toks references
    # re-tokenize per window — O(tokens²)/doc at filter time. _n_tok's tree
    # is size(tokenize) — one evaluation per row (same rows by definition:
    # _wins is empty exactly when _n_tok < w).
    short = base.filter(F.col("_n_tok") < F.lit(w)).select(
        id_col,
        F.lit(0).cast("int").alias("n_windows"),
        F.lit(0).cast("int").alias("n_dup_windows"),
        F.lit(0.0).alias("dup_token_frac"),
    )
    return stats.unionByName(short)


def remove_duplicate_windows(
    df: DataFrame,
    w: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-window REMOVAL — the text-rewrite half of Lee et al.
    2022 substring dedup (:func:`duplicate_window_stats` is the reporting
    half). A window value (lowercased ``w``-token whitespace window) is
    duplicated when its corpus-wide occurrence count reaches ``min_count``;
    the CANONICAL occurrence — globally smallest ``(doc_id, start)`` — is
    kept and every other occurrence's token range ``[start, start+w)`` is
    removed. Rebuilt text keeps the surviving ORIGINAL-case tokens joined
    by single spaces (output is whitespace-normalized; values are matched
    case-insensitively, removal never lowercases what it keeps).

    Emits ``(id_col, text_deduped, n_tokens, n_tokens_removed)`` for EVERY
    input document (unaffected docs pass through with 0 removed).

    Plan shape / 100 TB cost: the same single window-value-keyed corpus
    shuffle as the stats operator (map-side partial counts + min-struct
    canonical — exact substring dedup's irreducible price), a
    dup-volume-sized inner join back to flag non-canonical occurrences,
    ONE dup-volume groupBy collecting each doc's sorted removal starts,
    and a removal-volume-bounded LEFT join onto the corpus. The rebuild is
    an O(m) single forward fold per document: window starts are DISTINCT
    sorted integers, so at each token position at most one new interval
    opens — the fold carries (next-start index, max covered end, kept
    tokens) and never rescans (an exists()-per-token formulation is
    O(m·removals), catastrophic on heavily duplicated long docs).
    """
    helpers = ("_toks", "_wins", "_p", "_start", "_win", "_cnt", "_canon",
               "_rm", "_acc")
    for helper in helpers:
        if helper in df.columns:
            raise ValueError(
                f"remove_duplicate_windows: input already has a "
                f"{helper!r} column"
            )
    # original-case tokens as a COLUMN ATTRIBUTE (see duplicate_window_stats:
    # splicing the tokenize subtree into lambdas re-evaluates it per element)
    toks = f"filter(split({text_col}, ' '), t -> t != '')"
    wins = (
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"transform(sequence(1, size(_toks) - {w} + 1), "
        f"i -> concat_ws(' ', transform(slice(_toks, i, {w}), "
        f"t -> lower(t)))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    base = df.select(F.col(id_col), F.expr(toks).alias("_toks"))
    b2 = base.select(id_col, "_toks", F.expr(wins).alias("_wins"))
    occ = b2.select(
        id_col, F.posexplode("_wins").alias("_p", "_win")
    ).select(id_col, (F.col("_p") + 1).alias("_start"), "_win")
    dup_vals = (
        occ.groupBy("_win")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct(F.col(id_col).alias("i"),
                           F.col("_start").alias("s"))).alias("_canon"),
        )
        .filter(F.col("_cnt") >= min_count)
        .select("_win", "_canon")
    )
    rm = (
        occ.join(dup_vals, "_win")
        .filter(~((F.col(id_col) == F.col("_canon.i"))
                  & (F.col("_start") == F.col("_canon.s"))))
        .groupBy(id_col)
        .agg(F.expr("array_sort(collect_list(_start))").alias("_rm"))
    )
    joined = base.join(rm, id_col, "left")
    # O(m) fold: starts are distinct+sorted, so position i opens at most one
    # new interval — `try_element_at(_rm, acc.j+1) = i` consumes it (ANSI
    # mode: element_at would throw past the end). State: (j = consumed
    # starts, e = max covered end, out = kept tokens).
    walk = (
        f"aggregate(sequence(1, size(_toks)), "
        f"struct(CAST(0 AS INT) AS j, CAST(0 AS INT) AS e, "
        f"CAST(array() AS array<string>) AS out), "
        f"(a, i) -> CASE WHEN coalesce(try_element_at(_rm, a.j + 1), -1) = i "
        f"THEN struct(a.j + 1 AS j, "
        f"greatest(a.e, i + {w} - 1) AS e, a.out AS out) "
        f"WHEN i <= a.e THEN a "
        f"ELSE struct(a.j AS j, a.e AS e, "
        f"concat(a.out, array(element_at(_toks, i))) AS out) END, "
        f"a -> a.out)"
    )
    kept = joined.select(
        id_col,
        F.expr("size(_toks)").cast("int").alias("n_tokens"),
        F.when(F.col("_rm").isNull(), F.col("_toks"))
        .otherwise(F.expr(walk)).alias("_acc"),
    )
    return kept.select(
        id_col,
        F.expr("concat_ws(' ', _acc)").alias("text_deduped"),
        "n_tokens",
        (F.col("n_tokens") - F.expr("size(_acc)")).cast("int")
        .alias("n_tokens_removed"),
    )
