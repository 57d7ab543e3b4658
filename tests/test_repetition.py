"""C4-style cross-document line dedup and exact duplicate-window detection
and removal (operators/sanitize.py).

Fixtures are hand-computable; plan pins enforce the scale shapes —
dedup_lines must anti-join the corpus against a BROADCAST boilerplate set,
and the duplicate-window count must partial-aggregate map-side.
"""

import pytest

from extract_address_ner_spark.operators.sanitize import (
    boilerplate_lines,
    dedup_lines,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def line_corpus(spark):
    rows = [
        (0, "SUBSCRIBE NOW\nalpha unique zero\ncopyright 2026"),
        (1, "SUBSCRIBE NOW\nbeta unique one\ncopyright 2026"),
        (2, "gamma unique two\n  copyright 2026  \nanother gamma line"),
        (3, "delta all original\nnothing shared here"),
        (4, "SUBSCRIBE NOW"),  # all-boilerplate doc
        (5, "\n\n"),  # no non-blank lines: absent from output
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_lines(spark, line_corpus):
    got = {r["line"]: r["n_docs"] for r in boilerplate_lines(line_corpus).collect()}
    # trim-normalized: doc 2's padded copyright counts toward the same value
    assert got == {"SUBSCRIBE NOW": 3, "copyright 2026": 3}


def test_boilerplate_min_docs_threshold(spark, line_corpus):
    got = {r["line"] for r in
           boilerplate_lines(line_corpus, min_docs=4).collect()}
    assert got == set()


def test_dedup_lines_removes_and_reassembles(spark, line_corpus):
    out = {r["doc_id"]: r for r in dedup_lines(line_corpus).collect()}
    assert out[0]["redacted"] == "alpha unique zero"
    assert (out[0]["n_lines_kept"], out[0]["n_lines_dropped"]) == (1, 2)
    assert out[1]["redacted"] == "beta unique one"
    # order of surviving lines is preserved
    assert out[2]["redacted"] == "gamma unique two\nanother gamma line"
    assert out[3]["redacted"] == "delta all original\nnothing shared here"
    assert out[3]["n_lines_dropped"] == 0
    # all-boilerplate doc survives, empty
    assert out[4]["redacted"] == ""
    assert (out[4]["n_lines_kept"], out[4]["n_lines_dropped"]) == (0, 1)
    # line-less doc contributes no row
    assert 5 not in out


def test_dedup_lines_idempotent(spark, line_corpus):
    once = dedup_lines(line_corpus).withColumnRenamed("redacted", "text")
    twice = {r["doc_id"]: r for r in
             dedup_lines(once.select("doc_id", "text")).collect()}
    # nothing left to remove: second pass keeps every surviving line
    for r in twice.values():
        assert r["n_lines_dropped"] == 0


def test_dedup_lines_rejects_helper_collision(spark, line_corpus):
    with pytest.raises(ValueError, match="line"):
        dedup_lines(line_corpus.withColumn("line", line_corpus.text))


def test_dedup_lines_plan_broadcasts_boilerplate(spark, line_corpus):
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(dedup_lines(line_corpus))
        # the keep/drop flag join against the boilerplate set must be
        # broadcast — the corpus side is never shuffled to meet it — and
        # there is NO doc-keyed join anywhere (kept/dropped/reassembly come
        # from one aggregation)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)


# --------------------------------------------------------------------------
# exact duplicate-window detection (Lee-et-al-style substring dedup)
# --------------------------------------------------------------------------

from extract_address_ner_spark.operators.sanitize import (  # noqa: E402
    duplicate_window_stats,
)


@pytest.fixture(scope="module")
def win_corpus(spark):
    # w=3 windows. Docs 0 and 1 share the run "a b c d" → shared windows
    # "a b c" and "b c d"; doc 2 repeats "x y z" WITHIN itself; doc 3 is
    # clean; doc 4 is too short for any window.
    rows = [
        (0, "a b c d e f g"),
        (1, "s t a b c d"),
        (2, "x y z x y z"),
        (3, "m n o p q r s"),
        (4, "u v"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_windows_counts(spark, win_corpus):
    out = {r["doc_id"]: r for r in
           duplicate_window_stats(win_corpus, w=3).collect()}
    # doc 0: 5 windows, hits at pos 0 ("a b c") and 1 ("b c d") → tokens
    # 0..3 covered of 7
    assert (out[0]["n_windows"], out[0]["n_dup_windows"]) == (5, 2)
    assert out[0]["dup_token_frac"] == round(4 / 7, 4)
    # doc 1: 4 windows, hits at pos 2 and 3 → tokens 2..5 of 6
    assert (out[1]["n_windows"], out[1]["n_dup_windows"]) == (4, 2)
    assert out[1]["dup_token_frac"] == round(4 / 6, 4)
    # doc 2: "x y z" occurs at pos 0 AND 3 (within-doc repeat counts) →
    # both positions dup → tokens 0..2 and 3..5: full coverage
    assert out[2]["n_dup_windows"] == 2
    assert out[2]["dup_token_frac"] == 1.0
    # doc 3: clean
    assert (out[3]["n_dup_windows"], out[3]["dup_token_frac"]) == (0, 0.0)
    # doc 4: too short — zero row, present in output
    assert (out[4]["n_windows"], out[4]["n_dup_windows"],
            out[4]["dup_token_frac"]) == (0, 0, 0.0)


def test_duplicate_windows_min_count(spark, win_corpus):
    out = {r["doc_id"]: r["n_dup_windows"] for r in
           duplicate_window_stats(win_corpus, w=3, min_count=3).collect()}
    # no window value occurs 3+ times → nothing flagged
    assert set(out.values()) == {0}


def test_duplicate_windows_rejects_helper_collision(spark, win_corpus):
    with pytest.raises(ValueError, match="_win"):
        duplicate_window_stats(win_corpus.withColumn("_win", win_corpus.text))


def test_duplicate_windows_single_value_shuffle(spark, win_corpus):
    """The window-value aggregation must partial-aggregate map-side (the
    100 TB shuffle is combiner-reduced) and the dup-value join back must
    not be a broadcast OF THE CORPUS side."""
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = duplicate_window_stats(win_corpus, w=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan, plan
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)


# --------------------------------------------------------------------------
# exact duplicate-window REMOVAL (the text-rewrite half of substring dedup)
# --------------------------------------------------------------------------

from extract_address_ner_spark.operators.sanitize import (  # noqa: E402
    remove_duplicate_windows,
)


def test_remove_duplicate_windows_fixture(spark, win_corpus):
    out = {r["doc_id"]: r for r in
           remove_duplicate_windows(win_corpus, w=3).collect()}
    # doc 0 owns the canonical occurrences of "a b c" and "b c d" — intact
    assert out[0]["text_deduped"] == "a b c d e f g"
    assert (out[0]["n_tokens"], out[0]["n_tokens_removed"]) == (7, 0)
    # doc 1's occurrences (starts 3, 4) are non-canonical → tokens 3..6 cut
    assert out[1]["text_deduped"] == "s t"
    assert (out[1]["n_tokens"], out[1]["n_tokens_removed"]) == (6, 4)
    # doc 2 repeats "x y z" WITHIN itself: the first occurrence is the
    # global canonical, the second (start 4) is removed
    assert out[2]["text_deduped"] == "x y z"
    assert (out[2]["n_tokens"], out[2]["n_tokens_removed"]) == (6, 3)
    # clean and too-short docs pass through whole
    assert out[3]["text_deduped"] == "m n o p q r s"
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["text_deduped"] == "u v"
    assert (out[4]["n_tokens"], out[4]["n_tokens_removed"]) == (2, 0)


def test_remove_duplicate_windows_case_preserved(spark):
    # values match case-insensitively, kept text is NEVER lowercased
    rows = [(1, "A B C D E f g"), (2, "x a b c d e y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_duplicate_windows(df, w=5).collect()}
    assert out[1]["text_deduped"] == "A B C D E f g"  # canonical, original case
    assert out[2]["text_deduped"] == "x y z"
    assert out[2]["n_tokens_removed"] == 5


def test_remove_duplicate_windows_rejects_helper_collision(spark, win_corpus):
    with pytest.raises(ValueError, match="_rm"):
        remove_duplicate_windows(win_corpus.withColumn("_rm", win_corpus.text))


def test_remove_duplicate_windows_long_doc_fold_is_linear(spark):
    """The rebuild is an O(m) single forward fold, not exists()-per-token
    (O(m·removals) — on fully-duplicated long docs that's O(m²), which never
    finished at this size when prototyped). 4 docs × 8k tokens, all
    duplicates of each other AND internally periodic (period 97), so the
    canonical owner keeps exactly one period (97 tokens: window start 98
    repeats start 1's value, so removals cover tokens 98..8000) and every
    other doc collapses to empty. Generated engine-side so the fixture
    costs no driver memory."""
    import time

    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.expr("concat_ws(' ', transform(sequence(1, 8000), "
               "i -> concat('t', CAST(i % 97 AS STRING))))").alias("text"),
    )
    t0 = time.monotonic()
    out = {r["doc_id"]: r for r in
           remove_duplicate_windows(df, w=15).collect()}
    wall = time.monotonic() - t0
    assert out[0]["n_tokens_removed"] == 8000 - 97  # one period survives
    assert len(out[0]["text_deduped"].split(" ")) == 97
    for d in (1, 2, 3):
        assert out[d]["n_tokens_removed"] == 8000   # fully removed
        assert out[d]["text_deduped"] == ""
    assert wall < 90, f"fold took {wall:.1f}s — quadratic regression?"
