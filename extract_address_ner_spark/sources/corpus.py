"""Corpus synthesis — the pipeline's input table.

Authoritative shape (BASELINE.json ``input_hint``):
``corpus(repo string, path string, commit string, lang string, content string)``
plus derived ``content_sha256`` (the end-to-end per-row invariant) and
``doc_id`` (test join key).

Two generators:

1. ``corpus_from_documents`` — derives corpus deterministically from the
   driver-provided ``documents`` parquet via ONE shared SQL template that both
   Spark SQL and DuckDB can run (only the sha256 function name differs).
   Korean addresses from the reference's embedded fixture
   (reference: app/utils/preprocess.py:77-139) are planted at SQL-computable
   char offsets, so gold mentions / triples are themselves expressible as
   oracle SQL — this is what makes the whole extraction pipeline
   oracle-checkable by the driver.

2. ``synthesize_corpus`` — pure-Spark distributed generator (spark.range +
   built-in expressions only, no Python UDFs, no driver materialization) for
   bench/skew runs at arbitrary row counts, with Zipf-ish repo skew (one
   mega-repo holds ~half the rows) to exercise the hot-key aggregates in
   linking (partial aggregate before the exchange) and AQE skew handling.

No wall-clock, no unseeded randomness anywhere (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Planted addresses, verbatim from the reference sample fixture
# (app/utils/preprocess.py:79-127). Index = doc_id % 5.
PLANTED_ADDRESSES = [
    "서울특별시 강남구 테헤란로 123번길 45",
    "경기도 성남시 분당구 판교역로 235",
    "부산광역시 해운대구 해운대해변로 264",
    "경상북도 경주시 보문로 507",
    "인천광역시 중구 월미로 329",
]

# Alias (fuzzy-variant) form planted when doc_id % 30 == 0 (a subset of the
# rows that carry PLANTED_ADDRESSES[0]): 서울시 = alias of 서울특별시.
ALIAS_VARIANT = "서울시 강남구 테헤란로 123번길 45"
ALIAS_VARIANT_CANONICAL = PLANTED_ADDRESSES[0]

# lang column of `documents` → (corpus lang, file extension).
LANG_MAP = [("en", "python", ".py"), ("fr", "javascript", ".js"),
            ("de", "java", ".java"), ("es", "go", ".go"), ("zh", "markdown", ".md")]

# Prefix length for mid-document planting (documents text is always > 20
# chars at every sf; asserted in tests).
MID_PREFIX = 20


def inner_addr_case() -> str:
    """The doc_id % 5 → canonical planted address CASE (no alias variant)."""
    inner_whens = " ".join(
        f"WHEN {i} THEN '{a}'" for i, a in enumerate(PLANTED_ADDRESSES[:-1])
    )
    return f"CASE CAST(doc_id % 5 AS INT) {inner_whens} ELSE '{PLANTED_ADDRESSES[-1]}' END"


def _addr_case() -> str:
    return (
        f"CASE WHEN doc_id % 30 = 0 THEN '{ALIAS_VARIANT}' "
        f"ELSE {inner_addr_case()} END"
    )


def _lang_case(col: str) -> str:
    whens = " ".join(f"WHEN '{src}' THEN '{dst}'" for src, dst, _ in LANG_MAP[:-1])
    return f"CASE {col} {whens} ELSE '{LANG_MAP[-1][1]}' END"


def _ext_case(col: str) -> str:
    whens = " ".join(f"WHEN '{src}' THEN '{ext}'" for src, _, ext in LANG_MAP[:-1])
    return f"CASE {col} {whens} ELSE '{LANG_MAP[-1][2]}' END"


# Shared row-shape expressions (identical SQL text for Spark and DuckDB).
_SHAPE = f"""
  SELECT
    doc_id, text, addr,
    CASE WHEN doc_id % 10 < 3 THEN 'repo_mega'
         ELSE 'repo_' || CAST(doc_id % 7 AS INT) END AS repo,
    'src/f' || doc_id || {_ext_case('src_lang')} AS path,
    substr(md5('c' || doc_id), 1, 12) AS commit,
    {_lang_case('src_lang')} AS lang,
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN addr || ' ' || text
      WHEN 1 THEN substr(text, 1, {MID_PREFIX}) || ' ' || addr || ' ' || substr(text, {MID_PREFIX + 1})
      ELSE text
    END AS content,
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN 0 WHEN 1 THEN {MID_PREFIX + 1} ELSE -1
    END AS m_start
""".strip()


def with_shape(documents: str = "documents") -> str:
    """Public composition point: the _planted/_shaped CTE prefix shared by
    every oracle-SQL builder (entry_queries)."""
    return _with_shape(documents)


def _with_shape(documents: str) -> str:
    return (
        f"WITH _planted AS (\n"
        f"  SELECT doc_id, text, lang AS src_lang, {_addr_case()} AS addr\n"
        f"  FROM {documents}\n"
        f"),\n_shaped AS (\n{_SHAPE}\n  FROM _planted\n)"
    )


def corpus_sql(sha256_fn: str = "sha2({}, 256)", documents: str = "documents") -> str:
    """Shared corpus-derivation SQL. ``sha256_fn`` is a format template for a
    hex-lowercase sha256 of a string expression: Spark ``sha2({}, 256)``,
    DuckDB ``sha256({})``.

    Planting rule: doc_id % 3 == 0 → address prepended (span at offset 0,
    matching the reference fixture row at preprocess.py:84-89);
    doc_id % 3 == 1 → address inserted after a 20-char prefix;
    doc_id % 3 == 2 → no address (negative row).
    """
    return (
        _with_shape(documents)
        + f"\nSELECT repo, path, commit, lang, content,\n"
        f"       {sha256_fn.format('content')} AS content_sha256, doc_id\n"
        f"FROM _shaped"
    )


def gold_mentions_sql(sha256_fn: str = "sha2({}, 256)", documents: str = "documents") -> str:
    """Expected mentions (ground truth by construction): one row per planted
    address. 0-based char offsets, exclusive end — slice identity
    ``content[m_start:m_end] == mention_text`` holds (the invariant of
    reference ml_model.py:369). Confidence = the deterministic tagger's span
    average = 0.85 (constants from preprocess.py:291-293)."""
    return (
        _with_shape(documents)
        + f"\nSELECT repo, path, commit, addr AS mention_text,\n"
        f"       CAST(m_start AS INT) AS m_start,\n"
        f"       CAST(m_start + length(addr) AS INT) AS m_end,\n"
        f"       CAST(0.85 AS DOUBLE) AS confidence,\n"
        f"       {sha256_fn.format('content')} AS content_sha256, doc_id\n"
        f"FROM _shaped WHERE m_start >= 0"
    )


def register_documents(
    spark: SparkSession, sf_dir: str, floor: bool = True
) -> None:
    # scale_partitions: the small-sf documents parquet is ONE row group —
    # unsplittable, so every derived pipeline otherwise computes its
    # per-row-heavy stages in a single task (guide §2.5). No-op whenever
    # the scan already splits to >= default parallelism. ``floor=False``
    # skips it for consumers whose per-row work is trivial (e.g. the exact
    # dedup sha — the repartition exchange would cost more than it saves).
    from ..session import scale_partitions

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if floor:
        df = scale_partitions(df)
    df.createOrReplaceTempView("documents")


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side corpus: read the driver's documents parquet, apply the
    shared derivation SQL. Catalyst resolves the CTE over the parquet scan, so
    column pruning / pushdown still reach the file source."""
    register_documents(spark, sf_dir)
    return spark.sql(corpus_sql())


def gold_mentions_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_documents(spark, sf_dir)
    return spark.sql(gold_mentions_sql())


# --------------------------------------------------------------------------
# Code-shaped corpus: addresses planted in string literals and comments
# --------------------------------------------------------------------------

# comment marker per corpus lang (trailing space included)
CODE_COMMENT_PREFIX = {
    "python": "# ", "javascript": "// ", "java": "// ", "go": "// ",
    "markdown": "> ",
}


def _cp_case(lang_col: str) -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{cp}'"
        for lang, cp in list(CODE_COMMENT_PREFIX.items())[:-1]
    )
    return f"CASE {lang_col} {whens} ELSE '> ' END"


def _addr2_case() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{a}'" for i, a in enumerate(PLANTED_ADDRESSES[:-1])
    )
    return (
        f"CASE CAST((doc_id + 1) % 5 AS INT) {whens} "
        f"ELSE '{PLANTED_ADDRESSES[-1]}' END"
    )


def code_corpus_sql(sha256_fn: str = "sha2({}, 256)", documents: str = "documents") -> str:
    """Source-code-shaped corpus (shared Spark/DuckDB SQL):

        <cp><addr1> \\n        ← addr1 in a line comment (trailing space keeps
        x = "<addr2>"\\n          tokens newline-free)
        <cp><doc text>         ← filler comment, no Korean

    Exact offsets by construction: addr1 at [len(cp), +L1); addr2 at
    [len(cp)+L1+7, +L2) (2 chars ' \\n' + 5 chars 'x = "'). markdown has no
    string/comment syntax → whole file is one 'text' segment and only addr1
    is discoverable (the quote glues to addr2's first token)."""
    return f"""
WITH _p AS (
  SELECT doc_id, text, lang AS src_lang,
         {inner_addr_case()} AS addr1, {_addr2_case()} AS addr2
  FROM {documents}
),
_c AS (
  SELECT doc_id, text, addr1, addr2,
    {_lang_case('src_lang')} AS lang,
    {_cp_case(_lang_case('src_lang'))} AS cp,
    CASE WHEN doc_id % 10 < 3 THEN 'repo_mega'
         ELSE 'repo_' || CAST(doc_id % 7 AS INT) END AS repo,
    'src/c' || doc_id || {_ext_case('src_lang')} AS path,
    substr(md5('cc' || doc_id), 1, 12) AS commit
  FROM _p
),
_code AS (
  SELECT repo, path, commit, lang, doc_id, cp, addr1, addr2,
    cp || addr1 || ' ' || chr(10) || 'x = "' || addr2 || '"' || chr(10) || cp || text AS content
  FROM _c
)
SELECT repo, path, commit, lang, content,
       {sha256_fn.format('content')} AS content_sha256, doc_id
FROM _code
""".strip()


def gold_code_mentions_sql(sha256_fn: str = "sha2({}, 256)", documents: str = "documents") -> str:
    """Expected mentions from the code corpus: addr1 from the comment (or the
    whole-file 'text' segment for markdown), addr2 from the string literal
    (non-markdown only)."""
    prefix = code_corpus_sql(sha256_fn, documents).rsplit("SELECT repo,", 1)[0]
    return (
        prefix
        + f""", _k AS (
  SELECT repo, path, commit, lang, doc_id, cp, addr1, addr2,
         {sha256_fn.format('content')} AS content_sha256
  FROM _code
)
SELECT repo, path, commit, content_sha256, doc_id,
       CASE WHEN lang = 'markdown' THEN 'text' ELSE 'comment' END AS seg_type,
       addr1 AS mention_text,
       CAST(length(cp) AS INT) AS m_start,
       CAST(length(cp) + length(addr1) AS INT) AS m_end,
       CAST(0.85 AS DOUBLE) AS confidence
FROM _k
UNION ALL
SELECT repo, path, commit, content_sha256, doc_id,
       'string' AS seg_type,
       addr2 AS mention_text,
       CAST(length(cp) + length(addr1) + 7 AS INT) AS m_start,
       CAST(length(cp) + length(addr1) + 7 + length(addr2) AS INT) AS m_end,
       CAST(0.85 AS DOUBLE) AS confidence
FROM _k WHERE lang <> 'markdown'
""".strip()
    )


def code_corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_documents(spark, sf_dir)
    return spark.sql(code_corpus_sql())


# --------------------------------------------------------------------------
# Large-scale pure-Spark synthesizer (bench / skew)
# --------------------------------------------------------------------------

_FILLER_WORDS = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "group", "query", "row", "data",
    "slow", "filter", "customer", "line", "batch", "value", "spark",
]


def synthesize_corpus(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    mega_share: float = 0.5,
    n_repos: int = 200,
    n_words: int = 40,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic corpus at arbitrary scale. Pure built-in
    expressions over ``spark.range`` — generation scales linearly with
    executors; nothing is materialized on the driver. ``mega_share`` of rows
    land in one mega-repo (skew test, SURVEY.md §5.2.5)."""
    words_arr = "array(" + ", ".join(f"'{w}'" for w in _FILLER_WORDS) + ")"
    addr_arr = "array(" + ", ".join(f"'{a}'" for a in PLANTED_ADDRESSES) + ")"
    if mega_share > 0:
        mega_mod = max(1, int(round(1 / mega_share)))
        repo_expr = (
            f"CASE WHEN id % {mega_mod} = 0 THEN 'repo_mega' "
            f"ELSE 'repo_' || CAST(id % {n_repos} AS INT) END"
        )
    else:
        repo_expr = f"'repo_' || CAST(id % {n_repos} AS INT)"
    df = spark.range(
        0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism
    )
    return df.selectExpr(
        "id AS doc_id",
        f"""concat_ws(' ', transform(sequence(1, {n_words}),
             i -> element_at({words_arr},
                  CAST(pmod(hash(id * 1000 + i + {seed}), {len(_FILLER_WORDS)}) AS INT) + 1))) AS text""",
        f"element_at({addr_arr}, CAST(id % 5 AS INT) + 1) AS addr",
        f"{repo_expr} AS repo",
        "'src/f' || id || '.py' AS path",
        "substr(md5('c' || id), 1, 12) AS commit",
        "'python' AS lang",
    ).selectExpr(
        "repo", "path", "commit", "lang",
        f"""CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN addr || ' ' || text
          WHEN 1 THEN substr(text, 1, {MID_PREFIX}) || ' ' || addr || ' ' || substr(text, {MID_PREFIX + 1})
          ELSE text END AS content""",
        "doc_id",
    ).selectExpr("repo", "path", "commit", "lang", "content",
                 "sha2(content, 256) AS content_sha256", "doc_id")
