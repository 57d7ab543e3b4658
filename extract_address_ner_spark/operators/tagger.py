"""Mention extraction: tokenize → BIO tag → span merge, as one Spark operator.

Reference semantics (citations into /root/reference/):
- tokenization with char offsets + special/empty-token skip
  (app/services/ml_model.py:317-327, :361-362)
- BIO label contract {O, B-ADDRESS, I-ADDRESS}
  (app/services/ml_model.py:21)
- span merge state machine incl. bare-I quirk and mean-confidence
  (app/services/ml_model.py:352-437)

One engine: ``mapInPandas`` over Arrow batches. Each batch is tagged by a
``Tagger`` and decoded by the pure-Python oracle's exact port of the
reference state machine (``oracle.merge_spans``). The plan is narrow
(scan → filter → MapInPandas, no shuffle) and the batch crosses the
JVM↔Python boundary as Arrow. Measured 2× faster than the interpreted SQL
``aggregate`` fold it replaced (higher-order functions get no whole-stage
codegen).

The ``Tagger`` protocol is the pluggable-tagger seam: anything returning
per-token offsets, BIO labels and confidences can replace the default
``LexiconRegexTagger`` (e.g. the reference's RoBERTa+BiLSTM+CRF tagger,
ml_model.py:58-247).

Output schema: input key columns + ``mention_text, m_start, m_end,
confidence`` — one row per mention (reference D5, app/models/address.py:9-13).
Slice identity ``content[m_start:m_end] == mention_text`` holds
(ml_model.py:369).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Tagger(Protocol):
    """Per-batch tagger contract (SURVEY.md §7.5): given texts, return for
    each text the token offsets, BIO labels, and per-token confidences."""

    def tag(
        self, texts: pd.Series
    ) -> Iterator[tuple[list[tuple[str, int, int]], list[str], list[float]]]:
        ...


class LexiconRegexTagger:
    """Deterministic tagger — executor-local, stateless, cheap. The sandbox
    default and the oracle's twin."""

    def tag(self, texts):
        from .. import oracle

        for text in texts:
            toks = oracle.tokenize_ws(text)
            labels = oracle.lexicon_bio_tags(toks)
            confs = oracle.token_confidences(labels)
            yield toks, labels, confs


def extract_mentions(
    corpus: DataFrame,
    text_col: str = "content",
    key_cols: Sequence[str] = ("repo", "path", "commit", "content_sha256", "doc_id"),
    tagger_factory=LexiconRegexTagger,
) -> DataFrame:
    """Flagship operator (the reference's POST /extract-address,
    app/main.py:92-118, as a distributed batch stage).

    Narrow plan: Hangul prefilter → blank guard (P4, app/main.py:97-98) →
    ``mapInPandas`` over the tagger → ``oracle.merge_spans``.

    The prefilter holds because every start-lexicon token is Hangul: a
    document with no Hangul syllable cannot contain an address span, so one
    vectorized ``rlike '[가-힣]'`` scan keeps it from ever crossing the
    Python boundary. At code-corpus scale most files are Hangul-free."""
    from .. import oracle
    from ..session import ensure_optimizer_confs

    ensure_optimizer_confs(corpus.sparkSession)
    keys = [c for c in key_cols if c in corpus.columns]
    src = (
        corpus.filter(F.col(text_col).rlike("[가-힣]"))
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(*keys, F.col(text_col).alias("_text"))
    )
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in src.schema.fields if f.name != "_text")
    out_schema = (
        f"{fields}, mention_text string, m_start int, m_end int, confidence double"
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = tagger_factory()  # executor-local, once per task
        for pdf in batches:
            texts = pdf["_text"].tolist()
            # columnar assembly (index-array take on the key columns — no
            # per-row dict building, no iterrows)
            row_idx: list[int] = []
            m_text: list[str] = []
            m_start: list[int] = []
            m_end: list[int] = []
            m_conf: list[float] = []
            for i, (text, (toks, labels, confs)) in enumerate(
                zip(texts, tagger.tag(pdf["_text"]))
            ):
                for m in oracle.merge_spans(text, toks, labels, confs):
                    row_idx.append(i)
                    m_text.append(m.text)
                    m_start.append(m.start)
                    m_end.append(m.end)
                    m_conf.append(m.confidence)
            out = pdf.iloc[row_idx][keys].reset_index(drop=True)
            out["mention_text"] = m_text
            out["m_start"] = pd.array(m_start, dtype="int32")
            out["m_end"] = pd.array(m_end, dtype="int32")
            out["confidence"] = pd.array(m_conf, dtype="float64")
            yield out

    return src.mapInPandas(process, schema=out_schema)
