"""Pure-Python, single-process oracle for the reference's extraction semantics.

Every distributed operator in this package is tested for row-for-row equality
against these functions. They are deliberately naive/imperative — the point is
faithfulness to the reference, not speed.

Reference semantics reimplemented here (citations into /root/reference/):
- whitespace tokenization with char offsets (surrogate for the HF tokenizer's
  ``return_offsets_mapping``, app/utils/preprocess.py:158-169 — the span-merge
  contract only needs (start, end) offsets, which survive tokenizer
  substitution)
- BIO tag creation from a char span — token fully inside [start, end) rule,
  first such token B, rest I (app/utils/preprocess.py:182-198)
- BIO → span merge state machine incl. the bare-I quirk
  (app/services/ml_model.py:352-437)
- regex address validation with 0.85/0.15 confidence
  (app/utils/preprocess.py:282-295)
- span-level precision/recall/F1 by exact (start, end) match
  (app/services/train_service.py:423-485 via seqeval; reproduced as an
  exact-span-match join, incl. the ``accuracy := precision`` bug at :472)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import CONF_ADDRESS, CONF_OTHER, LABEL_B, LABEL_I, LABEL_O
from .sources.admin_regions import ADMIN_REGIONS


# --------------------------------------------------------------------------
# Tokenization (deterministic surrogate tokenizer)
# --------------------------------------------------------------------------

def tokenize_ws(text: str) -> list[tuple[str, int, int]]:
    """Whitespace tokenization with char offsets: [(token, start, end), ...].

    Splits on single spaces; empty tokens (from runs of spaces) are dropped,
    mirroring the reference's special-token skip (offset start == end ⇒ skip,
    app/services/ml_model.py:361-362).
    """
    out = []
    pos = 0
    for tok in text.split(" "):
        if tok:
            out.append((tok, pos, pos + len(tok)))
        pos += len(tok) + 1
    return out


# --------------------------------------------------------------------------
# BIO tagging from a gold char span (T2)
# --------------------------------------------------------------------------

def bio_tags_from_span(
    tokens: list[tuple[str, int, int]], start: int, end: int, is_address: int = 1
) -> list[str]:
    """reference: app/utils/preprocess.py:171-198.

    All tokens start as O; for a positive row, a token fully inside
    [start, end) (token_start >= start and token_end <= end) gets B-ADDRESS
    for the first such token and I-ADDRESS afterwards.
    """
    labels = [LABEL_O] * len(tokens)
    if not is_address:
        return labels
    found_first = False
    for i, (_, ts, te) in enumerate(tokens):
        if ts == te:
            continue
        if ts >= start and te <= end:
            if not found_first:
                labels[i] = LABEL_B
                found_first = True
            else:
                labels[i] = LABEL_I
    return labels


# --------------------------------------------------------------------------
# Lexicon/regex tagger (deterministic twin of the distributed tagger)
# --------------------------------------------------------------------------

# Top-level (si/do) region names that can *start* an address, incl. aliases —
# derived from the same admin-region table canonicalization joins against,
# so every name the tagger opens a span on also canonicalizes.
START_REGIONS = frozenset(
    n
    for _rid, name, _level, parent, aliases in ADMIN_REGIONS
    if parent is None
    for n in (name, *aliases)
)

# A continuation token extends an open address span: an admin-unit suffix
# (시/군/구/동/읍/면/리/로/길), a road-number token (123번길 / 45번지), a
# building number (507, 123-45). Derived from the validation patterns,
# reference: app/utils/preprocess.py:284-288.
CONT_RE = re.compile(r"^(?:\S+[시군구동읍면리로길]|\d+(?:-\d+)?(?:번길|번지)?)$")


def is_start_token(tok: str) -> bool:
    return tok in START_REGIONS


def is_continuation_token(tok: str) -> bool:
    return CONT_RE.match(tok) is not None


def lexicon_bio_tags(tokens: list[tuple[str, int, int]]) -> list[str]:
    """Deterministic BIO tagging: B at a top-level region token, I for each
    following continuation token until the first non-matching token.

    This is the sandbox's pluggable-tagger default (SURVEY.md §7.5): same BIO
    label contract as the neural tagger (app/services/ml_model.py:21), fully
    deterministic so tests and oracle SQL can predict its output exactly.
    """
    labels = [LABEL_O] * len(tokens)
    open_span = False
    for i, (tok, ts, te) in enumerate(tokens):
        if ts == te:
            continue
        if is_start_token(tok):
            labels[i] = LABEL_B
            open_span = True
        elif open_span and is_continuation_token(tok):
            labels[i] = LABEL_I
        else:
            open_span = False
    return labels


def token_confidences(labels: list[str]) -> list[float]:
    """Per-token confidence for the deterministic tagger: softmax-surrogate
    constants echoing app/utils/preprocess.py:291-293."""
    return [CONF_ADDRESS if lab != LABEL_O else CONF_OTHER for lab in labels]


# --------------------------------------------------------------------------
# BIO → span merge (I5) — exact port of the reference state machine
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Mention:
    text: str
    start: int
    end: int
    confidence: float


def merge_spans(
    text: str,
    tokens: list[tuple[str, int, int]],
    labels: list[str],
    confidences: list[float],
) -> list[Mention]:
    """reference: app/services/ml_model.py:352-437.

    Iterate token positions, skipping special tokens (offset start == end):
    B flushes any open span then opens one; I extends *unconditionally*
    (ml_model.py:393-398 appends with no open-span check — a bare-I run DOES
    produce a span when later flushed; we replicate that quirk, not textbook
    BIO); O flushes; a trailing open span is flushed at the end
    (ml_model.py:421-435). Span text is the char slice of the first token's
    start to the last token's end (ml_model.py:369); confidence is the mean of
    member-token confidences (ml_model.py:370-372).
    """
    mentions: list[Mention] = []
    cur_indices: list[tuple[int, int]] = []
    cur_confs: list[float] = []

    def flush() -> None:
        if cur_indices:
            s, e = cur_indices[0][0], cur_indices[-1][1]
            mentions.append(
                Mention(text[s:e], s, e, sum(cur_confs) / len(cur_confs))
            )
            cur_indices.clear()
            cur_confs.clear()

    for (tok, ts, te), lab, conf in zip(tokens, labels, confidences):
        if ts == te:  # special token / padding skip, ml_model.py:361-362
            continue
        if lab == LABEL_B:
            flush()
            cur_indices.append((ts, te))
            cur_confs.append(conf)
        elif lab == LABEL_I:  # unconditional extend (bare-I quirk)
            cur_indices.append((ts, te))
            cur_confs.append(conf)
        else:  # O
            flush()
    flush()
    return mentions


def extract_addresses(text: str) -> list[Mention]:
    """End-to-end single-text extraction: tokenize → lexicon BIO → merge.

    The oracle twin of the pipeline's extract stage (the reference's
    POST /extract-address path, app/main.py:92-118 →
    app/services/ml_model.py:307-437)."""
    tokens = tokenize_ws(text)
    labels = lexicon_bio_tags(tokens)
    confs = token_confidences(labels)
    return merge_spans(text, tokens, labels, confs)


# --------------------------------------------------------------------------
# Address-pattern validation (P7)
# --------------------------------------------------------------------------

VALID_PATTERNS = [
    r"(.+[시군구])(.+[동읍면])(.+[길로])?(.+[번지번길])?",
    r"(.+도)(.+[시군])(.+[동읍면])(.+[길로])?(.+[번지번길])?",
    r"(.+[특별시광역시])(.+[구])(.+[동])(.+[길로])?(.+[번지번길])?",
]


def validate_address_pattern(address: str) -> tuple[bool, float]:
    """reference: app/utils/preprocess.py:282-295 — exact semantics, incl.
    the hard-coded 0.85/0.15 confidence."""
    is_valid = any(re.search(p, address) for p in VALID_PATTERNS)
    return is_valid, (0.85 if is_valid else 0.15)


# --------------------------------------------------------------------------
# Span-level P/R/F1 (A7)
# --------------------------------------------------------------------------

def span_prf(
    pred: set[tuple], gold: set[tuple]
) -> dict[str, float]:
    """Exact-span-match evaluation, the join semantics of seqeval span scoring
    (reference: app/services/train_service.py:423-485). Keys are any hashable
    span identity, e.g. (doc_id, start, end).

    Faithfully reproduces the reference bug where ``accuracy`` is assigned the
    precision score (train_service.py:472)."""
    matched = len(pred & gold)
    precision = matched / len(pred) if pred else 0.0
    recall = matched / len(gold) if gold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "accuracy": precision,  # reference bug preserved, train_service.py:472
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
