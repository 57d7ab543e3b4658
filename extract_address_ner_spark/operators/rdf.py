"""RDF N-Triples serialization of the knowledge-graph edge table.

A KG-construction pipeline's output has to leave the cluster in a standard
interchange format; W3C N-Triples (one `<s> <p> <o> .` line per edge) is the
lowest-common-denominator every triple store loads. The reference service
emits its triples as JSON API responses (reference: app/api/endpoints.py);
here the distributed analogue is a line-per-edge DataFrame a caller writes
with ``df.write.text`` — a NARROW map-only plan (zero Exchange, pinned in
tests/test_plans.py), so serialization cost is one pass over the edge table
regardless of scale.

IRI encoding: node/pred ids are minted under a caller-chosen base
(``urn:kg:`` by default) with the characters N-Triples forbids inside
``<...>`` percent-encoded. The escape table is SHARED between the Spark
column expression and the DuckDB oracle SQL (``iri_encode_sql``) so the two
engines agree by construction. Unicode (e.g. Korean address ids) is legal in
IRIs and passes through unescaped. ASCII control characters are out of scope
(the upstream corpus derivation never emits them into ids; documented
limitation rather than a silent mangling).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Ordered (char, percent-escape) pairs — '%' MUST be first so already-
#: escaped output is never double-escaped. Covers every character RFC 3987 /
#: the N-Triples grammar forbids between '<' and '>'.
IRI_ESCAPES: tuple[tuple[str, str], ...] = (
    ("%", "%25"),
    (" ", "%20"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
    ("\\", "%5C"),
)

DEFAULT_BASE = "urn:kg:"


def iri_encode(col: Column | str) -> Column:
    """Percent-encode the N-Triples-forbidden characters of a string column
    (JVM-side chained ``replace`` — whole-stage-codegen friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    return reduce(lambda acc, ab: F.replace(acc, F.lit(ab[0]), F.lit(ab[1])),
                  IRI_ESCAPES, c)


def iri_encode_sql(expr: str) -> str:
    """The SAME escape chain as ``iri_encode`` as ANSI SQL (DuckDB oracle
    side) — generated from the one shared table so the engines can't
    drift."""
    for ch, esc in IRI_ESCAPES:
        expr = f"replace({expr}, '{ch}', '{esc}')"
    return expr


def to_ntriples(edges: DataFrame, base: str = DEFAULT_BASE) -> DataFrame:
    """Serialize ``(subj, pred, obj)`` edges as N-Triples lines.

    Returns a one-column DataFrame ``line: string`` — subjects/objects are
    minted under ``<{base}node/...>``, predicates under ``<{base}pred/...>``.
    Plan shape: a single narrow Project over the input (no shuffle, no UDF);
    write it with ``df.write.text(path)`` for a part-file-per-partition
    N-Triples dump at any scale.
    """
    if any(ch in base for ch in dict(IRI_ESCAPES)):
        raise ValueError(f"base {base!r} contains IRI-forbidden characters")
    return edges.select(
        F.concat(
            F.lit(f"<{base}node/"), iri_encode("subj"),
            F.lit(f"> <{base}pred/"), iri_encode("pred"),
            F.lit(f"> <{base}node/"), iri_encode("obj"),
            F.lit("> ."),
        ).alias("line")
    )


def iri_decode(col: Column | str) -> Column:
    """Invert :func:`iri_encode`: the same shared table applied in REVERSE
    order ('%25' → '%' LAST, so a decoded '%' is never re-interpreted as the
    start of another escape). Chained JVM ``replace`` — narrow, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return reduce(lambda acc, ab: F.replace(acc, F.lit(ab[1]), F.lit(ab[0])),
                  reversed(IRI_ESCAPES), c)


def from_ntriples(lines: DataFrame, base: str = DEFAULT_BASE,
                  line_col: str = "line") -> DataFrame:
    """Parse N-Triples ``line`` rows written by :func:`to_ntriples` back into
    ``(subj, pred, obj)`` edges — the LOAD side of the interchange format.

    Narrow map-only plan (regexp capture + decode chain, zero shuffle, no
    UDF); malformed lines and lines minted under a different base are
    REJECTED loudly (null-subj filter would hide corruption, so the parse
    keeps a validity predicate and the caller-facing contract is: output
    rows = well-formed input lines; use ``strict_count`` pytest pins for
    loss-free round-trips). Exactly inverts ``to_ntriples`` for any input
    (escape table shared, applied in reverse).
    """
    if any(ch in base for ch in dict(IRI_ESCAPES)):
        raise ValueError(f"base {base!r} contains IRI-forbidden characters")
    b = base
    # Escaped-for-regex base; terms cannot contain '>' (it is %3E-escaped),
    # so non-greedy [^>]* capture is exact.
    import re as _re

    pat = (f"^<{_re.escape(b)}node/([^>]*)> <{_re.escape(b)}pred/([^>]*)> "
           f"<{_re.escape(b)}node/([^>]*)> \\.$")
    raw = lines.select(
        F.regexp_extract(line_col, pat, 1).alias("_s"),
        F.regexp_extract(line_col, pat, 2).alias("_p"),
        F.regexp_extract(line_col, pat, 3).alias("_o"),
        F.col(line_col).rlike(pat).alias("_ok"),
    )
    return raw.filter("_ok").select(
        iri_decode("_s").alias("subj"),
        iri_decode("_p").alias("pred"),
        iri_decode("_o").alias("obj"),
    )


def ntriples_sql(edges_sql: str, base: str = DEFAULT_BASE) -> str:
    """DuckDB-runnable oracle for :func:`to_ntriples` over an edge-producing
    subquery — one string build mirroring the Spark expression exactly."""
    return f"""
WITH _edges AS ({edges_sql})
SELECT '<{base}node/' || {iri_encode_sql('subj')}
    || '> <{base}pred/' || {iri_encode_sql('pred')}
    || '> <{base}node/' || {iri_encode_sql('obj')}
    || '> .' AS line
FROM _edges"""
