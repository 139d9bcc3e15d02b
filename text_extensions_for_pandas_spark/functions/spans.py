"""Core span expression library.

A span is a column of type ``STRUCT<begin INT, end INT>`` — a half-open
character interval ``[begin, end)`` into the text of the document identified
by the row's ``doc_id`` column.  ``NULL`` (the whole struct) is the NA span;
this replaces the reference's ``(-1, -1)`` sentinel
(reference ``array/span.py:104-144``, null sentinel ``array/span.py:118``).

Token spans use the same struct shape with token offsets
(``STRUCT<begin_token INT, end_token INT>``); char offsets are derived by
joining the tokens table (reference ``array/token_span.py:155-162``).

All functions build Catalyst column expressions — they are evaluated JVM-side
inside whole-stage codegen, mirroring the reference's vectorized numpy masks
(reference ``array/span.py:1061-1116``) without any Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPAN_DDL = "struct<begin:int,end:int>"
TOKEN_SPAN_DDL = "struct<begin_token:int,end_token:int>"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Constructors
# ---------------------------------------------------------------------------

def make_span(begin: Column | str, end: Column | str) -> Column:
    """Build a char span struct from begin/end columns.

    Reference: ``Span.__init__`` (``array/span.py:104-144``).
    """
    return F.struct(
        _col(begin).cast("int").alias("begin"),
        _col(end).cast("int").alias("end"),
    )


def make_token_span(begin_token: Column | str, end_token: Column | str) -> Column:
    """Build a token span struct (reference ``array/token_span.py:101-173``)."""
    return F.struct(
        _col(begin_token).cast("int").alias("begin_token"),
        _col(end_token).cast("int").alias("end_token"),
    )


def null_span() -> Column:
    """The NA span — SQL NULL struct (replaces the (-1,-1) sentinel,
    reference ``array/span.py:155-164``; all NAs compare equal via ``<=>``)."""
    return F.lit(None).cast(SPAN_DDL)


# ---------------------------------------------------------------------------
# Projections
# ---------------------------------------------------------------------------

def begin(span: Column | str) -> Column:
    return _col(span)["begin"]


def end(span: Column | str) -> Column:
    return _col(span)["end"]


def length(span: Column | str) -> Column:
    s = _col(span)
    return s["end"] - s["begin"]


def covered_text(text: Column | str, span: Column | str) -> Column:
    """``target_text[begin:end]`` (reference ``array/span.py:994-1014``).

    ``text`` is the document text column (typically joined in from the
    broadcastable ``documents`` dimension table — the relational form of the
    reference's ``StringTable``).  SQL ``substring`` is 1-based.
    """
    s = _col(span)
    return F.substring(_col(text), s["begin"] + 1, s["end"] - s["begin"])


def normalized_covered_text(text: Column | str, span: Column | str) -> Column:
    """Lowercased covered text (reference ``array/span.py:1016-1029``)."""
    return F.lower(covered_text(text, span))


def context(text: Column | str, span: Column | str, num_chars: int) -> Column:
    """Span widened by ``num_chars`` on both sides, clipped to the document
    (reference ``Span.context``, ``array/span.py:254-269``)."""
    s = _col(span)
    t = _col(text)
    return make_span(
        F.greatest(s["begin"] - F.lit(num_chars), F.lit(0)),
        F.least(s["end"] + F.lit(num_chars), F.length(t)),
    )


def as_tuple_cols(span: Column | str, prefix: str = "") -> list[Column]:
    """Explode a span struct to flat begin/end columns
    (reference ``as_frame``/``as_tuples``, ``array/span.py:986-992``)."""
    s = _col(span)
    return [s["begin"].alias(f"{prefix}begin"), s["end"].alias(f"{prefix}end")]


# ---------------------------------------------------------------------------
# Predicates (reference semantics §1.2 of SURVEY.md)
# ---------------------------------------------------------------------------

def same_doc(doc1: Column | str, doc2: Column | str) -> Column:
    """Same-document mask (reference ``same_target_text``,
    ``array/span.py:1042-1059``)."""
    return _col(doc1) == _col(doc2)


def overlaps(s1: Column | str, s2: Column | str) -> Column:
    """Vectorized overlap predicate (reference ``array/span.py:1061-1094``):
    identical endpoints (incl. zero-length) count as overlapping, otherwise
    NOT disjoint.  Caller must additionally require same ``doc_id``.
    """
    a, b = _col(s1), _col(s2)
    identical = (a["begin"] == b["begin"]) & (a["end"] == b["end"])
    disjoint = (b["begin"] >= a["end"]) | (b["end"] <= a["begin"])
    return identical | ~disjoint


def contains(s1: Column | str, s2: Column | str) -> Column:
    """True iff ``s1`` contains ``s2`` — ``b2>=b1 AND e2<=e1``; zero-length
    spans are containable (reference ``array/span.py:1096-1116``)."""
    a, b = _col(s1), _col(s2)
    return (b["begin"] >= a["begin"]) & (b["end"] <= a["end"])


def before(s1: Column | str, s2: Column | str) -> Column:
    """Strictly-before partial order: ``e1 <= b2``
    (reference ``__lt__``, ``array/span.py:775-806``)."""
    return _col(s1)["end"] <= _col(s2)["begin"]


def span_eq(s1: Column | str, s2: Column | str) -> Column:
    """Null-safe span equality — NA == NA is true
    (reference ``array/span.py:539-578``, ``718-723``)."""
    return _col(s1).eqNullSafe(_col(s2))


# ---------------------------------------------------------------------------
# Combinators / aggregates
# ---------------------------------------------------------------------------

def merge_spans(s1: Column | str, s2: Column | str) -> Column:
    """Minimal covering span of two spans — span ``+``
    (reference ``array/span.py:76-101``)."""
    a, b = _col(s1), _col(s2)
    return make_span(F.least(a["begin"], b["begin"]), F.greatest(a["end"], b["end"]))


def covering_span(span: Column | str) -> Column:
    """Aggregate: minimal covering span of a group — the span "sum"
    (reference ``array/span.py:816-842``).  Use inside ``groupBy(...).agg``;
    NULL spans are ignored (min/max skip nulls)."""
    s = _col(span)
    return make_span(F.min(s["begin"]), F.max(s["end"]))


def merge_token_spans(s1: Column | str, s2: Column | str) -> Column:
    """Token-span ``+`` keeping token offsets
    (reference ``array/token_span.py:76-98``)."""
    a, b = _col(s1), _col(s2)
    return make_token_span(
        F.least(a["begin_token"], b["begin_token"]),
        F.greatest(a["end_token"], b["end_token"]),
    )


# ---------------------------------------------------------------------------
# Token span <-> char span derivation
# ---------------------------------------------------------------------------

def token_span_to_char_span(
    token_spans: DataFrame,
    tokens: DataFrame,
    token_span_col: str = "token_span",
    out_col: str = "span",
    doc_col: str = "doc_id",
    token_idx_col: str = "token_idx",
    token_char_span_col: str = "span",
) -> DataFrame:
    """Derive char spans from token spans by joining the tokens table.

    ``begin = tokens.begin[begin_token]``; ``end = tokens.end[end_token-1]``
    or ``begin`` when zero-length (reference ``array/token_span.py:155-162``,
    array form ``array/token_span.py:859-892``); the NA token span gives the
    NA span.

    Two equijoins on ``(doc_id, token_idx)`` — both sides already partitioned
    by doc, and Catalyst broadcasts whichever side is small.
    """
    ts = _col(token_span_col)
    b_tok = tokens.select(
        F.col(doc_col).alias("__b_doc"),
        F.col(token_idx_col).alias("__b_idx"),
        F.col(token_char_span_col)["begin"].alias("__b_begin"),
    )
    e_tok = tokens.select(
        F.col(doc_col).alias("__e_doc"),
        F.col(token_idx_col).alias("__e_idx"),
        F.col(token_char_span_col)["end"].alias("__e_end"),
    )
    res = (
        token_spans.join(
            b_tok,
            (F.col(doc_col) == F.col("__b_doc"))
            & (ts["begin_token"] == F.col("__b_idx")),
            "left",
        )
        .join(
            e_tok,
            (F.col(doc_col) == F.col("__e_doc"))
            & (ts["end_token"] - 1 == F.col("__e_idx")),
            "left",
        )
        .withColumn(
            out_col,
            F.when(ts.isNull(), null_span())
            .when(
                ts["end_token"] == ts["begin_token"],
                make_span(F.col("__b_begin"), F.col("__b_begin")),
            ).otherwise(make_span(F.col("__b_begin"), F.col("__e_end"))),
        )
        .drop("__b_doc", "__b_idx", "__b_begin", "__e_doc", "__e_idx", "__e_end")
    )
    return res
