"""Span expression semantics — ported from the reference's span tests
(``array/test_span.py``), exercised through Spark SQL expressions."""

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.functions import spans as S

TEXT = "This is a test."
# Reference test fixture spans over "This is a test."
#   (0,4)='This' (5,7)='is' (8,9)='a' (10,14)='test' (14,15)='.'


@pytest.fixture(scope="module")
def span_df(spark):
    rows = [(0, 0, 4), (0, 5, 7), (0, 8, 9), (0, 10, 14), (0, 14, 15)]
    df = spark.createDataFrame(rows, "doc_id long, b int, e int")
    docs = spark.createDataFrame([(0, TEXT)], "doc_id long, text string")
    return (
        df.withColumn("span", S.make_span("b", "e"))
        .join(F.broadcast(docs), "doc_id")
    )


def test_covered_text(span_df):
    got = [r[0] for r in span_df.select(S.covered_text("text", "span")).collect()]
    assert sorted(got) == sorted(["This", "is", "a", "test", "."])


def test_normalized_covered_text(span_df):
    got = {r[0] for r in span_df.select(S.normalized_covered_text("text", "span")).collect()}
    assert "this" in got


def test_length_and_projection(span_df):
    rows = span_df.select(
        S.begin("span").alias("b2"), S.end("span").alias("e2"), S.length("span").alias("n")
    ).collect()
    for r in rows:
        assert r.n == r.e2 - r.b2


def test_overlaps_matrix(spark):
    # Mirrors reference overlap semantics (array/span.py:226-242):
    # identical zero-length spans overlap; touching spans do not.
    cases = [
        # (b1,e1,b2,e2,expected)
        (0, 4, 2, 6, True),   # partial overlap
        (0, 4, 4, 8, False),  # touching, half-open → disjoint
        (2, 2, 2, 2, True),   # identical zero-length
        (2, 2, 0, 4, True),   # zero-length inside
        (0, 4, 0, 4, True),   # identical
        (0, 2, 5, 7, False),  # disjoint
        (2, 2, 2, 5, False),  # zero-length at begin boundary → b2>=e1 → disjoint
        (2, 2, 0, 2, False),  # zero-length at end boundary → e2<=b1 → disjoint
    ]
    df = spark.createDataFrame(cases, "b1 int, e1 int, b2 int, e2 int, expected boolean")
    out = df.withColumn(
        "got", S.overlaps(S.make_span("b1", "e1"), S.make_span("b2", "e2"))
    ).collect()
    for r in out:
        assert r.got == r.expected, (r.b1, r.e1, r.b2, r.e2)


def test_contains_matrix(spark):
    cases = [
        (0, 10, 2, 5, True),
        (0, 10, 0, 10, True),
        (0, 10, 5, 12, False),
        (0, 10, 10, 10, True),   # zero-length at end containable
        (2, 5, 0, 10, False),
    ]
    df = spark.createDataFrame(cases, "b1 int, e1 int, b2 int, e2 int, expected boolean")
    out = df.withColumn(
        "got", S.contains(S.make_span("b1", "e1"), S.make_span("b2", "e2"))
    ).collect()
    for r in out:
        assert r.got == r.expected


def test_before_partial_order(spark):
    df = spark.createDataFrame([(0, 4, 5, 7), (0, 4, 2, 6), (5, 7, 0, 4)],
                               "b1 int, e1 int, b2 int, e2 int")
    got = [r[0] for r in df.select(
        S.before(S.make_span("b1", "e1"), S.make_span("b2", "e2"))).collect()]
    assert got == [True, False, False]


def test_merge_and_covering(spark):
    df = spark.createDataFrame([(0, 0, 4), (0, 10, 14)], "doc_id long, b int, e int")
    df = df.withColumn("span", S.make_span("b", "e"))
    merged = df.groupBy("doc_id").agg(S.covering_span("span").alias("cov")).collect()[0]
    assert (merged.cov.begin, merged.cov.end) == (0, 14)
    two = df.agg(
        S.merge_spans(F.min("span"), F.max("span")).alias("m")
    ).collect()[0]
    assert (two.m.begin, two.m.end) == (0, 14)


def test_null_span_eq(spark):
    df = spark.createDataFrame([(1,)], "x int").select(
        S.span_eq(S.null_span(), S.null_span()).alias("eq_null"),
        S.span_eq(S.make_span(F.lit(0), F.lit(4)), S.null_span()).alias("eq_mixed"),
    )
    r = df.collect()[0]
    assert r.eq_null is True and r.eq_mixed is False


def test_context(spark):
    docs = spark.createDataFrame([(0, TEXT, 10, 14)], "doc_id long, text string, b int, e int")
    r = docs.select(S.context("text", S.make_span("b", "e"), 3).alias("c")).collect()[0]
    assert (r.c.begin, r.c.end) == (7, 15)  # clipped to len(text)==15


def test_same_doc(spark):
    # reference same_target_text: a mask of "same target text"; here the
    # target text is the doc_id, and a NULL doc (an NA span's) matches none
    df = spark.createDataFrame(
        [(0, 0), (0, 1), (None, 0), (None, None)], "d1 long, d2 long"
    )
    got = [r[0] for r in df.select(S.same_doc("d1", "d2")).collect()]
    assert got == [True, False, None, None]
    assert df.filter(S.same_doc("d1", "d2")).count() == 1


def test_merge_token_spans(spark):
    # reference TokenSpan.__add__: the minimal token span covering both,
    # in token offsets; the NA span is ignored, as by covering_span
    cases = [((0, 2), (5, 7), (0, 7)), ((5, 7), (0, 2), (0, 7)),
             ((1, 6), (2, 3), (1, 6)), ((3, 3), (3, 5), (3, 5))]
    df = spark.createDataFrame(
        [(a, b) for a, b, _ in cases],
        f"a {S.TOKEN_SPAN_DDL}, b {S.TOKEN_SPAN_DDL}",
    )
    got = [tuple(r[0]) for r in df.select(S.merge_token_spans("a", "b")).collect()]
    assert got == [m for _, _, m in cases]
    na = df.select(S.merge_token_spans(
        "a", F.lit(None).cast(S.TOKEN_SPAN_DDL))).collect()
    assert [tuple(r[0]) for r in na] == [a for a, _, _ in cases]


def test_as_tuple_cols(span_df):
    # reference as_frame/as_tuples: flat begin/end columns per span; the NA
    # span, (-1, -1) in the reference, is a NULL struct here, so both NULL
    got = sorted(tuple(r) for r in span_df.select(*S.as_tuple_cols("span", "s_")).collect())
    assert got == [(0, 4), (5, 7), (8, 9), (10, 14), (14, 15)]
    assert span_df.select(*S.as_tuple_cols("span", "s_")).columns == ["s_begin", "s_end"]
    na = span_df.limit(1).select(*S.as_tuple_cols(S.null_span())).collect()[0]
    assert tuple(na) == (None, None)


def test_token_span_to_char_span(spark):
    # reference token_span.py:155-162: begin = tokens.begin[begin_token],
    # end = tokens.end[end_token - 1], or begin when zero-length; an NA token
    # span derives the NA char span
    tokens = spark.createDataFrame(
        [(0, i, (b, e)) for i, (b, e) in enumerate(
            [(0, 4), (5, 7), (8, 9), (10, 14), (14, 15)])],
        f"doc_id long, token_idx int, span {S.SPAN_DDL}",
    )
    ts = spark.createDataFrame(
        [(0, 0, (0, 1)), (1, 0, (1, 4)), (2, 0, (2, 2)), (3, 0, (0, 5)), (4, 0, None)],
        f"k int, doc_id long, token_span {S.TOKEN_SPAN_DDL}",
    )
    got = {r.k: r.span for r in S.token_span_to_char_span(ts, tokens).collect()}
    assert {k: tuple(v) for k, v in got.items() if k != 4} == {
        0: (0, 4), 1: (5, 14), 2: (8, 8), 3: (0, 15)}
    assert got[4] is None
