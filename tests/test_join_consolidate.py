"""Span join + consolidate tests — ported from the reference's
``spanner/test_join.py`` / ``test_consolidate.py`` semantics."""

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.functions import spans as S
from text_extensions_for_pandas_spark.operators.consolidate import consolidate
from text_extensions_for_pandas_spark.operators.join import (
    adjacent_join,
    contain_join,
    overlap_join,
)


def tspan_df(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, b int, e int")
    return df.select("doc_id", S.make_token_span("b", "e").alias("token_span"))


def span_df(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, b int, e int")
    return df.select("doc_id", S.make_span("b", "e").alias("span"))


def test_adjacent_join_gap0(spark):
    first = tspan_df(spark, [(0, 0, 2), (0, 5, 6), (1, 0, 1)])
    second = tspan_df(spark, [(0, 2, 3), (0, 3, 4), (1, 2, 3)])
    out = adjacent_join(first, second, min_gap=0, max_gap=0)
    got = sorted(
        (r.doc_id, r.first.begin_token, r.first.end_token,
         r.second.begin_token, r.second.end_token)
        for r in out.collect()
    )
    assert got == [(0, 0, 2, 2, 3)]  # only exact adjacency, never cross-doc


def test_adjacent_join_gap_range(spark):
    first = tspan_df(spark, [(0, 0, 2)])
    second = tspan_df(spark, [(0, 2, 3), (0, 3, 4), (0, 5, 6)])
    out = adjacent_join(first, second, min_gap=0, max_gap=2)
    got = sorted((r.second.begin_token) for r in out.collect())
    assert got == [2, 3]  # gaps 0 and 1; gap 3 excluded


def test_adjacent_join_empty_input(spark):
    first = tspan_df(spark, [(0, 0, 2)])
    second = tspan_df(spark, []) if False else tspan_df(spark, [(9, 0, 1)]).filter("doc_id = -1")
    assert adjacent_join(first, second).count() == 0


def test_overlap_join_matrix(spark):
    first = span_df(spark, [(0, 0, 10), (0, 20, 30), (1, 0, 5)])
    second = span_df(spark, [(0, 5, 15), (0, 10, 12), (0, 25, 25), (1, 100, 110)])
    out = overlap_join(first, second)
    got = sorted(
        (r.doc_id, r.first.begin, r.second.begin) for r in out.collect()
    )
    # (0,0,10) overlaps (5,15); (0,20,30) overlaps zero-length (25,25);
    # (0,10,12) touches (0,0,10) only at boundary → no; cross-doc → no
    assert got == [(0, 0, 5), (0, 20, 25)]


def test_overlap_join_identical_zero_length(spark):
    first = span_df(spark, [(0, 7, 7)])
    second = span_df(spark, [(0, 7, 7), (0, 7, 9)])
    out = overlap_join(first, second)
    got = sorted((r.second.begin, r.second.end) for r in out.collect())
    assert got == [(7, 7)]  # identical zero-length overlap; (7,9) begins at end → no


def test_contain_join(spark):
    first = span_df(spark, [(0, 0, 10), (0, 20, 25)])
    second = span_df(spark, [(0, 2, 5), (0, 0, 10), (0, 8, 12), (0, 20, 20)])
    out = contain_join(first, second)
    got = sorted((r.first.begin, r.second.begin, r.second.end) for r in out.collect())
    assert got == [(0, 0, 10), (0, 2, 5), (20, 20, 20)]


def test_overlap_join_block_size_robust(spark):
    # same result regardless of blocking factor
    first = span_df(spark, [(0, 0, 100), (0, 500, 502)])
    second = span_df(spark, [(0, 50, 60), (0, 501, 600), (0, 200, 300)])
    expected = sorted(
        (r.first.begin, r.second.begin)
        for r in overlap_join(first, second, block_size=1000).collect()
    )
    for bs in (1, 7, 64):
        got = sorted(
            (r.first.begin, r.second.begin)
            for r in overlap_join(first, second, block_size=bs).collect()
        )
        assert got == expected == [(0, 50), (500, 501)]


@pytest.mark.parametrize("join", [overlap_join, contain_join])
def test_span_join_estimates_block_size_without_a_job(spark, join):
    """With ``block_size=None`` the mean-length estimate is part of the
    join's plan: building the join launches no job, and the action gives
    the same rows as an explicit block size."""
    first = span_df(spark, [(0, 0, 100), (0, 500, 502), (1, 3, 9)])
    second = span_df(spark, [(0, 50, 60), (0, 501, 502), (1, 4, 4), (1, 9, 9)])
    sc = spark.sparkContext
    group = f"span-join-build-{join.__name__}"
    sc.setJobGroup(group, join.__name__)
    try:
        out = join(first, second)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    key = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.first.begin, r.first.end, r.second.begin, r.second.end)
        for r in df.collect()
    )
    assert key(out) == key(join(first, second, block_size=7))


def test_consolidate_left_to_right(spark):
    # reference semantics: sort (begin asc, end desc), keep longest
    # non-overlapping at each position
    rows = [
        (0, 0, 10),   # kept (longest at 0)
        (0, 0, 5),    # dropped (same begin, shorter)
        (0, 5, 15),   # dropped (begins before 10)
        (0, 10, 20),  # kept (begins at threshold 10)
        (0, 12, 30),  # dropped
        (1, 3, 4),    # kept (other doc)
    ]
    df = span_df(spark, rows)
    out = consolidate(df, on="span")
    got = sorted((r.doc_id, r.span.begin, r.span.end) for r in out.collect())
    assert got == [(0, 0, 10), (0, 10, 20), (1, 3, 4)]


def test_consolidate_keeps_payload_and_zero_length_dups(spark):
    df = spark.createDataFrame(
        [(0, 5, 5, "a"), (0, 5, 5, "b"), (0, 0, 3, "c")],
        "doc_id long, b int, e int, tag string",
    ).select("doc_id", S.make_span("b", "e").alias("span"), "tag")
    out = consolidate(df, on="span")
    got = sorted((r.span.begin, r.span.end, r.tag) for r in out.collect())
    # both zero-length dups kept (reference scan behavior), payload intact
    assert got == [(0, 3, "c"), (5, 5, "a"), (5, 5, "b")]
