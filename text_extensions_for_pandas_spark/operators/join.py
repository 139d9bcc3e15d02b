"""Span join operators (reference ``spanner/join.py``), Spark-first.

All three joins deliberately avoid Catalyst's fallback plan for interval
predicates (BroadcastNestedLoopJoin) by rewriting to *equijoins* that
shuffle-hash or broadcast cleanly — the same physical idea as the reference
(gap replication ``spanner/join.py:63-79``, interval blocking
``spanner/join.py:126-155``), which is the standard rewrite OSS Spark does
not perform automatically (SURVEY.md §4).

Inputs are span tables ``(doc_id, span …)``; pairs never join across
documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from text_extensions_for_pandas_spark.functions import spans as S


def _prefixed(df: DataFrame, span_col: str, name: str, doc_col: str) -> DataFrame:
    """Select (doc, span) renaming the span to ``name`` and prefixing every
    other payload column with ``name_``."""
    cols = [F.col(doc_col)]
    for c in df.columns:
        if c == doc_col:
            continue
        cols.append(F.col(c).alias(name if c == span_col else f"{name}_{c}"))
    return df.select(*cols)


def adjacent_join(
    first: DataFrame,
    second: DataFrame,
    first_name: str = "first",
    second_name: str = "second",
    min_gap: int = 0,
    max_gap: int = 0,
    span_col: str = "token_span",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Pairs (first, second) where ``second`` begins ``min_gap..max_gap``
    tokens after ``first`` ends:
    ``min_gap <= second.begin_token - first.end_token <= max_gap``.

    Reference: ``adjacent_join`` (``spanner/join.py:28-85``).  Keeps the
    reference's gap-replication rewrite (``spanner/join.py:63-79``): the
    first input is exploded once per gap value (bounded, typically 0..2) so
    the join is a pure equijoin on ``(doc_id, required_begin_token)`` —
    shuffle-hash/broadcast-able at any scale, never a nested-loop band join.
    """
    if max_gap < min_gap:
        raise ValueError(
            f"max_gap ({max_gap}) must be >= min_gap ({min_gap})"
        )  # guard: F.sequence would silently generate a descending range
    span_f = f"{first_name}"
    span_s = f"{second_name}"
    lhs = _prefixed(first, span_col, span_f, doc_col).withColumn(
        "__join_begin",
        F.explode(
            F.sequence(
                F.col(span_f)["end_token"] + F.lit(min_gap),
                F.col(span_f)["end_token"] + F.lit(max_gap),
            )
        ),
    )
    rhs = _prefixed(second, span_col, span_s, doc_col).withColumnRenamed(
        doc_col, "__rhs_doc"
    )
    out = lhs.join(
        rhs,
        (F.col(doc_col) == F.col("__rhs_doc"))
        & (F.col(span_s)["begin_token"] == F.col("__join_begin")),
        "inner",
    ).drop("__join_begin", "__rhs_doc")
    return out


def _blocked_pairs(
    first: DataFrame,
    second: DataFrame,
    first_name: str,
    second_name: str,
    span_col: str,
    doc_col: str,
    block_size: int | None,
    contains: bool = False,
) -> DataFrame:
    """Interval-blocking candidate generation shared by overlap/contain join.

    Each span is replicated into every fixed-size block it touches
    (``explode(sequence(begin div B, end div B))``), candidates are found by
    equijoin on ``(doc_id, block)``, then deduplicated.  With ``contains``
    the ``first`` (container) side also takes block ``end div B``, where a
    zero-length span at its end lies.  Reference:
    ``spanner/join.py:126-155``; block size defaults to the mean span length
    of the inputs, estimated with a cheap pre-aggregation
    (reference ``spanner/join.py:129-134``) that runs inside the join's
    action, not at definition.
    """
    if block_size is None:
        # Sample-bounded estimate: block size is a performance heuristic
        # (any value yields identical results after the residual filter),
        # so don't pay a full evaluation of both input subplans for it —
        # limit() caps the estimate at a few partitions regardless of input
        # size.  It is a scalar subquery of the join's own plan, so building
        # the join launches no job.
        block_size = (
            first.select(S.length(span_col).alias("l")).limit(10_000)
            .unionAll(
                second.select(S.length(span_col).alias("l")).limit(10_000)
            )
            .agg(
                F.greatest(
                    F.coalesce(F.avg("l").cast("long"), F.lit(1)), F.lit(1)
                )
            )
            .scalar()
        )

    def blocks(span: Column, through_end: bool = False) -> Column:
        # max(end-1, begin) keeps zero-length spans in exactly one block
        last = span["end"] if through_end else F.greatest(span["end"] - 1, span["begin"])
        return F.sequence(
            F.floor(span["begin"] / block_size), F.floor(last / block_size)
        )

    lhs = _prefixed(first, span_col, first_name, doc_col).withColumn(
        "__block", F.explode(blocks(F.col(first_name), through_end=contains))
    )
    rhs = (
        _prefixed(second, span_col, second_name, doc_col)
        .withColumn("__block", F.explode(blocks(F.col(second_name))))
        .withColumnRenamed(doc_col, "__rhs_doc")
        .withColumnRenamed("__block", "__rhs_block")
    )
    pairs = lhs.join(
        rhs,
        (F.col(doc_col) == F.col("__rhs_doc"))
        & (F.col("__block") == F.col("__rhs_block")),
        "inner",
    ).drop("__block", "__rhs_block", "__rhs_doc")
    # a pair can meet in several blocks → dedup on the pair key
    return pairs.dropDuplicates([doc_col, first_name, second_name])


def overlap_join(
    first: DataFrame,
    second: DataFrame,
    first_name: str = "first",
    second_name: str = "second",
    span_col: str = "span",
    doc_col: str = "doc_id",
    block_size: int | None = None,
) -> DataFrame:
    """All pairs of overlapping spans (reference ``spanner/join.py:88-171``):
    interval-blocked equijoin + exact residual ``overlaps`` filter."""
    pairs = _blocked_pairs(
        first, second, first_name, second_name, span_col, doc_col, block_size
    )
    return pairs.filter(S.overlaps(F.col(first_name), F.col(second_name)))


def contain_join(
    first: DataFrame,
    second: DataFrame,
    first_name: str = "first",
    second_name: str = "second",
    span_col: str = "span",
    doc_col: str = "doc_id",
    block_size: int | None = None,
) -> DataFrame:
    """Pairs where ``first`` contains ``second``
    (reference ``spanner/join.py:174-203``): blocked equijoin + containment
    residual filter."""
    pairs = _blocked_pairs(
        first, second, first_name, second_name, span_col, doc_col, block_size,
        contains=True,
    )
    return pairs.filter(S.contains(F.col(first_name), F.col(second_name)))


def unpack_semijoin(
    regions: DataFrame,
    model_results: DataFrame,
    span_cols: list[str],
    region_span_col: str = "region",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Shift model-output spans from region-relative offsets to document
    offsets (reference ``unpack_semijoin``, ``spanner/join.py:206-244``).

    ``model_results`` rows carry a region key (``doc_col`` +
    ``region_span_col`` begin offset) and region-relative span columns named
    in ``span_cols``; each is shifted by the region's begin.
    """
    out = model_results.join(
        F.broadcast(regions.select(doc_col, region_span_col)), doc_col
    )
    off = F.col(region_span_col)["begin"]
    for c in span_cols:
        out = out.withColumn(
            c, S.make_span(F.col(c)["begin"] + off, F.col(c)["end"] + off)
        )
    return out.drop(region_span_col)
