"""Consolidate — overlap elimination among spans
(reference ``spanner/consolidate.py:29-83``).

The ``left_to_right`` policy walks spans in (begin asc, end desc) order and
keeps the longest non-overlapping span at each position: a span is kept iff
its begin >= the end of the most recently kept span.  This scan is
inherently sequential *per document*, so it runs as a grouped-map pandas UDF
partitioned by ``doc_id`` — each document's spans are consolidated
independently and in parallel across the corpus (SURVEY.md §4 "known-hard
items").  Within each group the order is one numpy ``lexsort``
(O(n log n)), but the scan that follows is a Python ``for`` loop over
every span (:func:`_greedy_left_to_right`).  :func:`consolidate_array` runs
the same policy as a column fold, with no Python worker, for plans where
one row holds a document's spans.

The pandas island stays because the column fold does not scale with
matches per document.  A ``collect_list`` + :func:`consolidate_array` +
``inline`` plan was measured against it (``local[4]``, same digests): on
the sf0.1 registry input (26,849 rows) the fold was faster, 0.50 -> 0.21 s,
but on one document with 20,000 matches it was 10-18x slower, 0.44 ->
4.5 s with overlapping matches and 0.44 -> 7.9 s with disjoint ones, since
the fold's ``array_append`` copies the kept array at every element.

Edge semantics preserved from the reference scan (``consolidate.py:61-83``):
duplicated zero-length spans are *all* kept (begin == threshold is not
skipped), and ties at the same begin keep only the longest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _greedy_left_to_right(
    docs: np.ndarray, begins: np.ndarray, ends: np.ndarray
) -> np.ndarray:
    """Positional indices retained by the left-to-right policy, applied
    independently per document (``docs`` are dense int codes).  One pass over
    (doc, begin asc, end desc) order with the threshold reset at doc
    boundaries."""
    order = np.lexsort((-ends, begins, docs))
    keep: list[int] = []
    threshold = -1 << 62
    cur_doc = -1
    for i in order:
        if docs[i] != cur_doc:
            cur_doc = docs[i]
            threshold = -1 << 62
        if begins[i] >= threshold:
            keep.append(i)
            threshold = ends[i]
    return np.asarray(keep, dtype=np.int64)


def consolidate_array(spans_col, element_type: str = "struct<begin:int,end:int>"):
    """Column-level left-to-right consolidation over an array of span
    structs — same policy as :func:`consolidate`, for plans where one row
    already holds a whole document's spans (the streaming shape: no
    shuffle, no state).  ``element_type`` is the array element's DDL (extra
    fields beyond begin/end ride along untouched).

    A per-row fold over a short match array is fine here — unlike the
    corpus-wide hot paths, the array is as long as one document's match
    list, so the non-codegen HOF cost is bounded.
    """
    ordered = F.array_sort(
        spans_col,
        lambda a, b: F.when(
            a["begin"] != b["begin"], a["begin"] - b["begin"]
        ).otherwise(b["end"] - a["end"]),
    )
    folded = F.aggregate(
        ordered,
        F.struct(
            F.lit(-(1 << 62)).cast("long").alias("thr"),
            F.array().cast(f"array<{element_type}>").alias("keep"),
        ),
        lambda acc, s: F.when(
            s["begin"] >= acc["thr"],
            F.struct(
                s["end"].cast("long").alias("thr"),
                F.array_append(acc["keep"], s).alias("keep"),
            ),
        ).otherwise(acc),
        lambda acc: acc["keep"],
    )
    return folded


def consolidate(
    df: DataFrame,
    on: str = "span",
    how: str = "left_to_right",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``df`` that survive overlap elimination on span column ``on``.

    All non-span columns pass through unchanged, like the reference's
    ``df.iloc[ix_to_retain]``.

    Scale shape: one ``applyInPandas`` call per *document* would pay pandas
    setup cost per doc (ruinous for corpora of millions of small docs), so
    docs are hashed into 8 buckets per shuffle partition
    (``spark.sql.shuffle.partitions``) and each UDF call consolidates a
    whole bucket of documents
    with one sort and one scan.  Every document lands entirely in one
    bucket, so semantics are unchanged; bucket count scales the shuffle
    without any per-doc overhead.
    """
    if how != "left_to_right":
        raise ValueError(
            f"'{how}' is not a valid consolidation policy; only "
            f"'left_to_right' is supported"
        )
    schema = df.schema
    # 8 buckets per shuffle partition: few enough that pandas per-call setup
    # amortizes, many enough that one bucket (≈ rows/num_buckets) stays well
    # inside executor memory and AQE can rebalance.
    shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    num_buckets = shuffle * 8

    def _consolidate_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf.drop(columns=["__bucket"])
        docs = pd.factorize(pdf[doc_col])[0]
        spans = pd.DataFrame(pdf[on].tolist(), columns=["begin", "end"])
        keep = _greedy_left_to_right(
            docs, spans["begin"].to_numpy(), spans["end"].to_numpy()
        )
        return pdf.iloc[np.sort(keep)].drop(columns=["__bucket"])

    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(doc_col)), F.lit(num_buckets))
    )
    return bucketed.groupBy("__bucket").applyInPandas(
        _consolidate_bucket, schema=schema
    )
