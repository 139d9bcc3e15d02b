#!/usr/bin/env python
"""Head-to-head: our Spark operators vs the REFERENCE library itself on the
same corpus, same inputs, asserted-identical outputs.

The reference publishes no benchmark numbers (BASELINE.md), so this script
produces the "matches-or-beats the reference's single-node throughput"
evidence directly: each operator runs once through the reference's eager
pandas implementation (a per-document Python loop — its execution model)
and once as a single Spark plan over the whole corpus on local[32].

Timing discipline:

* Input prep (tokenization, span extraction feeding a join) is excluded on
  BOTH sides — reference ops get pre-built SpanArrays, Spark ops get
  pre-cached DataFrames; only the operator under test is timed.
* Spark results are evaluated with a full-row xxhash64 aggregate (count()
  would let Catalyst prune the very projections being measured).
* Output row counts are asserted equal between the two implementations, so
  a fast-but-wrong plan cannot score.

Usage: python scripts/bench_vs_reference.py [sf_dir]   (default sf0.1)
Prints one JSON line: {op: {"reference_s": .., "spark_s": .., "rows": ..}}.

Needs the reference library ``text_extensions_for_pandas`` importable; the
test suite skips its reference-differential tests without it, but this
script fails at import.  It is kept as the only head-to-head measurement
against the paper's own library (BASELINE.md "Head-to-head").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REGEX_A = r"[a-z]+in[a-z]*"
# sub-word pattern that PARTIALLY overlaps REGEX_A matches ("shining" →
# A=[shin..], B=[..ining]) so the overlap-join comparison exercises real
# interval overlap, not just identical/disjoint spans
REGEX_B = r"in[a-z]+"
DICT_ENTRIES = ["hash join", "sort merge", "table scan", "stream", "spark"]


def _load_reference():
    shim = types.ModuleType("memoized_property")

    def memoized_property(fget):
        attr = "_memo_" + fget.__name__

        @property
        def prop(self):
            if not hasattr(self, attr):
                setattr(self, attr, fget(self))
            return getattr(self, attr)

        return prop

    shim.memoized_property = memoized_property
    sys.modules.setdefault("memoized_property", shim)
    if "/root/reference" not in sys.path:
        sys.path.append("/root/reference")
    import text_extensions_for_pandas as tp

    return tp


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import duckdb
    import pandas as pd

    _load_reference()
    from text_extensions_for_pandas import SpanArray
    from text_extensions_for_pandas.spanner import (
        adjacent_join as ref_adjacent,
        consolidate as ref_consolidate,
        extract_dict as ref_extract_dict,
        extract_regex as ref_extract_regex,
        overlap_join as ref_overlap_join,
    )

    docs_pd = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    results: dict[str, dict] = {}

    # ---- reference side -------------------------------------------------
    # shared input prep (NOT timed): whitespace token spans per document
    def tok_spans(t: str) -> SpanArray:
        off = [(m.start(), m.end()) for m in re.finditer(r"\S+", t)]
        return SpanArray(t, [b for b, _ in off], [e for _, e in off])

    token_series = [pd.Series(tok_spans(t)) for t in docs_pd.text]

    # one column PAST the longest entry: the reference requires every entry
    # None-terminated (``create_dict``, ``spanner/extract.py:96-99``) — its
    # match loop otherwise silently drops max-length matches
    width = max(len(e.split()) for e in DICT_ENTRIES) + 1
    dict_df = pd.DataFrame(
        {
            f"toks_{i}": [
                e.split()[i] if i < len(e.split()) else None
                for e in DICT_ENTRIES
            ]
            for i in range(width)
        }
    )

    pat_a, pat_b = re.compile(REGEX_A), re.compile(REGEX_B)

    t0 = time.time()
    ref_regex_n = sum(len(ref_extract_regex(t, pat_a)) for t in docs_pd.text)
    ref_regex_s = time.time() - t0

    t0 = time.time()
    ref_dict_out = [ref_extract_dict(ts, dict_df) for ts in token_series]
    ref_dict_s = time.time() - t0
    ref_dict_n = sum(len(o) for o in ref_dict_out)

    # overlap join inputs (NOT timed): two regex span sets per document
    spans_a = [ref_extract_regex(t, pat_a) for t in docs_pd.text]
    spans_b = [ref_extract_regex(t, pat_b) for t in docs_pd.text]
    t0 = time.time()
    ref_overlap_n = sum(
        len(ref_overlap_join(pd.Series(a), pd.Series(b)))
        for a, b in zip(spans_a, spans_b)
    )
    ref_overlap_s = time.time() - t0

    # consolidate input (NOT timed): the unconsolidated dict matches
    t0 = time.time()
    ref_consolidate_n = sum(
        len(ref_consolidate(o, on="match")) for o in ref_dict_out if len(o)
    )
    ref_consolidate_s = time.time() - t0

    # adjacent join inputs (NOT timed): even-index tokens vs odd-index
    # tokens as two TokenSpan sets per document
    from text_extensions_for_pandas import TokenSpanArray

    firsts, seconds = [], []
    for ts in token_series:
        arr = ts.array
        fi = list(range(0, len(arr), 2))
        si = list(range(1, len(arr), 2))
        firsts.append(pd.Series(TokenSpanArray(arr, fi, [i + 1 for i in fi])))
        seconds.append(pd.Series(TokenSpanArray(arr, si, [i + 1 for i in si])))
    t0 = time.time()
    ref_adj_n = sum(
        len(ref_adjacent(f, s, min_gap=0, max_gap=2))
        for f, s in zip(firsts, seconds)
    )
    ref_adj_s = time.time() - t0

    # iob_to_spans inputs (NOT timed): deterministic positional IOB2 tags
    # (B at idx%7==0, I at idx%7 in {1,2} — always well-formed)
    from text_extensions_for_pandas.io.conll import (
        iob_to_spans as ref_iob_to_spans,
    )

    iob_inputs = []
    for ts in token_series:
        n = len(ts)
        tags = [
            "B" if i % 7 == 0 else ("I" if i % 7 in (1, 2) else "O")
            for i in range(n)
        ]
        iob_inputs.append(
            pd.DataFrame(
                {
                    "span": ts.array,
                    "ent_iob": tags,
                    "ent_type": [
                        "ENT" if t != "O" else None for t in tags
                    ],
                }
            )
        )
    t0 = time.time()
    ref_iob_n = sum(len(ref_iob_to_spans(df_)) for df_ in iob_inputs)
    ref_iob_s = time.time() - t0

    # align_to_tokens inputs (NOT timed): every 3rd token's char span,
    # realigned against its own tokenization (trivially alignable, which is
    # what the reference requires — it raises on unmatched spans)
    align_spans = []
    for ts in token_series:
        arr = ts.array
        idx = list(range(0, len(arr), 3))
        align_spans.append(
            pd.Series(
                SpanArray(
                    arr.document_text,
                    [int(arr.begin[i]) for i in idx],
                    [int(arr.end[i]) for i in idx],
                )
            )
        )
    t0 = time.time()
    ref_align_n = sum(
        len(TokenSpanArray.align_to_tokens(ts.array, sp))
        for ts, sp in zip(token_series, align_spans)
    )
    ref_align_s = time.time() - t0

    # ---- spark side -----------------------------------------------------
    from pyspark.sql import functions as F

    from text_extensions_for_pandas_spark import get_spark
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.consolidate import (
        consolidate,
    )
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_regex,
        extract_regex_native,
    )
    from text_extensions_for_pandas_spark.operators.join import (
        adjacent_join,
        overlap_join,
    )

    spark = get_spark("bench-vs-reference")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    docs.count()  # warm the scan

    def evaluate(df) -> int:
        n, _ = df.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
        ).collect()[0]
        return int(n)

    t0 = time.time()
    sp_regex_n = evaluate(extract_regex(docs, REGEX_A))
    sp_regex_s = time.time() - t0

    t0 = time.time()
    sp_regex_native_n = evaluate(extract_regex_native(docs, REGEX_A))
    sp_regex_native_s = time.time() - t0

    toks = tokenize_whitespace(docs).cache()
    toks.count()  # input prep, not timed
    d = create_dict(spark, DICT_ENTRIES)
    t0 = time.time()
    matches = extract_dict(toks, d)
    sp_dict_n = evaluate(matches)
    sp_dict_s = time.time() - t0

    ra = extract_regex(docs, REGEX_A).select("doc_id", "span").cache()
    rb = extract_regex(docs, REGEX_B).select("doc_id", "span").cache()
    ra.count(), rb.count()  # input prep, not timed
    t0 = time.time()
    sp_overlap_n = evaluate(overlap_join(ra, rb))
    sp_overlap_s = time.time() - t0

    m = matches.select("doc_id", "span", "entry_id").cache()
    m.count()  # input prep, not timed
    t0 = time.time()
    sp_consolidate_n = evaluate(consolidate(m, on="span"))
    sp_consolidate_s = time.time() - t0

    tok_pairs = toks.select(
        "doc_id",
        F.struct(
            F.col("token_idx").cast("int").alias("begin_token"),
            (F.col("token_idx") + 1).cast("int").alias("end_token"),
        ).alias("token_span"),
        "token_idx",
    )
    fdf = tok_pairs.filter(F.col("token_idx") % 2 == 0).drop("token_idx").cache()
    sdf = tok_pairs.filter(F.col("token_idx") % 2 == 1).drop("token_idx").cache()
    fdf.count(), sdf.count()  # input prep, not timed
    t0 = time.time()
    sp_adj_n = evaluate(adjacent_join(fdf, sdf, min_gap=0, max_gap=2))
    sp_adj_s = time.time() - t0

    from text_extensions_for_pandas_spark.operators.align import (
        align_to_tokens,
    )
    from text_extensions_for_pandas_spark.operators.iob import iob_to_spans

    tagged = toks.select(
        "doc_id",
        "token_idx",
        "span",
        F.when(F.col("token_idx") % 7 == 0, "B")
        .when(F.col("token_idx") % 7 < 3, "I")
        .otherwise("O")
        .alias("ent_iob"),
        F.when(F.col("token_idx") % 7 < 3, "ENT").alias("ent_type"),
    ).cache()
    tagged.count()  # input prep, not timed
    t0 = time.time()
    sp_iob_n = evaluate(iob_to_spans(tagged))
    sp_iob_s = time.time() - t0

    sp_align_in = (
        toks.filter(F.col("token_idx") % 3 == 0)
        .select("doc_id", "span")
        .cache()
    )
    sp_align_in.count()  # input prep, not timed
    t0 = time.time()
    sp_align_n = evaluate(align_to_tokens(toks, sp_align_in))
    sp_align_s = time.time() - t0

    # ---- identical-output gates ----------------------------------------
    assert sp_regex_n == ref_regex_n, (sp_regex_n, ref_regex_n)
    assert sp_regex_native_n == ref_regex_n, (sp_regex_native_n, ref_regex_n)
    assert sp_dict_n == ref_dict_n, (sp_dict_n, ref_dict_n)
    assert sp_overlap_n == ref_overlap_n, (sp_overlap_n, ref_overlap_n)
    assert sp_consolidate_n == ref_consolidate_n, (
        sp_consolidate_n,
        ref_consolidate_n,
    )
    assert sp_adj_n == ref_adj_n, (sp_adj_n, ref_adj_n)
    assert sp_iob_n == ref_iob_n, (sp_iob_n, ref_iob_n)
    assert sp_align_n == ref_align_n, (sp_align_n, ref_align_n)

    results = {
        "extract_regex": {
            "reference_s": round(ref_regex_s, 3),
            "spark_s": round(sp_regex_s, 3),
            "rows": ref_regex_n,
        },
        "extract_regex_native": {
            "reference_s": round(ref_regex_s, 3),
            "spark_s": round(sp_regex_native_s, 3),
            "rows": ref_regex_n,
        },
        "extract_dict": {
            "reference_s": round(ref_dict_s, 3),
            "spark_s": round(sp_dict_s, 3),
            "rows": ref_dict_n,
        },
        "overlap_join": {
            "reference_s": round(ref_overlap_s, 3),
            "spark_s": round(sp_overlap_s, 3),
            "rows": ref_overlap_n,
        },
        "consolidate": {
            "reference_s": round(ref_consolidate_s, 3),
            "spark_s": round(sp_consolidate_s, 3),
            "rows": ref_consolidate_n,
        },
        "adjacent_join": {
            "reference_s": round(ref_adj_s, 3),
            "spark_s": round(sp_adj_s, 3),
            "rows": ref_adj_n,
        },
        "iob_to_spans": {
            "reference_s": round(ref_iob_s, 3),
            "spark_s": round(sp_iob_s, 3),
            "rows": ref_iob_n,
        },
        "align_to_tokens": {
            "reference_s": round(ref_align_s, 3),
            "spark_s": round(sp_align_s, 3),
            "rows": ref_align_n,
        },
    }
    results["n_docs"] = len(docs_pd)
    results["sf_dir"] = sf_dir
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
