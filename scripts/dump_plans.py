#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of each headline query,
so plan shapes (pushdown, broadcasts, exchange counts, codegen spans) are
reviewable without a Spark session.  Run after changing any operator:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

HEADLINE = [
    # marquee span-algebra ops
    "extract_dict",
    "extract_dict_rowwise",
    "overlap_join",
    "consolidate",
    "iob_to_spans",
    # relational suite samples
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q18_large_volume",
    # scale/LLM-pipeline samples
    "dedup_minhash",
    "near_dup_jaccard",
    "bm25_search",
    "ivf_topk",
    "chunk_documents",
    "pack_sequences",
    "classification_report",
    "q9_product_profit",
    "dedup_paragraphs",
    "bpe_pair_counts",
    "dsir_weights",
    "boilerplate_removal",
    "doc_perplexity",
    "corpus_shuffle",
    "gopher_rules",
    "training_prep_e2e",
    "zorder_events",
    # the priciest bench composites (plan review priority) + this
    # round's oracle-verified ANN scale tiers
    "corpus_funnel",
    "fingerprint_overlap",
    "incontext_order",
    "pq_topk",
    "ivfpq_topk",
    "semantic_dedup",
    "exactsubstr_clean",
    # round 6: de-skewed keep-first, pre-filtered caps, new gate entries
    "cap_per_domain",
    "bpe_encode",
    "lsh_recall",
    "ivfpq_recall",
    # round 8: crawl-front ingestion + HTML stage + URL ops + index growth
    "wet_ingest",
    "html_extract",
    "html_features",
    "url_blocklist",
    "url_dedup",
    "ivfpq_index_append",
    # round 8 (late): link graph + robots compliance
    "extract_links",
    "link_graph",
    "pagerank",
    "robots_filter",
    "fix_encoding",
    "anchor_text",
    "dehyphenate",
    "split_sentences",
    # round 9: WAT link ingestion, image-embedding ANN bridge,
    # pagerank-weighted curation
    "wat_link_graph",
    "multimodal_semantic_dedup",
    "pagerank_weighted_mix",
    "lang_id_script",
    # round 9 (continuation): CDX select-before-scan front, token-budget
    # sizing, sitemap/freshness frontier, durable band index
    "cdx_select",
    "cdx_fetch",
    "token_budget_sample",
    "sitemap_urls",
    "crawl_freshness",
    "band_index_ingest",
    "upsample_mixture",
    "cjk_quality",
    "term_blocklist",
    # round 10: language-dispatched quality gate (one-pass marker
    # extraction + bound argmax) and the CDX parquet-mirror selection
    # path (pushed StringStartsWith on the mirror scan)
    "multilingual_quality",
    "cdx_mirror_select",
]

SF_DIR = "/root/testdata/sf0.001"
# Pinned, so the plans do not depend on the caller's SPARK_GRAFT_CPUS:
# exchanges print the shuffle partition count, and the narrow-scan spread
# (``scale.widen_narrow_input``) fires below the session's core count.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 32


def main() -> None:
    from text_extensions_for_pandas_spark import get_spark
    from text_extensions_for_pandas_spark.queries import REGISTRY

    spark = get_spark("dump-plans", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")

    parts = [
        "# Physical plans of the headline queries\n",
        "Auto-generated by `scripts/dump_plans.py` (sf0.001 inputs; plan\n"
        "shapes are scale-independent).  Things to check in review:\n"
        "`PushedFilters` on scans, `BroadcastHashJoin` for dimension/dict\n"
        "joins, partial `HashAggregate` before each `Exchange`, and\n"
        "`WholeStageCodegen` spans covering the expression work.\n",
    ]
    for name in HEADLINE:
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # strip volatile ids so regeneration diffs stay reviewable
        plan = re.sub(r"#\d+L?", "#_", plan)
        plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=_]", plan)
        plan = re.sub(r"RDD\[\d+\]", "RDD[_]", plan)
        plan = re.sub(r"/\S*?/tep_session_[^/\]\s]+", "<session_tmp>", plan)
        plan = re.sub(r"(file|location).*?\[?file:[^\n\]]*\]?", r"\1: <path>", plan)
        parts.append(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("".join(parts))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
