"""Physical-plan shape audits: the scale properties the operators claim
(broadcast joins, filter pushdown, column pruning, bounded shuffle counts)
asserted against ``explain`` output, so a plan regression fails CI rather
than surfacing as a 100 TB incident."""

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.functions import text as T
from text_extensions_for_pandas_spark.operators.extract import (
    create_dict,
    extract_dict,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    # other test modules cache this same parquet read; a cache hit would
    # replace the FileScan (and its PushedFilters) with InMemoryTableScan
    spark.catalog.clearCache()
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_dictionary_join_is_broadcast(spark, docs):
    d = create_dict(spark, ["table scan", "spark"])
    plan = plan_of(extract_dict(T.tokenize_whitespace(docs), d))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_parquet(docs):
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_column_pruning(docs):
    q = docs.select(T.token_count(F.col("text")).alias("n"))
    plan = plan_of(q)
    # the scan must read only `text`, not the whole row
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" in read_schema[0]
    assert "lang" not in read_schema[0] and "source" not in read_schema[0]


def test_tokenizer_single_shuffle(docs):
    plan = plan_of(T.tokenize_whitespace(docs), "simple")
    assert plan.count("Exchange") == 1, plan


def test_quality_metrics_no_shuffle_no_udf(docs):
    q = docs.select("doc_id", T.quality_metrics(F.col("text")).alias("m"))
    plan = plan_of(q, "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_dedup_partial_aggregation(docs):
    from text_extensions_for_pandas_spark.operators.dedup import exact_dedup

    plan = plan_of(exact_dedup(docs), "simple")
    # map-side combine: HashAggregate both below and above the exchange
    before_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange, plan
    assert plan.count("Exchange") == 1, plan


def test_events_agg_single_shuffle(spark):
    from text_extensions_for_pandas_spark.queries import load

    ev = load(spark, SF_DIR, "events")
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    plan = plan_of(agg, "simple")
    assert plan.count("Exchange") == 1


def test_ivf_assign_broadcasts_centroids(spark):
    from text_extensions_for_pandas_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    plan = plan_of(ivf_assign(emb, centroids))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # argmax is an aggregate, not a window sort
    assert "Window" not in plan


def test_contamination_eval_side_is_broadcast(docs):
    from text_extensions_for_pandas_spark.operators.dedup import (
        contamination_overlap,
    )

    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    plan = plan_of(contamination_overlap(tr, ev))
    # the benchmark side must broadcast: the corpus is never shuffled to
    # meet it
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_metrics_two_stage_agg_one_wide_ngram_shuffle(docs):
    plan = plan_of(T.repetition_metrics(docs), "simple")
    # (doc, ngram) count then per-doc rollup: both hash aggregates with
    # map-side partials; only the two agg exchanges, no join, no UDF
    assert plan.count("Exchange") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_stats_joins_are_broadcast(docs):
    from text_extensions_for_pandas_spark.operators.search import (
        tfidf_top_terms,
    )

    plan = plan_of(tfidf_top_terms(docs))
    # df table (vocabulary-sized) and the 1-row corpus count broadcast;
    # the only sort-merge-free wide ops are aggs + the per-doc window
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pii_redaction_no_shuffle_no_udf(docs):
    """PII scrubbing must stay a row-local scan expression — streamable,
    no exchange, no Python in the hot path."""
    q = docs.select(
        "doc_id",
        T.pii_counts(F.col("text")).alias("c"),
        T.redact_pii(F.col("text")).alias("red"),
    )
    plan = plan_of(q)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_surprisal_vocab_joins_broadcast(docs):
    """The vocabulary and corpus-total sides are broadcast: the corpus
    (doc, token) stream must never shuffle for the join itself."""
    from text_extensions_for_pandas_spark.operators.search import (
        unigram_surprisal,
    )

    plan = plan_of(unigram_surprisal(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lsh_topk_plan_shape(spark):
    """LSH ANN: weight table and query side broadcast (never a nested-loop
    or sort-merge join), bucket dots computed by hash aggregate."""
    from text_extensions_for_pandas_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=5))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "HashAggregate" in plan, plan


def test_extract_regex_native_no_python(spark, docs):
    """The JVM-native regex path must contain no Python evaluation node
    (the UDF twin shows ArrowEvalPython); its only wide op is the per-doc
    offset window."""
    from text_extensions_for_pandas_spark.operators.extract import (
        extract_regex,
        extract_regex_native,
    )

    native = plan_of(extract_regex_native(docs, r"\bsp\w+"))
    assert "EvalPython" not in native, native
    udf = plan_of(extract_regex(docs, r"\bsp\w+"))
    assert "EvalPython" in udf  # the twin really does cross into Python


def test_q6_predicates_push_to_parquet(spark):
    from text_extensions_for_pandas_spark.queries import q6_forecast_revenue

    plan = plan_of(q6_forecast_revenue(spark, SF_DIR))
    # the scan itself must carry the shipdate/discount/quantity bounds
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    # one partial+final aggregate pair, no join
    assert "Join" not in plan


def test_customer_join_broadcasts_without_hint(spark):
    """Scale-growing dims (customer/supplier/part) carry NO forced
    broadcast hint — at small SF the size-based planner / AQE still picks
    broadcast on its own, while at sf10+ the same code degrades gracefully
    to a shuffle join instead of OOMing executors on a forced broadcast."""
    import inspect

    from text_extensions_for_pandas_spark import queries as Q

    # no hard-coded hint in the plan-building code for these queries
    for fn in (Q.q3_shipping_priority, Q.q10_returned_items, Q.q14_promo_effect,
               Q.q19_discounted_revenue, Q.q8_market_share, Q.q5_region_revenue):
        src = inspect.getsource(fn)
        for dim in ("broadcast(cust", "broadcast(supp", "broadcast(part"):
            assert dim not in src, f"{fn.__name__} still force-broadcasts: {dim}"

    # ...and the optimizer still chooses broadcast for the customer join
    # when it fits (tiny parquet at this SF → size-based conversion)
    plan = plan_of(Q.q3_shipping_priority(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_q7_nation_dims_broadcast(spark):
    from text_extensions_for_pandas_spark.queries import q7_volume_shipping

    plan = plan_of(q7_volume_shipping(spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q19_disjunction_prunes_part_columns(spark):
    from text_extensions_for_pandas_spark.queries import q19_discounted_revenue

    plan = plan_of(q19_discounted_revenue(spark, SF_DIR))
    # part is broadcast and only the three needed columns are read
    assert "BroadcastHashJoin" in plan
    part_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "p_brand" in ln
    ]
    assert part_schema and "p_retailprice" not in part_schema[0], part_schema


def test_q22_anti_join_and_scalar_broadcast(spark):
    from text_extensions_for_pandas_spark.queries import q22_sales_opportunity

    plan = plan_of(q22_sales_opportunity(spark, SF_DIR), "simple")
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_matview_reuse_hits_cache(spark):
    from text_extensions_for_pandas_spark import queries as Q

    Q._tokens(spark, SF_DIR).count()  # materialize the session view
    plan = plan_of(Q.q_tokenize(spark, SF_DIR), "simple")
    assert "InMemoryTableScan" in plan, plan


def test_matview_keys_by_sf_dir(spark):
    from text_extensions_for_pandas_spark import queries as Q

    a = Q._tokens(spark, "/root/testdata/sf0.001")
    b = Q._tokens(spark, "/root/testdata/sf0.01")
    assert a is not b
    assert a.count() != b.count()
    # same key returns the identical cached frame, not a rebuild
    assert Q._tokens(spark, "/root/testdata/sf0.001") is a


def test_q21_exists_shapes_are_hash_joins(spark):
    """The EXISTS/NOT-EXISTS correlations must compile to semi/anti hash
    joins on orderkey with residual predicates — a BroadcastNestedLoopJoin
    here would be quadratic in lineitems per order at scale."""
    from text_extensions_for_pandas_spark.queries import q21_waiting_suppliers

    plan = plan_of(q21_waiting_suppliers(spark, SF_DIR), "simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q13_outer_join_preserved(spark):
    """Customers with zero orders must survive: the left join must not be
    rewritten to inner by a bad null filter."""
    from text_extensions_for_pandas_spark.queries import (
        q13_customer_distribution,
    )

    rows = {r.c_count: r.custdist for r in
            q13_customer_distribution(spark, SF_DIR).collect()}
    import pyspark.sql.functions as F

    from text_extensions_for_pandas_spark.queries import load

    n_cust = load(spark, SF_DIR, "customer").count()
    n_with = load(spark, SF_DIR, "orders").select("o_custkey").distinct().count()
    assert rows.get(0, 0) == n_cust - n_with
    assert sum(rows.values()) == n_cust


def test_classification_report_contingency_single_scan(docs):
    """The classification report derives everything from ONE groupBy(gold,
    pred) contingency aggregation: the input relation appears once, with a
    map-side partial before its exchange."""
    from text_extensions_for_pandas_spark.operators.cleaning import (
        create_classification_report,
    )

    labeled = docs.select(
        F.substring("text", 1, 1).alias("gold_label"),
        F.substring("text", 2, 1).alias("pred_label"),
    )
    plan = plan_of(create_classification_report(labeled), "simple")
    # the corpus scan feeds the plan exactly once (the branches all hang off
    # the checkpointed contingency table, not the parquet relation)
    assert plan.count("Scan parquet") <= 1, plan
    before_first_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_first_exchange, plan


def test_encoding_metrics_no_shuffle_no_udf(docs):
    q = docs.select("doc_id", T.encoding_metrics(F.col("text")).alias("m"))
    plan = plan_of(q, "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_accidental_nested_loop_joins_across_registry(spark):
    """Global plan-hygiene guard: building every registered query's physical
    plan, no BroadcastNestedLoopJoin or CartesianProduct may appear except
    in the whitelisted queries that use a deliberate broadcast cross join
    (exact ANN tier and scalar-broadcast shapes).  Plan-only — nothing
    executes — so this sweeps all ~90 queries in seconds and catches a
    future operator change that silently degrades a join to O(n*m)."""
    from text_extensions_for_pandas_spark.queries import REGISTRY

    # deliberate: broadcast-scalar cross joins (1-row frames) or the
    # documented exact-ANN tier (small broadcast query set x corpus)
    allowed = {
        "ann_cosine_topk", "near_dup_embedding", "ivf_topk", "ann_lsh_topk",
        "bm25_search", "doc_surprisal", "q14_promo_effect", "q8_market_share",
        "q15_top_supplier", "q19_discounted_revenue", "q22_sales_opportunity",
        "f1_ensemble", "decontam_overlap", "corpus_mixture", "q6_forecast_revenue",
        "pack_sequences", "q_events_funnel", "prob_product",
        "surprisal_buckets",  # same 1-row corpus-total broadcast as doc_surprisal
        "doc_perplexity",  # 1-row bigram-total broadcast into the model table
        "source_divergence",  # deliberate vocab x groups grid (both model-sized)
        "zorder_events",  # 1-row min/max scaling bounds broadcast
        "split_divergence",  # 1-row totals broadcast into the vocab join
        "alpha_mixture",  # 1-row normalizer broadcast over strata rows
        "incontext_order",  # ivf_assign's k-centroid broadcast (as ivf_clusters)
        "q11_important_parts",  # Q11's grand-total scalar: 1-row broadcast
        # broadcast-bounded build sides: k centroids, corpus-constant scalar
        "ivf_clusters", "tfidf_top_terms",
        "cluster_sample",  # ivf_assign's k-centroid broadcast (as ivf_clusters)
        # PQ tiers: queries x broadcast codebooks (m*k-row model) for the
        # ADC lookup tables, and the k-centroid probe broadcast — all
        # model-sized build sides, never corpus x corpus
        "pq_topk", "ivfpq_topk",
        # same PQ model-broadcast shape over the durable on-disk index
        # (and its incremental-growth twin)
        "ivfpq_index_search", "ivfpq_index_append",
        # recall measurement embeds the documented exact-ANN tier (small
        # broadcast query set x corpus) as its ground truth
        "ann_recall", "lsh_recall", "ivfpq_recall",
        # power iteration's dangling-mass term: a 1-row aggregate
        # broadcast-cross-joined into the (node, rank) table each round
        "pagerank",
    }
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, (fn, _) in REGISTRY.items():
        try:
            plan = plan_of(fn(spark, sf), "simple")
        except Exception as e:  # noqa: BLE001 — a broken build is its own failure
            bad[name] = f"plan build failed: {e}"
            continue
        has_nl = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        if has_nl and name not in allowed:
            bad[name] = "nested-loop/cartesian join in plan"
    assert not bad, bad


def test_q2_correlated_subquery_decorrelates(spark):
    """The SQL-front-end correlated min subquery must decorrelate into an
    aggregate + join — never a per-row re-execution (no nested loop)."""
    from text_extensions_for_pandas_spark.queries import q2_min_cost_supplier

    plan = plan_of(q2_min_cost_supplier(spark, "/root/testdata/sf0.001"), "simple")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "min(" in plan and plan.count("Scan parquet") >= 2, plan


def test_extract_dict_rowwise_probes_by_first_token(spark, docs):
    """Each token probes the broadcast dictionary by hash on the entry's
    first token: no nested-loop join, no lambda over start positions."""
    from text_extensions_for_pandas_spark.operators.extract import (
        extract_dict_rowwise,
    )

    d = create_dict(spark, ["table scan", "spark", ""])
    plan = plan_of(extract_dict_rowwise(docs, d), "simple")
    assert "BroadcastHashJoin [__tok" in plan, plan
    assert "NestedLoopJoin" not in plan and " Exchange " not in plan, plan
    assert "lambdafunction" not in plan, plan


def test_iob_to_spans_windows_only_tagged_tokens(spark):
    """Every Window sits above the filter that drops ``O`` tokens."""
    from text_extensions_for_pandas_spark.operators.iob import iob_to_spans

    toks = spark.createDataFrame(
        [(0, 0, "B", "PER", (0, 4)), (0, 1, "O", None, (5, 7))],
        "doc_id long, token_idx int, ent_iob string, ent_type string, "
        "span struct<begin:int,end:int>",
    )
    lines = plan_of(iob_to_spans(toks), "simple").splitlines()
    windows = [i for i, ln in enumerate(lines) if "Window [" in ln]
    drop_o = [i for i, ln in enumerate(lines) if "Filter NOT (ent_iob" in ln and "<=> O" in ln]
    assert windows and len(drop_o) == 1, lines
    assert max(windows) < drop_o[0], "\n".join(lines)


def test_extract_dict_single_hash_aggregate(spark, docs):
    """extract_dict's match aggregation must stay hash-based with one agg
    exchange: count(*) + positional min/max, never the countDistinct +
    struct-min/max form that plans as a double-exchange SortAggregate."""
    d = create_dict(spark, ["table scan", "hash join", "spark"])
    plan = plan_of(extract_dict(T.tokenize_whitespace(docs), d), "simple")
    assert "SortAggregate" not in plan, plan
    # tokenizer window exchange + one agg exchange (count only shuffle
    # exchanges: broadcasts and cached-subtree reprs don't add shuffles)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_minhash_signature_agg_is_hash_based(spark, docs):
    """The per-doc signature aggregation must be a hash aggregate (numeric
    min buffers), never a SortAggregate sorting the whole shingle stream."""
    from text_extensions_for_pandas_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )

    plan = plan_of(
        minhash_signatures(doc_shingles(docs, distinct=False)), "simple"
    )
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_dedup_paragraphs_plan_no_python_single_width(spark, docs):
    """Paragraph dedup must stay entirely JVM-side: no Python evaluation
    nodes, and the only exchanges are the hash-window and per-doc
    rebuild shuffles plus the final doc join."""
    from text_extensions_for_pandas_spark.operators.dedup import (
        dedup_paragraphs,
    )

    plan = plan_of(dedup_paragraphs(docs), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan


def test_cap_per_domain_single_window_no_python(spark, docs):
    from text_extensions_for_pandas_spark.operators.sampling import (
        cap_per_domain,
    )

    plan = plan_of(
        cap_per_domain(docs, max_docs=5, max_tokens=1000), "simple"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # both caps ride ONE window pass over (domain, hash order) — a second
    # Window node would mean the row_number and running sum didn't fuse
    assert plan.count("Window") == 1, plan


def test_dsir_score_uses_broadcast_join(spark, docs):
    from text_extensions_for_pandas_spark.operators.sampling import (
        dsir_llr_table,
        dsir_score,
    )

    table = dsir_llr_table(docs, docs.limit(50), n_buckets=500)
    plan = plan_of(dsir_score(docs, table, n_buckets=500), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_pair_counts_no_join_no_python(spark, docs):
    """Pair counting must be explode + one hash aggregate — no join (the
    arrays_zip-with-own-tail trick) and no Python nodes."""
    from text_extensions_for_pandas_spark.operators import bpe

    words = bpe.with_symbols(bpe.word_freq_table(docs))
    plan = plan_of(bpe.bpe_pair_counts(words), "simple")
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
