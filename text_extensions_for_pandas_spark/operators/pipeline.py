"""End-to-end training-corpus preparation — the composition the engine
exists for: language filter → quality filter → exact dedup → MinHash
near-dup removal → deterministic split.

Each stage is an existing operator; the value here is the composition
discipline at 100 TB:

* every stage is a lazy plan — one pass over the corpus when executed;
* dedup keeps the *lowest doc_id* representative (deterministic, so reruns
  and retries converge);
* near-dup removal drops the higher-id side of each verified pair
  (greedy-by-id: order-independent and idempotent);
* the final split is a pure hash function of the key
  (:func:`~text_extensions_for_pandas_spark.operators.search.split_by_hash`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage

from text_extensions_for_pandas_spark.functions.text import (
    lang_id,
    quality_metrics,
    word_tokens,
)
from text_extensions_for_pandas_spark.operators import dedup as D


# NB: when a pipeline references the lang/quality flag expressions from more
# than one DAG branch, the flags are cut to a narrow (doc_id, flags) table
# whose lineage is truncated (localCheckpoint), and each branch re-attaches
# via a semi-join on the id.  The earlier design recomputed the flags per
# branch to stay shuffle-free, but the flag chain (lang-ID dispatch + quality
# metrics over full text) is the single most expensive scan of the funnel —
# measured at sf0.1 it ran three times (~3s each of a 14s query).  The
# semi-join only moves ids, never text, so the shuffle it adds is negligible
# at any scale next to re-scanning the corpus text per branch.


def prepare_training_corpus(
    documents: DataFrame,
    languages: list[str] | None = None,
    min_words: int = 10,
    max_word_len: float = 12.0,
    near_dup_threshold: float = 0.8,
    split_weights: dict[str, float] | None = None,
    text_col: str = "text",
    doc_col: str = "doc_id",
    near_dup_strategy: str = "pairs",
    repair_encoding: bool = False,
) -> DataFrame:
    """The cleaned, deduplicated, split corpus: input columns + ``split``.

    Stages: [optional encoding repair] → language-ID filter → quality
    filter (word count, mean word length) → exact dedup (keep min doc
    id) → MinHash-LSH + Jaccard near-dup removal → hash split.

    ``repair_encoding=True`` prepends
    :func:`~text_extensions_for_pandas_spark.functions.text.fix_text`
    (mojibake fold + control strip + NFC) so language-ID, quality
    metrics, and every dedup hash see the REPAIRED bytes — two copies of
    a page that differ only in decode damage collapse in exact dedup
    instead of surviving as near-dups.  Off by default: repair is an
    Arrow-batched UDF pass, and corpora known to be clean should not
    pay it.

    ``near_dup_strategy``:

    * ``"pairs"`` (default): drop the higher id of each verified pair —
      one pass, order-independent, idempotent; but a duplicate connected
      to the cluster only through a middle document can survive (for
      pairs (1,5),(2,5) it keeps both 1 and 2).
    * ``"clusters"``: connected components over the pair graph, keep only
      each component's minimum id — transitive-closure-correct at the
      cost of the iterative label-propagation rounds
      (:func:`~text_extensions_for_pandas_spark.operators.graph.connected_components`).
    """
    from text_extensions_for_pandas_spark.operators.search import split_by_hash

    languages = languages or ["en"]
    split_weights = split_weights or {"train": 0.98, "val": 0.01, "test": 0.01}

    if repair_encoding:
        from text_extensions_for_pandas_spark.functions.text import fix_text

        documents = documents.withColumn(text_col, fix_text(text_col))

    toks = F.col("__toks")
    qualified = (
        documents.withColumn("__toks", word_tokens(F.col(text_col)))
        .withColumn("__lang", lang_id(F.col(text_col), toks=toks))
        .filter(F.col("__lang").isin(languages))
        .withColumn("__m", quality_metrics(F.col(text_col), toks=toks))
        .filter(
            (F.col("__m.n_tokens") >= min_words)
            & (F.col("__m.mean_token_len") <= max_word_len)
        )
        .drop("__lang", "__m", "__toks")
    )
    exact_keep = D.exact_dedup(qualified, text_col, doc_col).select(
        F.col("keep_doc_id").alias(doc_col)
    )
    uniq = qualified.join(exact_keep, doc_col, "left_semi")
    pairs = D.near_dup_pairs(
        uniq, threshold=near_dup_threshold, text_col=text_col, doc_col=doc_col
    )
    if near_dup_strategy == "clusters":
        from text_extensions_for_pandas_spark.operators.graph import (
            connected_components,
        )

        cc = connected_components(pairs)
        drop = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(doc_col)
        )
    elif near_dup_strategy == "pairs":
        drop = pairs.select(F.col("doc_b").alias(doc_col)).distinct()
    else:
        raise ValueError(f"unknown near_dup_strategy: {near_dup_strategy!r}")
    kept = uniq.join(drop, doc_col, "left_anti")
    return split_by_hash(kept, split_weights, key_col=doc_col)


def corpus_funnel(
    documents: DataFrame,
    languages: list[str] | None = None,
    min_words: int = 10,
    max_word_len: float = 12.0,
    near_dup_threshold: float = 0.8,
    text_col: str = "text",
    doc_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Stage-by-stage survivor counts of the preparation pipeline — the
    audit table a data-curation run reports.  One row per stage.

    Computed as ONE plan: per-doc stage flags (joins supply the dedup
    memberships), a single conditional-sum aggregate, then an unpivot —
    one corpus pass instead of one job per stage."""
    languages = languages or ["en"]
    toks = F.col("__toks")
    flagged = (
        documents.withColumn("__toks", word_tokens(F.col(text_col)))
        .withColumn(
            "__lang_ok", lang_id(F.col(text_col), toks=toks).isin(languages)
        )
        .withColumn("__m", quality_metrics(F.col(text_col), toks=toks))
        .withColumn(
            "__quality_ok",
            F.col("__lang_ok")
            & (F.col("__m.n_tokens") >= min_words)
            & (F.col("__m.mean_token_len") <= max_word_len),
        )
        .drop("__m", "__toks")
    )
    # The per-doc FLAGS are referenced from three independent jobs (the
    # exact-dedup keep list, the near-dup drop list, and the final count
    # aggregate), and computing them is the single most expensive scan of
    # the funnel — the full lang-ID dispatch plus quality metrics over
    # every document.  Cut lineage on the narrow (id, flag, flag) table so
    # that scan runs ONCE; each downstream branch then re-reads only the
    # columns it actually needs (md5 wants text, the near-dup stage wants
    # the shared shingle table) via a cheap semi-join on the flagged ids.
    # Measured at sf0.1: the funnel previously evaluated the lang chain in
    # all three jobs (~3s each of a 14s query).
    flags = flagged.select(
        doc_col, "__lang_ok", "__quality_ok"
    ).transform(cut_lineage, eager=False)
    quality_ok = documents.join(
        flags.filter(F.col("__quality_ok")).select(doc_col), doc_col, "left_semi"
    )
    # The keep/drop ID LISTS are referenced from several DAG branches below
    # (the near-dup stage and the final count aggregate); they are one id
    # per document, so cutting lineage here materializes the expensive
    # corpus passes (md5 dedup groupBy, LSH+Jaccard verify) exactly once
    # at a storage cost that is negligible at any scale.
    exact_keep = (
        D.exact_dedup(quality_ok, text_col, doc_col)
        .select(F.col("keep_doc_id").alias(doc_col), F.lit(True).alias("__uniq"))
        .transform(cut_lineage, eager=False)
    )
    uniq = quality_ok.join(exact_keep, doc_col, "left_semi")
    drop = (
        D.near_dup_pairs(
            uniq,
            threshold=near_dup_threshold,
            text_col=text_col,
            doc_col=doc_col,
            shingles=shingles,
        )
        .select(F.col("doc_b").alias(doc_col), F.lit(True).alias("__dropped"))
        .distinct()
        .transform(cut_lineage, eager=False)
    )
    annotated = (
        flags.join(exact_keep, doc_col, "left")
        .join(drop, doc_col, "left")
        .select(
            F.col("__lang_ok"),
            F.col("__quality_ok"),
            F.coalesce("__uniq", F.lit(False)).alias("__uniq_ok"),
            F.coalesce("__dropped", F.lit(False)).alias("__dropped"),
        )
    )
    one = annotated.agg(
        F.count("*").alias("0_total"),
        F.sum(F.col("__lang_ok").cast("long")).alias("1_lang"),
        F.sum(F.col("__quality_ok").cast("long")).alias("2_quality"),
        F.sum(F.col("__uniq_ok").cast("long")).alias("3_exact_dedup"),
        F.sum((F.col("__uniq_ok") & ~F.col("__dropped")).cast("long")).alias(
            "4_near_dedup"
        ),
    )
    stack = ", ".join(
        f"'{s}', `{s}`"
        for s in ["0_total", "1_lang", "2_quality", "3_exact_dedup", "4_near_dedup"]
    )
    return one.selectExpr(f"stack(5, {stack}) AS (stage, n_docs)")


def pack_by_budgets(
    items: "DataFrame",
    budgets: dict[str, float],
    order_col: str = "doc_id",
    shard_col: str = "shard",
) -> "DataFrame":
    """Multi-budget sequence packing — the interleaved-multimodal
    generalization of token-budget packing: a bin boundary falls wherever
    ANY resource's running total crosses its own budget (e.g. text tokens
    AND images per training sequence, the MMC4/interleaved-corpus shape).

    The bin key is the TUPLE of per-dimension quantized running sums,
    ``( floor(pre_sum_d / budget_d) )_d`` — the intersection of each
    dimension's interval partition of the item sequence.  Within a bin
    every dimension's quantum is constant, so per dimension each bin's
    total minus its last item stays under that budget (the single-budget
    packer's next-fit invariant, verified per dimension in tests).  A
    single ``greatest``-of-floors id would NOT give this: the non-binding
    dimension's span inside a bin would be unbounded.

    ``items`` must carry ``shard_col`` (hash-derived) plus one numeric
    column per budget key; windows partition by shard so every shard packs
    in parallel — the 100 TB layout is one bin stream per output shard.
    Output adds one ``bin_<col>`` per budget plus a combined ``bin``
    struct.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = items
    bin_cols = []
    for c, b in sorted(budgets.items()):
        name = f"bin_{c}"
        out = out.withColumn(
            name,
            F.floor((F.sum(c).over(w) - F.col(c)) / F.lit(float(b))).cast(
                "int"
            ),
        )
        bin_cols.append(name)
    return out.withColumn("bin", F.struct(*bin_cols))


def prep_and_shard(
    documents: DataFrame,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    boiler_min_docs: int = 2,
    min_words: int = 30,
    required_words: tuple[str, ...] | None = None,
    lang_aware: bool = False,
    max_docs_per_domain: int = 50,
    max_chars_per_domain: int = 50_000,
    n_shards: int = 8,
    salt: str = "epoch0",
    group_col: str = "source",
    text_col: str = "text",
    doc_col: str = "doc_id",
    checkpoint: bool = True,
) -> DataFrame:
    """The modern web-corpus prep recipe end to end, every stage an
    existing verified operator:

    1. :func:`~..dedup.remove_boilerplate` — per-domain frequent lines out;
    2. :func:`~...functions.text.gopher_rules` gate on the cleaned text —
       or, with ``lang_aware=True``, :func:`~...functions.text.lang_id` +
       :func:`~...functions.text.quality_gate_by_language`, so a
       multilingual crawl keeps its good non-English prose (the plain
       English-list gopher gate silently drops ru/ar/hi/vi/... — the
       exact cliff the dispatcher closes; ``required_words`` then only
       affects the fallback profile for UNdetected languages);
    3. :func:`~..dedup.dedup_paragraphs` — corpus-wide keep-first;
    4. exact dedup — keep the lowest doc id per md5 of the rebuilt text;
    5. :func:`~..sampling.cap_per_domain` — anti-host-dominance budgets;
    6. :func:`~..sampling.deterministic_shuffle` — epoch-stable
       training order.

    Returns ``(shard, pos, doc_col, group_col, n_chars, text_col)`` —
    write it ``partitionBy("shard")`` and train.  Every stage is a pure
    function of the input, so reruns, retries, and repartitions emit the
    identical corpus in the identical order, with no Python anywhere.

    ``checkpoint=True`` (default) persists each text-rebuild stage's
    output: without it the fully-lazy plan re-derives the documents scan
    per downstream branch (7 scans measured) — at corpus scale you want
    each stage's (smaller) output materialized once, which is also what a
    production pipeline persisting stage outputs to parquet would do.
    ``persist()`` rather than ``localCheckpoint`` deliberately: a
    checkpoint truncates the explain plan to ``Scan ExistingRDD``, which
    would blind the repo's plan audits (PLANS.md, the nested-loop guard)
    to everything upstream.
    """
    from text_extensions_for_pandas_spark.functions.text import gopher_rules
    from text_extensions_for_pandas_spark.operators.dedup import (
        dedup_paragraphs,
        remove_boilerplate,
    )
    from text_extensions_for_pandas_spark.operators.sampling import (
        cap_per_domain,
        deterministic_shuffle,
    )
    from pyspark.sql import Window

    meta = documents.select(doc_col, group_col)
    cleaned = (
        remove_boilerplate(
            documents,
            min_docs=boiler_min_docs,
            sep_regex=sep_regex,
            join_sep=join_sep,
            text_col=text_col,
            doc_col=doc_col,
            group_col=group_col,
        )
        .filter(F.length("clean_text") > 0)
        .select(doc_col, F.col("clean_text").alias(text_col))
    )
    if checkpoint:
        cleaned = cleaned.persist()
    gopher_kwargs = (
        {"required_words": required_words} if required_words is not None else {}
    )
    if lang_aware:
        from text_extensions_for_pandas_spark.functions.text import (
            lang_id,
            quality_gate_by_language,
            word_tokens,
        )

        # materialize tokens, stripped tokens and the prediction: the
        # dispatcher's CASE references them many times and HOF
        # arguments do not CSE (see quality_gate_by_language)
        pre = (
            cleaned.withColumn("__toks", word_tokens(F.col(text_col)))
            .withColumn(
                "__clean",
                F.transform(
                    F.col("__toks"),
                    lambda t: F.regexp_replace(t, r"(?U)^\W+|\W+$", ""),
                ),
            )
            .withColumn(
                "__lang", lang_id(F.col(text_col), toks=F.col("__toks"))
            )
        )
        gated = pre.filter(
            quality_gate_by_language(
                F.col(text_col),
                F.col("__lang"),
                toks=F.col("__toks"),
                clean_toks=F.col("__clean"),
                min_words=min_words,
                **gopher_kwargs,
            )["passes"]
        ).drop("__toks", "__clean", "__lang")
    else:
        gated = cleaned.filter(
            gopher_rules(text_col, min_words=min_words, **gopher_kwargs)[
                "passes"
            ]
        )
    paras = (
        dedup_paragraphs(
            gated, sep_regex=sep_regex, join_sep=join_sep,
            text_col=text_col, doc_col=doc_col,
        )
        .filter(F.length("dedup_text") > 0)
        .select(doc_col, F.col("dedup_text").alias(text_col))
    )
    if checkpoint:
        paras = paras.persist()
    w = Window.partitionBy(F.md5(text_col)).orderBy(doc_col)
    exact = (
        paras.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    sized = exact.join(meta, doc_col).withColumn(
        "n_chars", F.length(text_col).cast("long")
    )
    capped = cap_per_domain(
        sized,
        max_docs=max_docs_per_domain,
        max_tokens=max_chars_per_domain,
        domain_col=group_col,
        token_col="n_chars",
        doc_col=doc_col,
    )
    return deterministic_shuffle(
        capped, n_shards=n_shards, key_col=doc_col, salt=salt
    ).select("shard", "pos", doc_col, group_col, "n_chars", text_col)
