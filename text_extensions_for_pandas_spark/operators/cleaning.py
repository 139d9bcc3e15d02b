"""Model-quality + label-cleaning operators (reference ``cleaning/analysis.py``
and the accuracy machinery in ``io/conll.py:1461-1542``), as pure
aggregation plans.

Entity tables have the FIXTURES.md §5 shape: ``(fold, doc_id, span,
ent_type[, model])``; spans compare by exact (begin, end) equality, entity
match = same doc + same span + same type (the CoNLL-2003 criterion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage
from text_extensions_for_pandas_spark.session import local_frame


def _match(gold: DataFrame, predicted: DataFrame, keys: list[str]) -> DataFrame:
    """Inner join on (keys, span, ent_type) = true positives."""
    on = keys + ["span", "ent_type"]
    return gold.select(*on).join(predicted.select(*on), on, "inner")


def compute_accuracy_by_document(
    gold: DataFrame,
    predicted: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Per-document TP/FP/FN + precision/recall/F1
    (reference ``compute_accuracy_by_document``, ``io/conll.py:1461-1516``).

    Documents with zero gold or predicted entities get zero counts (the
    reference's edge case, ``cleaning/analysis.py:107-119``).
    """
    keys = keys or ["fold", "doc_id"]
    n_gold = gold.groupBy(*keys).agg(F.count("*").alias("num_true_entities"))
    n_pred = predicted.groupBy(*keys).agg(F.count("*").alias("num_extracted_entities"))
    tp = _match(gold, predicted, keys).groupBy(*keys).agg(
        F.count("*").alias("num_entities_in_common")
    )
    out = (
        n_gold.join(n_pred, keys, "full")
        .join(tp, keys, "left")
        .fillna(0, ["num_true_entities", "num_extracted_entities", "num_entities_in_common"])
    )
    prec = F.col("num_entities_in_common") / F.greatest(
        F.col("num_extracted_entities"), F.lit(1)
    )
    rec = F.col("num_entities_in_common") / F.greatest(
        F.col("num_true_entities"), F.lit(1)
    )
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return (
        out.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn("F1", F.round(f1, 6))
    )


def compute_global_accuracy(stats_by_document: DataFrame) -> DataFrame:
    """Corpus-level accuracy from the per-document stats
    (reference ``compute_global_accuracy``, ``io/conll.py:1519-1542``)."""
    tot = stats_by_document.agg(
        F.sum("num_true_entities").alias("num_true_entities"),
        F.sum("num_extracted_entities").alias("num_extracted_entities"),
        F.sum("num_entities_in_common").alias("num_entities_in_common"),
    )
    prec = F.col("num_entities_in_common") / F.greatest(
        F.col("num_extracted_entities"), F.lit(1)
    )
    rec = F.col("num_entities_in_common") / F.greatest(
        F.col("num_true_entities"), F.lit(1)
    )
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return (
        tot.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn("F1", F.round(f1, 6))
    )


def create_f1_report(
    gold: DataFrame,
    predicted: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Per-entity-class precision/recall/F1 + micro/macro average rows
    (reference ``create_f1_score_report``, ``cleaning/analysis.py:34-207``).

    Output: ``(ent_type, tp, fp, fn, precision, recall, f1)`` with extra
    rows ``__micro__`` / ``__macro__``.
    """
    keys = keys or ["fold", "doc_id"]
    tp = _match(gold, predicted, keys).groupBy("ent_type").agg(
        F.count("*").alias("tp")
    )
    n_gold = gold.groupBy("ent_type").agg(F.count("*").alias("n_gold"))
    n_pred = predicted.groupBy("ent_type").agg(F.count("*").alias("n_pred"))
    per_class = (
        n_gold.join(n_pred, "ent_type", "full")
        .join(tp, "ent_type", "left")
        .fillna(0, ["n_gold", "n_pred", "tp"])
        .select(
            "ent_type",
            F.col("tp").alias("tp"),
            (F.col("n_pred") - F.col("tp")).alias("fp"),
            (F.col("n_gold") - F.col("tp")).alias("fn"),
        )
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    per_class = (
        per_class.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn("f1", F.round(f1, 6))
    )
    # per_class feeds three output branches (itself, micro, macro); without
    # a lineage cut the gold/pred match joins execute once per branch.  The
    # frame is one row per entity class — trivially small at any scale.
    per_class = per_class.transform(cut_lineage, eager=False)
    micro = per_class.agg(
        F.lit("__micro__").alias("ent_type"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
    )
    micro = (
        micro.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn("f1", F.round(f1, 6))
    )
    macro = per_class.agg(
        F.lit("__macro__").alias("ent_type"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.round(F.sum("precision") / F.count("*"), 6).alias("precision"),
        F.round(F.sum("recall") / F.count("*"), 6).alias("recall"),
        F.round(F.sum("f1") / F.count("*"), 6).alias("f1"),
    )
    return per_class.unionByName(micro).unionByName(macro)


def create_classification_report(
    labeled: DataFrame,
    gold_col: str = "gold_label",
    pred_col: str = "pred_label",
) -> DataFrame:
    """Token-classification report over two label columns (reference
    ``create_f1_score_report``, ``cleaning/analysis.py:34-66``, which wraps
    ``sklearn.metrics.classification_report``) as one aggregation plan.

    One input row = one classified element (e.g. a token); a true positive
    for label L is a row where both columns equal L.  Output mirrors the
    sklearn layout transposed to rows: one row per label with
    ``(label, precision, recall, f1, support)`` plus ``__accuracy__``
    (precision = recall = f1 = overall accuracy, support = total rows),
    ``__macro__`` (unweighted label means) and ``__weighted__``
    (support-weighted means) rows.  ``zero_division=0`` semantics: a label
    with no predictions gets precision 0, no gold rows gets recall 0.

    Scale shape: a single ``groupBy(gold, pred)`` contingency aggregation
    (map-side combined, |labels|^2 rows) feeds every branch — the input is
    scanned once regardless of corpus size.
    """
    ct = labeled.groupBy(
        F.col(gold_col).alias("__gold"), F.col(pred_col).alias("__pred")
    ).agg(F.count("*").alias("n"))
    # the contingency table feeds four branches (per-label, accuracy, macro,
    # weighted); cut lineage so the corpus scan runs once.  |labels|^2 rows —
    # trivially small at any scale.
    ct = ct.transform(cut_lineage, eager=False)
    support = ct.groupBy(F.col("__gold").alias("label")).agg(
        F.sum("n").alias("support")
    )
    predicted = ct.groupBy(F.col("__pred").alias("label")).agg(
        F.sum("n").alias("n_pred")
    )
    tp = (
        ct.filter(F.col("__gold") == F.col("__pred"))
        .select(F.col("__gold").alias("label"), F.col("n").alias("tp"))
    )
    per_label = (
        support.join(predicted, "label", "full")
        .join(tp, "label", "left")
        .fillna(0, ["support", "n_pred", "tp"])
    )
    prec = F.col("tp") / F.greatest(F.col("n_pred"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("support"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    per_label = per_label.select(
        "label",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        "support",
        "tp",
    ).transform(cut_lineage, eager=False)
    accuracy = per_label.agg(
        F.lit("__accuracy__").alias("label"),
        F.round(F.sum("tp") / F.greatest(F.sum("support"), F.lit(1)), 6).alias(
            "precision"
        ),
        F.round(F.sum("tp") / F.greatest(F.sum("support"), F.lit(1)), 6).alias(
            "recall"
        ),
        F.round(F.sum("tp") / F.greatest(F.sum("support"), F.lit(1)), 6).alias(
            "f1"
        ),
        F.sum("support").alias("support"),
    )
    macro = per_label.agg(
        F.lit("__macro__").alias("label"),
        F.round(F.avg("precision"), 6).alias("precision"),
        F.round(F.avg("recall"), 6).alias("recall"),
        F.round(F.avg("f1"), 6).alias("f1"),
        F.sum("support").alias("support"),
    )
    weighted = per_label.agg(
        F.lit("__weighted__").alias("label"),
        F.round(
            F.sum(F.col("precision") * F.col("support"))
            / F.greatest(F.sum("support"), F.lit(1)),
            6,
        ).alias("precision"),
        F.round(
            F.sum(F.col("recall") * F.col("support"))
            / F.greatest(F.sum("support"), F.lit(1)),
            6,
        ).alias("recall"),
        F.round(
            F.sum(F.col("f1") * F.col("support"))
            / F.greatest(F.sum("support"), F.lit(1)),
            6,
        ).alias("f1"),
        F.sum("support").alias("support"),
    )
    return (
        per_label.drop("tp")
        .unionByName(accuracy)
        .unionByName(macro)
        .unionByName(weighted)
    )


def f1_score_simple(
    gold: DataFrame,
    predicted: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Micro-averaged P/R/F1 as a one-row frame (reference
    ``create_f1_score_report_iob(simple=True)``,
    ``cleaning/analysis.py:69-135``): TP = exact entity matches,
    precision = TP/|predicted|, recall = TP/|gold|."""
    keys = keys or ["fold", "doc_id"]
    tp = _match(gold, predicted, keys).agg(F.count("*").alias("tp"))
    n_pred = predicted.agg(F.count("*").alias("n_pred"))
    n_gold = gold.agg(F.count("*").alias("n_gold"))
    joined = tp.crossJoin(n_pred).crossJoin(n_gold)  # three 1-row frames
    prec = F.col("tp") / F.greatest(F.col("n_pred"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("n_gold"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return joined.select(
        "tp",
        "n_pred",
        "n_gold",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def create_f1_report_ensemble(
    model_outputs: DataFrame,
    gold: DataFrame,
    keys: list[str] | None = None,
    models: list[str] | None = None,
) -> DataFrame:
    """Per-model micro P/R/F1 over an ensemble's entity outputs (reference
    ``create_f1_report_ensemble_iob``, ``cleaning/analysis.py:174-210``):
    one output row per distinct ``model`` value.

    The reference loops models on the driver calling the simple report per
    frame; here the stacked entity table is scored in one plan — a semi-join
    against gold marks true positives, a single ``groupBy(model)`` counts
    them, and the scalar gold count is broadcast back.  No per-model pass
    over the data.

    A model that predicted NOTHING has no rows in ``model_outputs`` and
    would silently drop out; pass ``models`` (the full ensemble's names, as
    the reference's input dict keys provide implicitly) to force an
    all-zero row for it.
    """
    keys = keys or ["fold", "doc_id"]
    on = keys + ["span", "ent_type"]
    hits = model_outputs.join(gold.select(*on).distinct(), on, "semi")
    tp = hits.groupBy("model").agg(F.count("*").alias("tp"))
    n_pred = model_outputs.groupBy("model").agg(F.count("*").alias("n_pred"))
    if models is not None:
        roster = local_frame(
            model_outputs.sparkSession, [(m,) for m in models], "model string"
        )
        n_pred = roster.join(n_pred, "model", "left").fillna(0, ["n_pred"])
    n_gold = gold.agg(F.count("*").alias("n_gold"))  # 1 row, broadcast join
    joined = n_pred.join(tp, "model", "left").fillna(0, ["tp"]).crossJoin(n_gold)
    prec = F.col("tp") / F.greatest(F.col("n_pred"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("n_gold"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return joined.select(
        "model",
        "tp",
        "n_pred",
        "n_gold",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def flag_suspicious_labels(
    model_outputs: DataFrame,
    gold_model_name: str = "GOLD",
    align_cols: list[str] | None = None,
    label_col: str = "ent_type",
    min_agreement: float = 0.5,
) -> DataFrame:
    """Find likely label errors by model voting
    (reference ``flag_suspicious_labels``, ``cleaning/analysis.py:210-284``):
    union of gold + N model outputs, vote-count per (span, label), then flag

    * ``in_gold_low_agreement`` — in the gold standard but few models agree;
    * ``not_in_gold_high_agreement`` — not in gold but most models found it.

    ``model_outputs`` = entity table with a ``model`` column; output adds
    ``models ARRAY<STRING>``, ``num_models``, ``frac_models``, ``in_gold``,
    ``category``.
    """
    align_cols = align_cols or ["fold", "doc_id"]
    n_models = (
        model_outputs.filter(F.col("model") != gold_model_name)
        .select("model")
        .distinct()
        .count()
    )
    votes = (
        model_outputs.groupBy(*align_cols, "span", label_col)
        .agg(
            F.array_sort(F.collect_set("model")).alias("models"),
            F.max(F.when(F.col("model") == gold_model_name, 1).otherwise(0)).alias(
                "__in_gold"
            ),
            F.sum(F.when(F.col("model") != gold_model_name, 1).otherwise(0)).alias(
                "num_models"
            ),
        )
        .withColumn("in_gold", F.col("__in_gold") == 1)
        .withColumn(
            "frac_models",
            F.round(F.col("num_models") / F.lit(max(n_models, 1)), 6),
        )
        .drop("__in_gold")
    )
    return votes.withColumn(
        "category",
        F.when(
            F.col("in_gold") & (F.col("frac_models") < min_agreement),
            "in_gold_low_agreement",
        )
        .when(
            ~F.col("in_gold") & (F.col("frac_models") >= min_agreement),
            "not_in_gold_high_agreement",
        )
        .otherwise("ok"),
    )


def align_model_outputs_to_tokens(
    model_output: DataFrame,
    tokens: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Re-join corpus-wide model output spans onto the token table
    (reference ``align_model_outputs_to_tokens``,
    ``cleaning/analysis.py:288-328``): equijoin on keys + exact span."""
    keys = keys or ["fold", "doc_id"]
    return tokens.join(model_output, keys + ["span"], "left")


def csv_prep(
    flagged: DataFrame,
    documents: DataFrame,
    output_dir: str | None = None,
    doc_col: str = "doc_id",
    label_col: str = "ent_type",
) -> DataFrame:
    """Format flagged-label rows for hand-labeling CSVs (reference
    ``csv_prep``, ``cleaning/analysis.py:331-396``): flat columns —
    doc keys, char offsets, covered text, label, vote stats, an empty
    ``correct?`` column for the annotator — sorted for review.  Pass
    ``output_dir`` to also write one CSV per category.
    """
    docs = documents.select(
        F.col(doc_col), F.col("text").alias("__text")
    )
    out = (
        flagged.join(docs, doc_col)
        .select(
            *[c for c in flagged.columns if c not in ("span", "models")],
            F.col("span")["begin"].alias("begin"),
            F.col("span")["end"].alias("end"),
            F.expr(
                "substring(__text, span.begin + 1, span.end - span.begin)"
            ).alias("covered_text"),
            F.concat_ws(";", "models").alias("models"),
            F.lit("").alias("correct?"),
        )
        .orderBy(doc_col, "begin")
    )
    if output_dir is not None:
        for row in out.select("category").distinct().collect():
            out.filter(F.col("category") == row.category).coalesce(1).write.mode(
                "overwrite"
            ).option("header", "true").csv(f"{output_dir}/{row.category}")
    return out
