"""IOB tag machinery as window functions (reference ``io/conll.py``),
per SURVEY.md §2.6.

The reference implements these as sequential pandas loops; here they are
pure window-function plans over ``Window.partitionBy(doc keys).orderBy(
token_idx)`` — shuffle once by doc, then everything is local and
codegen-friendly.

``doc_col`` may be a single column name or a list (e.g. ``["fold",
"doc_id"]`` for multi-fold corpora, FIXTURES.md §2) — all key columns are
carried through the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_extensions_for_pandas_spark.functions.spans import make_span, make_token_span


def _keys(doc_col: str | list[str]) -> list[str]:
    return [doc_col] if isinstance(doc_col, str) else list(doc_col)


def iob_to_iob2(
    tokens: DataFrame,
    iob_col: str = "ent_iob",
    type_col: str = "ent_type",
    doc_col: str | list[str] = "doc_id",
    sentence_col: str | None = "sentence_id",
) -> DataFrame:
    """Repair IOB1 tags to IOB2: an ``I`` becomes ``B`` when it starts an
    entity — previous tag is ``O``, entity type changes, or a sentence
    boundary intervenes (reference ``_iob_to_iob2``, ``io/conll.py:590-646``).
    """
    keys = _keys(doc_col)
    w = Window.partitionBy(*keys).orderBy("token_idx")
    prev_iob = F.lag(F.col(iob_col)).over(w)
    prev_type = F.lag(F.col(type_col)).over(w)
    boundary = (
        F.lag(F.col(sentence_col)).over(w) != F.col(sentence_col)
        if sentence_col
        else F.lit(False)
    )
    starts_entity = (
        (F.col(iob_col) == "I")
        & (
            prev_iob.isNull()
            | (prev_iob == "O")
            | (prev_type != F.col(type_col))
            | F.coalesce(boundary, F.lit(True))
        )
    )
    return tokens.withColumn(
        iob_col, F.when(starts_entity, F.lit("B")).otherwise(F.col(iob_col))
    )


def iob_to_spans(
    tokens: DataFrame,
    iob_col: str = "ent_iob",
    type_col: str = "ent_type",
    doc_col: str | list[str] = "doc_id",
) -> DataFrame:
    """IOB2 tags → entity span table (reference ``iob_to_spans``,
    ``io/conll.py:856-938``, an iterative prefix-extension loop).

    Spark-first: classic sessionization over the tagged tokens only.  The
    ``O`` tokens are dropped first, so the window sorts and scans only the
    tokens that can be in an entity; ``entity_id`` is the running count of
    entity starts, and each run is grouped.  Output: ``(doc keys...,
    token_span, span, ent_type)`` with char spans covering first..last
    token; entity type taken from the run's first token (``min_by`` —
    deterministic, unlike ``first`` after a shuffle).

    A run starts at a ``B``, or at an ``I`` whose predecessor is ``O`` or
    missing (malformed IOB2), matching the reference's repair-first
    behavior.  ``token_idx`` is the token's position in its tokenization
    (the token-span contract): the predecessor of token ``k`` is token
    ``k - 1``, and an index absent from ``tokens`` counts as an ``O``, as
    the document start does.  On input with gaps in ``token_idx`` an ``I``
    right after a gap therefore starts a new entity.  A token with a NULL
    tag does not break a run, and is not part of one.
    """
    keys = _keys(doc_col)
    w = Window.partitionBy(*keys).orderBy("token_idx")
    iob = F.col(iob_col)
    kept = tokens.filter(~iob.eqNullSafe("O"))
    prev_idx = F.lag("token_idx").over(w)
    is_start = (iob == "B") | (
        (iob == "I") & F.coalesce(prev_idx != F.col("token_idx") - 1, F.lit(True))
    )
    tagged = kept.withColumn(
        "__entity_id",
        F.sum(F.when(is_start, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ents = (
        tagged.filter(iob.isNotNull())
        .groupBy(*keys, "__entity_id")
        .agg(
            F.min("token_idx").alias("__first_tok"),
            F.max("token_idx").alias("__last_tok"),
            F.min(F.col("span")["begin"]).alias("__char_b"),
            F.max(F.col("span")["end"]).alias("__char_e"),
            F.min_by(F.col(type_col), F.col("token_idx")).alias(type_col),
        )
    )
    return ents.select(
        *keys,
        make_token_span(F.col("__first_tok"), F.col("__last_tok") + 1).alias(
            "token_span"
        ),
        make_span(F.col("__char_b"), F.col("__char_e")).alias("span"),
        type_col,
    )


def make_iob_tag_categories(entity_types: list[str]) -> tuple[list[str], dict[str, int]]:
    """Class-label list + id mapping for IOB2 token classification
    (reference ``make_iob_tag_categories``, ``io/conll.py:1238-1260``):
    ``O`` is class 0, then ALL ``B-<type>`` labels, then ALL ``I-<type>``
    labels, each block in the CALLER'S type order — the reference's exact
    layout (``io/conll.py:1257``), and class-id mappings must be stable
    across training/inference systems (verified differentially)."""
    labels = ["O"] + [
        f"{x}-{t}" for x in ("B", "I") for t in entity_types
    ]
    return labels, {lbl: i for i, lbl in enumerate(labels)}


def add_token_classes(
    tokens: DataFrame,
    class_ids: dict[str, int],
    iob_col: str = "ent_iob",
    type_col: str = "ent_type",
) -> DataFrame:
    """Add ``token_class`` ('B-PER', …) and ``token_class_id`` columns
    (reference ``add_token_classes``, ``io/conll.py:1263-1310``) — a literal
    map lookup, no join."""
    label = F.when(
        F.col(iob_col) == "O", F.lit("O")
    ).otherwise(F.concat_ws("-", F.col(iob_col), F.col(type_col)))
    mapping = F.create_map(
        *[F.lit(x) for kv in class_ids.items() for x in kv]
    )
    return tokens.withColumn("token_class", label).withColumn(
        "token_class_id", mapping[F.col("token_class")].cast("int")
    )


def decode_class_labels(
    df: DataFrame,
    class_labels: list[str],
    id_col: str = "predicted_id",
    iob_col: str = "predicted_iob",
    type_col: str = "predicted_type",
) -> DataFrame:
    """Inverse of :func:`add_token_classes` for model predictions
    (reference ``decode_class_labels``, ``io/conll.py:1313-1323``):
    class id → IOB tag + entity type columns."""
    labels = F.array(*[F.lit(lbl) for lbl in class_labels])
    return (
        df.withColumn(
            # F.get: NULL (not an ANSI error) for ids outside the label list
            "__lbl", F.get(labels, F.col(id_col).cast("int"))
        )
        .withColumn(
            iob_col,
            F.when(F.col("__lbl") == "O", "O").otherwise(
                F.substring("__lbl", 1, 1)
            ),
        )
        .withColumn(
            type_col,
            F.when(F.col("__lbl") == "O", F.lit(None).cast("string")).otherwise(
                F.expr("substring(__lbl, 3)")
            ),
        )
        .drop("__lbl")
    )


def spans_to_iob(
    tokens: DataFrame,
    entities: DataFrame,
    type_col: str = "ent_type",
    doc_col: str | list[str] = "doc_id",
    iob_col: str = "ent_iob",
) -> DataFrame:
    """Entity token-spans → per-token IOB2 + type columns (reference
    ``spans_to_iob``, ``io/conll.py:941-1021``).

    Spark-first: explode each entity into its token indices
    (``sequence(begin_token, end_token - 1)``) so the token↔entity
    association is a pure equijoin on ``(doc keys, token_idx)`` — no band
    join.  Tokens outside any entity get ``O`` / NULL type.
    """
    keys = _keys(doc_col)
    ent_toks = entities.select(
        *[F.col(k).alias(f"__ent_{k}") for k in keys],
        F.col(type_col).alias("__ent_type"),
        F.col("token_span")["begin_token"].alias("__b"),
        F.explode(
            F.sequence(
                F.col("token_span")["begin_token"],
                F.col("token_span")["end_token"] - 1,
            )
        ).alias("__tok_idx"),
    )
    cond = F.col("token_idx") == F.col("__tok_idx")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__ent_{k}"))
    joined = tokens.join(ent_toks, cond, "left").drop(
        *[f"__ent_{k}" for k in keys]
    )
    return joined.withColumn(
        iob_col,
        F.when(F.col("__ent_type").isNull(), "O")
        .when(F.col("token_idx") == F.col("__b"), "B")
        .otherwise("I"),
    ).withColumn(type_col, F.col("__ent_type")).drop("__ent_type", "__b", "__tok_idx")
