"""cut_lineage: localCheckpoint by default, reliable checkpoint when a
checkpoint dir is configured (VERDICT r10 "What's wrong" #1 — on a real
cluster a lost executor makes localCheckpoint blocks unrecoverable)."""

import os

import pytest

from text_extensions_for_pandas_spark.functions.spans import make_span
from text_extensions_for_pandas_spark.operators.cleaning import (
    create_classification_report,
    create_f1_report,
)
from text_extensions_for_pandas_spark.operators.extract import (
    extract_regex,
    extract_split,
)
from text_extensions_for_pandas_spark.operators.graph import (
    connected_components,
)
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage


def _files_under(path):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs]


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "doc_a long, doc_b long"
    )


def test_cut_lineage_local_by_default(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = cut_lineage(_edges(spark), eager=True)
    assert df.count() == 4  # materializes; no checkpoint dir needed


def _entities(spark, second_type):
    rows = [("dev", 0, 0, 3, "PER"), ("dev", 0, 5, 9, second_type)]
    return spark.createDataFrame(
        rows, "fold string, doc_id long, b int, e int, ent_type string"
    ).select("fold", "doc_id", make_span("b", "e").alias("span"), "ent_type")


def _docs(spark):
    return spark.createDataFrame(
        [(0, "aaa SPLIT bbb SPLIT ccc"), (1, "no split points")],
        "doc_id long, text string",
    )


_CUT_SITES = {
    "connected_components": lambda spark: connected_components(_edges(spark)),
    "classification_report": lambda spark: create_classification_report(
        spark.createDataFrame(
            [("A", "A"), ("A", "B"), ("B", "B"), ("O", "A")],
            "gold_label string, pred_label string",
        )
    ),
    "f1_report": lambda spark: create_f1_report(
        _entities(spark, "LOC"), _entities(spark, "ORG")
    ),
    "extract_split": lambda spark: extract_split(
        _docs(spark), extract_regex(_docs(spark), r"SPLIT").select("doc_id", "span")
    ),
}


@pytest.mark.parametrize("site", sorted(_CUT_SITES))
def test_cuts_honor_checkpoint_dir(spark, tmp_path, site):
    """Every lineage cut goes through ``cut_lineage``: with a checkpoint dir
    set, reliable checkpoint files land under it, and the rows are the same
    as with the default local cut."""
    build = _CUT_SITES[site]
    sc = spark.sparkContext
    expected = sorted(build(spark).collect())
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        got = sorted(build(spark).collect())
        assert _files_under(ckdir), "no checkpoint files written under the dir"
    finally:
        sc.setCheckpointDir(None)  # do not leak into other tests
        assert sc.getCheckpointDir() is None
    assert got == expected
