"""CoNLL reader tests — offsets must reconstruct exactly
(SURVEY.md §7 "known-hard items": whitespace-exact reconstruction)."""

import os

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.functions import spans as S
from text_extensions_for_pandas_spark.operators.iob import iob_to_iob2, iob_to_spans
from text_extensions_for_pandas_spark.sources.conll import (
    conll_2003_to_dataframe,
    conll_documents,
    conll_output_to_dataframe,
    conll_u_to_dataframe,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def conll(spark):
    return conll_2003_to_dataframe(spark, f"{DATA}/sample.conll", fold="test").cache()


def test_doc_and_token_counts(conll):
    # the -DOCSTART- delimiter is retained as each document's first token,
    # matching the reference reader (see test_reference_differential.py)
    assert conll.select("doc_id").distinct().count() == 2
    assert conll.filter("doc_id = 0").count() == 17
    assert conll.filter("doc_id = 1").count() == 6


def test_offsets_cover_tokens(conll):
    bad = conll.filter(
        S.covered_text("doc_text", "span") != F.col("token")
    ).count()
    assert bad == 0


def test_whitespace_rules(conll):
    docs = conll_documents(conll)
    texts = {r.doc_id: r.text for r in docs.collect()}
    # no space before ')' '.' ; no space after '('; clitic 's attaches
    assert texts[0] == (
        "-DOCSTART- Alice Jones visited Acme Corp (last week). "
        "She bought shares of Acme."
    )
    assert texts[1] == "-DOCSTART- Bob's dog barked."


def test_sentence_ids(conll):
    sents = {
        (r.doc_id, r.sentence_id)
        for r in conll.select("doc_id", "sentence_id").distinct().collect()
    }
    assert sents == {(0, 0), (0, 1), (1, 0)}


def test_iob_columns_and_repair(conll):
    # raw fixture uses IOB1 ('I-PER' starts); repair turns run starts into B
    repaired = iob_to_iob2(conll, iob_col="ent_iob", type_col="ent_type")
    ents = iob_to_spans(repaired, iob_col="ent_iob", type_col="ent_type")
    got = sorted(
        (r.doc_id, r.token_span.begin_token, r.token_span.end_token, r.ent_type)
        for r in ents.collect()
    )
    assert got == [
        (0, 1, 3, "PER"),    # Alice Jones
        (0, 4, 6, "ORG"),    # Acme Corp
        (0, 15, 16, "ORG"),  # Acme
        (1, 1, 2, "PER"),    # Bob
    ]


def test_pos_chunk_passthrough(conll):
    r = conll.filter("doc_id = 0 AND token_idx = 1").collect()[0]
    assert r.pos == "NNP" and r.chunk_iob == "B" and r.chunk_type == "NP"


def test_conll_u_text_from_comments(spark):
    df = conll_u_to_dataframe(spark, f"{DATA}/sample.conllu", fold="dev").cache()
    texts = {r.doc_id: r.doc_text for r in df.select("doc_id", "doc_text").distinct().collect()}
    assert texts[0] == "I can't see it. It was small."
    assert texts[1] == "Dogs bark."
    bad = df.filter(S.covered_text("doc_text", "span") != F.col("token")).count()
    assert bad == 0


def test_conll_u_multiword_and_heads(spark):
    df = conll_u_to_dataframe(spark, f"{DATA}/sample.conllu", fold="dev")
    d0 = {r.token_idx: r for r in df.filter("doc_id = 0").collect()}
    # "can't" is one surface token, merged from subtokens, lemma of first
    mw = [r for r in d0.values() if r.is_multiword]
    assert len(mw) == 1 and mw[0].token == "can't" and mw[0].lemma == "can"
    # head renumbering: token 0 'I' heads to doc-level index of 'see'
    see_idx = next(i for i, r in d0.items() if r.token == "see")
    # 'I' had head=3 (sentence-relative); in surface tokens 'see' is idx 2
    assert d0[0].head == see_idx
    # second sentence heads offset by sentence start
    was_row = next(r for r in d0.values() if r.token == "was")
    small_idx = next(i for i, r in d0.items() if r.token == "small")
    assert was_row.head == small_idx
    # root has NULL head
    assert d0[see_idx].head is None


def test_conll_output_reader(spark, conll):
    tags = conll_output_to_dataframe(
        spark, f"{DATA}/sample_output.conll", fold="test"
    ).withColumnRenamed("ent_iob", "pred_iob").withColumnRenamed(
        "ent_type", "pred_type"
    )
    assert tags.count() == conll.count()
    joined = conll.join(tags, ["fold", "doc_id", "token_idx"])
    first = joined.filter("doc_id = 0 AND token_idx = 1").collect()[0]
    assert first.token == "Alice" and first.pred_iob == "B" and first.pred_type == "PER"


def test_combine_folds_and_corpus_reader(spark):
    from text_extensions_for_pandas_spark.sources.conll import read_conll_corpus

    corpus = read_conll_corpus(
        spark, {"train": f"{DATA}/sample.conll", "test": f"{DATA}/sample.conll"}
    )
    assert {r.fold for r in corpus.select("fold").distinct().collect()} == {
        "train", "test"
    }
    assert corpus.count() == 2 * 23


def test_render_spans_html(spark, conll):
    from text_extensions_for_pandas_spark.display import render_spans_html
    from text_extensions_for_pandas_spark.operators.iob import (
        iob_to_iob2,
        iob_to_spans,
    )
    from text_extensions_for_pandas_spark.sources.conll import conll_documents

    ents = iob_to_spans(iob_to_iob2(conll))
    docs = conll_documents(conll).withColumnRenamed("text", "text")
    html_out = render_spans_html(
        ents, docs, label_col="ent_type", max_docs=5
    )
    assert "<mark title='PER'>Alice Jones</mark>" in html_out
    assert "<mark title='ORG'>Acme Corp</mark>" in html_out


def test_render_spans_golden_on_reference_fixture(spark):
    """Golden-HTML: the renderer's full output on the reference's own
    CoNLL-2003 fixture is byte-stable (offsets table + highlighted text,
    reference jupyter/span.py:42-426 semantics)."""
    from text_extensions_for_pandas_spark.display import render_spans_html
    from text_extensions_for_pandas_spark.operators.iob import (
        iob_to_iob2,
        iob_to_spans,
    )
    from text_extensions_for_pandas_spark.sources.conll import (
        conll_2003_to_dataframe,
        conll_documents,
    )

    fixture = "/root/reference/test_data/io/test_conll/conll03_test.txt"
    if not os.path.exists(fixture):
        pytest.skip("reference CoNLL-2003 fixture not present")
    toks = conll_2003_to_dataframe(
        spark, fixture, column_names=["ent"], iob_columns=[True]
    )
    ents = iob_to_spans(iob_to_iob2(toks))
    docs = conll_documents(toks)
    html_out = render_spans_html(
        ents, docs, label_col="ent_type", max_docs=2, show_offsets=True
    )
    with open("tests/data/golden_conll03_spans.html") as f:
        assert html_out == f.read()


def test_render_spans_region_types(spark):
    """SOLO / NESTED / COMPLEX region classification and sanitization match
    the reference's static rendering rules."""
    from text_extensions_for_pandas_spark.display import render_spans_html

    text = "aaa bbb ccc ddd eee $5 <x>\nfff"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")

    def spans_df(triples):
        return spark.createDataFrame(
            [(0, (b, e), lbl) for b, e, lbl in triples],
            "doc_id long, span struct<begin:int,end:int>, lbl string",
        )

    # solo
    solo = render_spans_html(spans_df([(0, 3, "A")]), docs, label_col="lbl")
    assert "<mark title='A'>aaa</mark>" in solo

    # nested one level: [0,11) contains [4,7)
    nested = render_spans_html(
        spans_df([(0, 11, "OUT"), (4, 7, "IN")]), docs, label_col="lbl"
    )
    assert "<mark class='nested-root' title='OUT'>" in nested
    assert "<mark class='nested' title='IN'>bbb</mark>" in nested

    # partial overlap -> complex flat set covering the union
    complex_ = render_spans_html(
        spans_df([(0, 7, "A"), (4, 11, "B")]), docs, label_col="lbl"
    )
    assert "class='complex-set'" in complex_
    assert "aaa bbb ccc<span class='mark-tag'>Set</span>" in complex_

    # sanitization: $, <>, newline
    assert "<span>&#36;</span>5" in solo
    assert "&lt;x&gt;" in solo and "<br>fff" in solo


def test_dataframe_widget_static_subset(spark):
    """The static DataFrameWidget renders both panes (row table + span
    view), honors the selection column, bounds rows, and refuses
    interactive editing with the documented scope note."""
    import pytest as _pytest

    from text_extensions_for_pandas_spark.display import DataFrameWidget

    text = "aaa bbb ccc"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    spans = spark.createDataFrame(
        [(0, (0, 3), "A", True), (0, (4, 7), "B", False)],
        "doc_id long, span struct<begin:int,end:int>, lbl string, sel boolean",
    )

    w = DataFrameWidget(
        spans, docs, metadata_column="sel", label_col="lbl", max_rows=10
    )
    html = w.to_html()
    # both panes present
    assert "tep-widget-table" in html and "span-array" in html
    # table pane has the rows; span pane has the marked document text
    assert "<th>lbl</th>" in html and "<td>A</td>" in html
    assert "<mark title='A'>aaa</mark>" in html
    # _repr_html_ is the notebook hook
    assert w._repr_html_() == html

    assert list(w.selected()) == [True, False]
    # no metadata column -> all-False selection
    assert list(
        DataFrameWidget(spans.drop("sel"), docs).selected()
    ) == [False, False]

    # bounded: max_rows rows survive, like the reference display limit
    assert len(DataFrameWidget(spans, docs, max_rows=1).to_dataframe()) == 1

    with _pytest.raises(NotImplementedError):
        w.set_interactive_columns(["lbl"])

    # without documents: table pane only, no span pane
    table_only = DataFrameWidget(spans).to_html()
    assert "tep-widget-table" in table_only
    assert "span-array" not in table_only


def test_conll_u_default_helpers():
    from text_extensions_for_pandas_spark.sources.conll import (
        CONLL_U_SCHEMA,
        default_conll_u_field_names,
        default_conll_u_numeric_cols,
        default_ewt_metadata,
    )

    # the documented defaults match the reader's actual output schema
    fields = CONLL_U_SCHEMA
    for name in default_conll_u_field_names():
        assert name in fields, name
    for name in default_conll_u_numeric_cols():
        assert name in fields, name
    for out_col in default_ewt_metadata().values():
        assert out_col in fields, out_col
    assert default_ewt_metadata()["newdoc id"] == "doc_key"
