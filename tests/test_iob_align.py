"""IOB machinery + alignment tests (reference ``io/conll.py`` window ops,
``array/token_span.py:729-802``)."""

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark.functions import spans as S
from text_extensions_for_pandas_spark.functions.text import tokenize_whitespace
from text_extensions_for_pandas_spark.operators.align import align_to_tokens, lemmatize
from text_extensions_for_pandas_spark.operators.iob import (
    iob_to_iob2,
    iob_to_spans,
    spans_to_iob,
)


@pytest.fixture(scope="module")
def iob_tokens(spark):
    # doc 0: "John Smith works at Big Corp ."
    rows = [
        (0, 0, "John", "B", "PER", 0),
        (0, 1, "Smith", "I", "PER", 0),
        (0, 2, "works", "O", None, 0),
        (0, 3, "at", "O", None, 0),
        (0, 4, "Big", "B", "ORG", 0),
        (0, 5, "Corp", "I", "ORG", 0),
        (0, 6, ".", "O", None, 0),
        # doc 1: entity at start and end, back-to-back entities
        (1, 0, "Paris", "B", "LOC", 0),
        (1, 1, "loves", "O", None, 0),
        (1, 2, "Alice", "B", "PER", 0),
        (1, 3, "Bob", "B", "PER", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, token_idx int, token string, ent_iob string, "
              "ent_type string, sentence_id int"
    )
    # char spans: pretend each token is 5 chars apart
    return df.withColumn(
        "span", S.make_span(F.col("token_idx") * 6, F.col("token_idx") * 6 + 5)
    )


def test_iob_to_spans(iob_tokens):
    out = iob_to_spans(iob_tokens)
    got = sorted(
        (r.doc_id, r.token_span.begin_token, r.token_span.end_token, r.ent_type)
        for r in out.collect()
    )
    assert got == [
        (0, 0, 2, "PER"), (0, 4, 6, "ORG"),
        (1, 0, 1, "LOC"), (1, 2, 3, "PER"), (1, 3, 4, "PER"),
    ]


def _iob_spans_ref(docs):
    """Sequential IOB2 sessionization over dense token lists: a run starts
    at ``B``, or at ``I`` after ``O`` or the document start; a NULL tag
    neither breaks a run nor joins it; any other tag joins the run."""
    out = set()
    for doc_id, tags in docs.items():
        runs, entity, prev = {}, 0, "O"
        for idx, (iob, typ) in enumerate(tags):
            entity += iob == "B" or (iob == "I" and prev == "O")
            if iob is not None and iob != "O":
                runs.setdefault(entity, []).append((idx, typ))
            prev = iob
        for toks in runs.values():
            out.add((doc_id, toks[0][0], toks[-1][0] + 1, toks[0][1]))
    return out


def test_iob_to_spans_matches_sequential_model(spark):
    """Dense random tag sequences with B/I/O, NULL and unknown tags and
    NULL types: the tagged-tokens-only plan equals the sequential scan."""
    import random

    rng = random.Random(5)
    tags = ["B", "I", "I", "O", "O", "O", None, "X"]
    docs = {
        d: [(rng.choice(tags), rng.choice(["PER", "ORG", None]))
            for _ in range(rng.randint(0, 30))]
        for d in range(300)
    }
    rows = [
        (d, i, iob, typ) for d, toks in docs.items() for i, (iob, typ) in enumerate(toks)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, token_idx int, ent_iob string, ent_type string"
    ).withColumn("span", S.make_span(F.col("token_idx") * 6, F.col("token_idx") * 6 + 5))
    got = {
        (r.doc_id, r.token_span.begin_token, r.token_span.end_token, r.ent_type)
        for r in iob_to_spans(df).collect()
    }
    want = _iob_spans_ref(docs)
    assert got == want and len(want) > 300


def test_iob_to_spans_missing_index_counts_as_o(spark):
    """``token_idx`` is positional: an ``I`` after a missing index starts
    a new entity, as it would after an ``O`` token."""
    rows = [
        (0, 0, "B", "PER"), (0, 1, "I", "PER"), (0, 3, "I", "PER"), (0, 4, "I", "PER"),
        (1, 1, "I", "LOC"), (1, 2, "I", "LOC"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, token_idx int, ent_iob string, ent_type string"
    ).withColumn("span", S.make_span(F.col("token_idx") * 6, F.col("token_idx") * 6 + 5))
    got = sorted(
        (r.doc_id, r.token_span.begin_token, r.token_span.end_token, r.span.begin, r.span.end)
        for r in iob_to_spans(df).collect()
    )
    assert got == [(0, 0, 2, 0, 11), (0, 3, 5, 18, 29), (1, 1, 3, 6, 17)]


def test_iob_spans_roundtrip(iob_tokens):
    ents = iob_to_spans(iob_tokens)
    back = spans_to_iob(iob_tokens.drop("ent_iob", "ent_type"), ents)
    got = {
        (r.doc_id, r.token_idx): (r.ent_iob, r.ent_type) for r in back.collect()
    }
    orig = {
        (r.doc_id, r.token_idx): (r.ent_iob, r.ent_type)
        for r in iob_tokens.collect()
    }
    assert got == orig


def test_iob1_to_iob2_repair(spark):
    rows = [
        (0, 0, "I", "PER", 0),   # I at doc start → B
        (0, 1, "I", "PER", 0),   # continues
        (0, 2, "O", None, 0),
        (0, 3, "I", "LOC", 0),   # I after O → B
        (0, 4, "I", "ORG", 0),   # type change → B
        (0, 5, "I", "ORG", 1),   # sentence boundary → B
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, token_idx int, ent_iob string, ent_type string, sentence_id int"
    )
    out = iob_to_iob2(df)
    got = [r.ent_iob for r in out.orderBy("token_idx").collect()]
    assert got == ["B", "I", "O", "B", "B", "B"]


def test_align_to_tokens(spark):
    docs = spark.createDataFrame([(0, "John Smith works here")], "doc_id long, text string")
    toks = tokenize_whitespace(docs)
    spans = spark.createDataFrame(
        [(0, 0, 10), (0, 5, 10), (0, 3, 9)], "doc_id long, b int, e int"
    ).select("doc_id", S.make_span("b", "e").alias("span"))
    out = align_to_tokens(toks, spans)
    got = {
        (r.span.begin, r.span.end): (
            r.aligned,
            (r.token_span.begin_token, r.token_span.end_token) if r.token_span else None,
        )
        for r in out.collect()
    }
    assert got[(0, 10)] == (True, (0, 2))   # 'John Smith'
    assert got[(5, 10)] == (True, (1, 2))   # 'Smith'
    assert got[(3, 9)][0] is False          # not on token boundaries


def test_lemmatize(spark):
    docs = spark.createDataFrame([(0, "The Cats Are Running")], "doc_id long, text string")
    toks = tokenize_whitespace(docs).withColumn("lemma", F.lower(F.col("token")))
    spans = spark.createDataFrame([(0, 0, 2), (0, 2, 4)], "doc_id long, b int, e int") \
        .select("doc_id", S.make_token_span("b", "e").alias("token_span"))
    out = lemmatize(spans, toks)
    got = sorted(r.lemma for r in out.collect())
    assert got == ["are running", "the cats"]
