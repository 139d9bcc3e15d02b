"""Property-based differential tests (hypothesis): Spark operators vs
brute-force Python oracles on randomized inputs.  The reference has no
property tests (SURVEY.md §5) — these close the gap where fixture tests
can't reach (overlap edge cases, zero-length spans, greedy tie-breaks)."""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from text_extensions_for_pandas_spark.operators.consolidate import (
    _greedy_left_to_right,
)

# -- strategies -------------------------------------------------------------

span = st.tuples(st.integers(0, 40), st.integers(0, 12)).map(
    lambda t: (t[0], t[0] + t[1])
)
spans_list = st.lists(span, min_size=0, max_size=25)


# -- pure-python oracles (straight transcriptions of the semantics) ---------

def overlaps_ref(a, b):
    if a[0] == b[0] and a[1] == b[1]:
        return True  # identical (incl. zero-length) spans overlap
    return not (b[0] >= a[1] or b[1] <= a[0])


def contains_ref(a, b):
    return b[0] >= a[0] and b[1] <= a[1]


def consolidate_ref(spans):
    """Reference greedy left-to-right: sort (begin asc, end desc), keep when
    begin >= end of last kept."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i][0], -spans[i][1]))
    keep, thr = [], -(1 << 62)
    for i in order:
        if spans[i][0] >= thr:
            keep.append(i)
            thr = spans[i][1]
    return sorted(keep)


# -- properties -------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(spans_list)
def test_consolidate_scan_matches_reference(spans):
    import numpy as np

    if not spans:
        return
    begins = np.array([s[0] for s in spans])
    ends = np.array([s[1] for s in spans])
    docs = np.zeros(len(spans), dtype=int)
    got = sorted(_greedy_left_to_right(docs, begins, ends).tolist())
    assert got == consolidate_ref(spans)


@settings(max_examples=200, deadline=None)
@given(spans_list)
def test_consolidate_output_is_overlap_free(spans):
    import numpy as np

    if not spans:
        return
    begins = np.array([s[0] for s in spans])
    ends = np.array([s[1] for s in spans])
    docs = np.zeros(len(spans), dtype=int)
    kept = [spans[i] for i in _greedy_left_to_right(docs, begins, ends)]
    nonzero = [s for s in kept if s[1] > s[0]]
    for i, a in enumerate(nonzero):
        for b in nonzero[i + 1:]:
            assert not overlaps_ref(a, b), (a, b, kept)


# Spark-involving properties use ONE example set drawn ahead of time — a
# Spark job per hypothesis example would be minutes per test.  Randomness
# still explores the space across seeds; failures shrink in the pure oracle.

@pytest.fixture(scope="module")
def random_span_tables(spark):
    import random

    rng = random.Random(42)
    rows1, rows2 = [], []
    for doc in range(6):
        for _ in range(rng.randint(0, 18)):
            b = rng.randint(0, 40)
            rows1.append((doc, (b, b + rng.randint(0, 12))))
        for _ in range(rng.randint(0, 18)):
            b = rng.randint(0, 40)
            rows2.append((doc, (b, b + rng.randint(0, 12))))
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, span struct<begin:int,end:int>"
    )
    return mk(rows1), mk(rows2), rows1, rows2


def test_overlap_join_matches_bruteforce(random_span_tables):
    from text_extensions_for_pandas_spark.operators.join import overlap_join

    df1, df2, rows1, rows2 = random_span_tables
    got = {
        (r.doc_id, r.first.begin, r.first.end, r.second.begin, r.second.end)
        for r in overlap_join(df1, df2).collect()
    }
    want = {
        (d1, a[0], a[1], b[0], b[1])
        for (d1, a) in rows1
        for (d2, b) in rows2
        if d1 == d2 and overlaps_ref(a, b)
    }
    assert got == want


def test_contain_join_matches_bruteforce(random_span_tables):
    from text_extensions_for_pandas_spark.operators.join import contain_join

    df1, df2, rows1, rows2 = random_span_tables
    got = {
        (r.doc_id, r.first.begin, r.first.end, r.second.begin, r.second.end)
        for r in contain_join(df1, df2).collect()
    }
    want = {
        (d1, a[0], a[1], b[0], b[1])
        for (d1, a) in rows1
        for (d2, b) in rows2
        if d1 == d2 and contains_ref(a, b)
    }
    assert got == want


def test_contain_join_zero_length_spans_on_block_edges(spark):
    """A zero-length span at a container's end lies in block ``end // B``;
    the result must not depend on ``block_size``, including the estimate."""
    from text_extensions_for_pandas_spark.operators.join import contain_join

    rows1 = [(0, (0, 4)), (1, (0, 5)), (2, (0, 0)), (2, (3, 6)), (2, (2, 8)), (2, (4, 4))]
    rows2 = [(0, (4, 4)), (0, (2, 2)), (1, (5, 5))]
    rows2 += [(2, (k, k)) for k in range(10)] + [(2, (3, 6)), (2, (6, 8))]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, span struct<begin:int,end:int>"
    )
    want = {
        (d1, a[0], a[1], b[0], b[1])
        for (d1, a) in rows1
        for (d2, b) in rows2
        if d1 == d2 and contains_ref(a, b)
    }
    for block_size in (1, 2, 3, 4, 5, None):
        got = {
            (r.doc_id, r.first.begin, r.first.end, r.second.begin, r.second.end)
            for r in contain_join(mk(rows1), mk(rows2), block_size=block_size).collect()
        }
        assert got == want, block_size


@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.text(alphabet=" ab\tc\n", min_size=0, max_size=60))
def test_whitespace_tokenizer_offsets_exact(text):
    """Offsets from the reconstruction arithmetic must slice the original
    text back out, for any whitespace pattern (pure-python mirror of the
    tokenize_whitespace window plan)."""
    translated = text.replace("\t", " ").replace("\n", " ").replace("\r", " ")
    segs = translated.split(" ")
    pos, toks = 0, []
    for seg in segs:
        if len(seg) > 0:
            toks.append((pos, pos + len(seg), seg))
        pos += len(seg) + 1
    for b, e, tok in toks:
        assert translated[b:e] == tok
        assert text[b:e].replace("\t", " ").replace("\n", " ") == tok.replace(
            "\t", " "
        )


def test_tokenizer_spark_matches_python(spark):
    """The Spark window plan agrees with the pure-python mirror on a corpus
    of tricky whitespace shapes."""
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )

    cases = [
        "", " ", "  ", "a", " a", "a ", "a  b", "\ta\n b ", "ab\tcd\nef",
        "   x   ", "a b  c   d", "\n\n\n", "word",
    ]
    docs = spark.createDataFrame(
        list(enumerate(cases)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.token_idx, r.span.begin, r.span.end, r.token)
        for r in tokenize_whitespace(docs).collect()
    }
    want = set()
    for doc_id, text in enumerate(cases):
        translated = text.replace("\t", " ").replace("\n", " ").replace("\r", " ")
        idx = 0
        pos = 0
        for seg in translated.split(" "):
            if len(seg) > 0:
                want.add((doc_id, idx, pos, pos + len(seg), seg))
                idx += 1
            pos += len(seg) + 1
    assert got == want


@pytest.fixture(scope="module")
def random_corpus(spark):
    """Random texts over a small vocabulary so dictionary entries hit often,
    including multi-token entries, repeated words, and empty docs."""
    import random

    rng = random.Random(7)
    vocab = ["table", "scan", "sort", "merge", "spark", "a", "the", "row"]
    texts = [""] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(40)
    ]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).cache()


def _match_key(r):
    return (r.doc_id, r.token_span.begin_token, r.token_span.end_token,
            r.span.begin, r.span.end, r.entry_id)


def test_dict_extractors_agree(spark, random_corpus):
    """extract_dict (join+groupBy), extract_dict_rowwise (HOF+join) and the
    literal-dictionary variant must produce identical match sets."""
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_dict_rowwise,
    )

    entries = ["table scan", "scan", "sort merge", "spark", "the row"]
    d = create_dict(spark, entries)
    a = {_match_key(r) for r in extract_dict(
        tokenize_whitespace(random_corpus), d).collect()}
    b = {_match_key(r) for r in extract_dict_rowwise(random_corpus, d).collect()}
    assert a == b and len(a) > 0


HOSTILE_TEXTS = [
    "",
    None,
    "   ",
    " \t\r\n ",
    "stream  stream\t\tstream",
    "stream\r\nstream\r\n\r\nline break",
    "  stream stream  ",
    "STREAM Stream sTrEaM",
    "İstanbul i̇stanbul İSTANBUL",
    "x😀x stream 😀 line break 😀",
    " ".join(["stream"] * 3),
    "word " * 1000 + "stream stream " + "\t" * 7 + "line break",
    "ΟΔΟΣ ΣΟΦΟΣ. οδος σοφος ΟΔΟΣ",
]
HOSTILE_ENTRIES = ["stream", "stream stream", "line break", "İstanbul", "😀"]


@pytest.fixture(scope="module")
def hostile_corpus(spark):
    """Empty, NULL and whitespace-only texts, whitespace runs with tabs and
    CRLF, leading/trailing spaces, mixed case, a dotted capital I (whose
    lowercase is two code points), non-BMP characters, a long document,
    word-final capital sigmas, and an entry that overlaps itself."""
    return spark.createDataFrame(
        list(enumerate(HOSTILE_TEXTS)), "doc_id long, text string"
    ).cache()


def test_dict_extractors_agree_on_hostile_text(spark, hostile_corpus):
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.consolidate import consolidate
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_dict_consolidated_rowwise,
        extract_dict_rowwise,
    )

    d = create_dict(spark, HOSTILE_ENTRIES)
    batch = extract_dict(tokenize_whitespace(hostile_corpus), d)
    want = {_match_key(r) for r in batch.collect()}
    got = {_match_key(r) for r in extract_dict_rowwise(hostile_corpus, d).collect()}
    assert got == want
    # every entry, and a match that overlaps another of the same entry
    assert {k[-1] for k in want} == set(range(len(HOSTILE_ENTRIES)))
    assert (4, 0, 2, 0, 14, 1) in want and (4, 1, 3, 8, 22, 1) in want
    for doc_id, _, _, b, e, eid in want:
        covered = HOSTILE_TEXTS[doc_id][b:e]
        assert " ".join(covered.lower().split()) == HOSTILE_ENTRIES[eid].lower()

    spans = lambda rows: {  # noqa: E731
        (r.doc_id, r.span.begin, r.span.end, r.entry_id) for r in rows
    }
    consolidated = consolidate(batch.select("doc_id", "span", "entry_id"), on="span")
    assert spans(
        extract_dict_consolidated_rowwise(hostile_corpus, HOSTILE_ENTRIES).collect()
    ) == spans(consolidated.collect())


def test_dict_extractors_skip_blank_entries(spark, random_corpus):
    """An entry with no tokens matches nothing in all three extractors."""
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.consolidate import consolidate
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_dict_consolidated_rowwise,
        extract_dict_rowwise,
    )

    entries = ["", "spark", "   "]
    d = create_dict(spark, entries)
    batch = extract_dict(tokenize_whitespace(random_corpus), d)
    want = {_match_key(r) for r in batch.collect()}
    assert want and {k[-1] for k in want} == {1}
    assert {_match_key(r) for r in extract_dict_rowwise(random_corpus, d).collect()} == want

    spans = lambda rows: {  # noqa: E731
        (r.doc_id, r.span.begin, r.span.end, r.entry_id) for r in rows
    }
    consolidated = consolidate(batch.select("doc_id", "span", "entry_id"), on="span")
    assert spans(
        extract_dict_consolidated_rowwise(random_corpus, entries).collect()
    ) == spans(consolidated.collect())
    assert extract_dict_rowwise(random_corpus, create_dict(spark, ["", " "])).count() == 0
    assert extract_dict_consolidated_rowwise(random_corpus, ["", " "]).count() == 0


def test_rowwise_probe_matches_batch_on_large_dictionary(spark, hostile_corpus):
    """2,000 generated entries: many share a first token, most have
    several tokens, and some repeat under different ids."""
    import random

    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_dict_rowwise,
    )

    rng = random.Random(11)
    vocab = [
        "stream", "STREAM", "line", "break", "word", "İstanbul", "i̇stanbul",
        "😀", "x😀x", "ΟΔΟΣ", "σοφος", "ΣΟΦΟΣ.", "absent", "other",
    ]
    entries = [
        " ".join(rng.choice(vocab) for _ in range(rng.choice([1, 2, 2, 3, 3, 4])))
        for _ in range(1900)
    ]
    entries += rng.sample(entries, 100)
    assert len(entries) == 2000 and len(set(entries)) < 1900
    d = create_dict(spark, entries)
    want = {_match_key(r) for r in extract_dict(tokenize_whitespace(hostile_corpus), d).collect()}
    got = {_match_key(r) for r in extract_dict_rowwise(hostile_corpus, d).collect()}
    assert got == want
    # duplicates, multi-token entries and the sigma document all matched
    assert len({k[-1] for k in want}) > 100
    assert any(k[2] - k[1] >= 3 for k in want)
    assert any(k[0] == len(HOSTILE_TEXTS) - 1 for k in want)


def test_consolidated_rowwise_matches_batch_pipeline(spark, random_corpus):
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.consolidate import consolidate
    from text_extensions_for_pandas_spark.operators.extract import (
        create_dict,
        extract_dict,
        extract_dict_consolidated_rowwise,
    )

    entries = ["table scan", "scan", "sort merge", "spark", "the row"]
    got = {
        (r.doc_id, r.span.begin, r.span.end)
        for r in extract_dict_consolidated_rowwise(
            random_corpus, entries
        ).collect()
    }
    matches = extract_dict(
        tokenize_whitespace(random_corpus), create_dict(spark, entries)
    ).select("doc_id", "span", "entry_id")
    want = {
        (r.doc_id, r.span.begin, r.span.end)
        for r in consolidate(matches, on="span").collect()
    }
    assert got == want and len(got) > 0


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C", "O"]),
            st.sampled_from(["A", "B", "C", "O"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_classification_report_invariants(spark, pairs):
    """On single-label rows: accuracy == matching-row fraction, per-label
    support sums to N, weighted recall == accuracy (a known identity for
    multiclass single-label classification), all stats in [0,1]."""
    from text_extensions_for_pandas_spark.operators.cleaning import (
        create_classification_report,
    )

    df = spark.createDataFrame(pairs, ["gold_label", "pred_label"])
    out = {r.label: r for r in create_classification_report(df).collect()}
    n = len(pairs)
    acc = round(sum(1 for g, p in pairs if g == p) / n, 6)
    assert out["__accuracy__"].precision == acc
    assert out["__accuracy__"].support == n
    labels = [k for k in out if not k.startswith("__")]
    assert sum(out[k].support for k in labels) == n
    # weighted recall = sum(support * tp_l/support_l)/N = total tp/N = acc
    assert abs(out["__weighted__"].recall - acc) < 1e-4
    for k in out:
        r = out[k]
        assert 0.0 <= r.precision <= 1.0 and 0.0 <= r.recall <= 1.0
        assert 0.0 <= r.f1 <= 1.0


# -- boilerplate removal vs a brute-force Python oracle ---------------------

def remove_boilerplate_ref(docs, min_docs):
    """docs: list of (doc_id, text).  Lines split on '\\n'; a non-empty
    line in >= min_docs distinct docs is removed everywhere."""
    from collections import defaultdict

    seen = defaultdict(set)
    for did, text in docs:
        for line in text.split("\n"):
            if line:
                seen[line].add(did)
    boiler = {l for l, dids in seen.items() if len(dids) >= min_docs}
    out = {}
    for did, text in docs:
        lines = [l for l in text.split("\n") if l]
        kept = [l for l in lines if l not in boiler]
        out[did] = (len(lines), len(kept), "\n".join(kept))
    return out


line_strategy = st.text(alphabet="abcx", min_size=0, max_size=3)
doc_strategy = st.lists(line_strategy, min_size=0, max_size=6).map("\n".join)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(doc_strategy, min_size=1, max_size=8),
       min_docs=st.integers(2, 3))
def test_remove_boilerplate_matches_python_oracle(spark, texts, min_docs):
    from text_extensions_for_pandas_spark.operators.dedup import (
        remove_boilerplate,
    )

    docs = list(enumerate(texts))
    want = remove_boilerplate_ref(docs, min_docs)
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
        for r in remove_boilerplate(
            spark.createDataFrame(docs, ["doc_id", "text"]), min_docs=min_docs
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n=st.integers(1, 40), shards=st.integers(1, 5))
def test_deterministic_shuffle_is_bijective(spark, n, shards):
    from text_extensions_for_pandas_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(n).withColumnRenamed("id", "doc_id")
    rows = deterministic_shuffle(df, n_shards=shards, salt="s").collect()
    assert len(rows) == n
    assert len({r["doc_id"] for r in rows}) == n
    slots = {(r["shard"], r["pos"]) for r in rows}
    assert len(slots) == n  # no two rows share a training slot


# -- containment / jaccard verify vs a brute-force set oracle ---------------

def _shingles_ref(text, n=3):
    toks = text.lower().strip().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


word_pool = ["aa", "bb", "cc", "dd", "ee"]
text_strategy = st.lists(
    st.sampled_from(word_pool), min_size=3, max_size=12
).map(" ".join)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ta=text_strategy, tb=text_strategy)
def test_containment_matches_set_oracle(spark, ta, tb):
    from text_extensions_for_pandas_spark.operators.dedup import (
        containment_for_pairs,
        doc_shingles,
    )

    docs = spark.createDataFrame([(1, ta), (2, tb)], ["doc_id", "text"])
    sh = doc_shingles(docs, shingle_n=3)
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    row = containment_for_pairs(pairs, sh).collect()[0]
    a, b = _shingles_ref(ta), _shingles_ref(tb)
    inter = len(a & b)
    assert row["containment_a"] == round(inter / len(a), 6)
    assert row["containment_b"] == round(inter / len(b), 6)
    assert row["jaccard"] == round(inter / len(a | b), 6)


# -- gopher word-count / mean-length rules vs direct arithmetic -------------

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abcdef", min_size=1, max_size=12),
            min_size=1,
            max_size=20,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_gopher_count_rules_match_python(spark, texts):
    from text_extensions_for_pandas_spark.functions.text import gopher_rules

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", gopher_rules("text", min_words=3, max_words=10).alias("g")
        ).select("doc_id", "g.*").collect()
    }
    for i, t in enumerate(texts):
        words = t.lower().strip().split()
        assert out[i]["word_count_ok"] == (3 <= len(words) <= 10)
        mean = sum(map(len, words)) / max(len(words), 1)
        assert out[i]["mean_word_len_ok"] == (3 <= mean <= 10)
        # all-alphabetic pool: alpha rule always true
        assert out[i]["alpha_ratio_ok"] is True


# ---------------------------------------------------------------------------
# Encoding repair / robots / link extraction properties
# ---------------------------------------------------------------------------

_fix_alphabet = st.characters(
    codec="utf-8", exclude_characters="\udc80"
) | st.sampled_from(list("Ã©â€™Â\x9c\x9d\x01\x7f\x80\x83 \t\n"))


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_fix_alphabet, max_size=80))
def test_fix_text_never_raises_never_lengthens_idempotent(s):
    from text_extensions_for_pandas_spark.functions.text import _fix_text_py

    out = _fix_text_py(s, None)
    assert isinstance(out, str)
    assert len(out) <= len(s)  # repair + strip can only shorten
    # no C0/C1 controls survive (tab/newline/CR excepted)
    assert not any(
        (ord(c) < 32 and c not in "\t\n\r")
        or ord(c) == 127
        or 0x80 <= ord(c) <= 0x9F
        for c in out
    )
    # a second pass is a no-op: a repaired document is a clean document
    assert _fix_text_py(out, None) == out


def test_fix_text_c1_blocker_still_repairs():
    """Hypothesis-found regression: a stray C1 char makes the strict
    UTF-8 re-decode fail, so repair stalled, the control-strip removed
    the blocker, and the mojibake survived one call (breaking
    idempotence).  The fixpoint loop must strip, then RETRY repair."""
    from text_extensions_for_pandas_spark.functions.text import _fix_text_py

    assert _fix_text_py("Ã§\x9c", None) == "ç"
    assert _fix_text_py("caf\x9dÃ© menu", None) == "café menu"


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(
            list("Uu*$:/aAgGeEnNtT- \t\n#dDiIsSlLoOwW.\x00é")
        ),
        max_size=120,
    ),
    st.sampled_from(["*", "trainbot", "GoodBot"]),
)
def test_parse_robots_never_raises_and_rules_well_formed(txt, agent):
    from text_extensions_for_pandas_spark.operators.urls import (
        _parse_robots_py,
    )

    rules = _parse_robots_py(txt, agent)
    assert isinstance(rules, list)
    for r in rules:
        assert r["rule"] in ("allow", "disallow")
        assert r["prefix"]  # empty patterns are dropped
        assert r["spec"] >= 0
        # LIKE pattern compiles every * to % and anchors correctly
        assert ("%" in r["pattern"]) or r["prefix"].endswith("$")


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("<>ahref='/x.:#j&; \n\"")),
        max_size=150,
    )
)
def test_extract_links_never_raises_and_urls_resolved(html):
    from text_extensions_for_pandas_spark.operators.html import (
        _extract_links_py,
    )

    out = _extract_links_py(html, "http://base.example/dir/page")
    assert isinstance(out, list)
    for link in out:
        u = link["url"]
        # every surviving href resolves absolute against the base, and
        # dropped schemes never leak through
        assert not u.lower().startswith(
            ("javascript:", "mailto:", "tel:", "data:", "about:")
        )
        assert "://" in u or u.startswith("//") is False


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(
            list('aA bB.!?"\')(\n\t0129 eg Dr')
            + list("。！？…「」你好天空　")
        ),
        max_size=120,
    )
)
def test_split_sentences_offsets_exact_and_ordered(t):
    """The splitter's core invariants on arbitrary text: every span
    slices back to its sentence, spans are strictly ordered and
    non-overlapping, sentences contain no leading/trailing whitespace,
    and every non-space char of the input lands in exactly one
    sentence... except inter-sentence whitespace, which lands in none."""
    from text_extensions_for_pandas_spark.functions.text import (
        DEFAULT_ABBREVIATIONS,
        _split_sentences_py,
    )

    sents = _split_sentences_py(t, DEFAULT_ABBREVIATIONS)
    prev_end = 0
    for b, e, s in sents:
        assert t[b:e] == s
        # ordered and non-overlapping; CJK boundaries are zero-width so
        # adjacent sentences may touch (b == prev_end), Latin boundaries
        # consume whitespace so they gap
        assert b >= prev_end
        assert b < e
        assert s == s.strip()
        prev_end = e
    # lossless modulo whitespace: concatenated sentences contain every
    # non-space character of the source, in order (split() drops ALL
    # unicode whitespace, incl. the ideographic space U+3000)
    kept = "".join("".join(s.split()) for _, _, s in sents)
    src = "".join(t.split())
    assert kept == src


def test_parse_sitemaps_total_on_xmlish_garbage(spark):
    """The sitemap block-regex projection must be total: any XML-ish
    garbage yields zero-or-more well-formed rows, never an error, and
    every emitted loc is non-empty with kind in {url, sitemap}.  One
    Spark job over a generated batch (the file's one-batch discipline
    for Spark-involving properties)."""
    import random

    from text_extensions_for_pandas_spark.operators.urls import (
        parse_sitemaps,
    )

    rng = random.Random(1234)
    alphabet = "<>/ulrsitemapocndfq&;\"'![]CDATA \n\t0.9:h-"
    cases = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200))))
        for i in range(300)
    ] + [
        (300, "<url><loc></loc></url>"),        # empty loc: dropped
        (301, "<url><loc>  </loc></url>"),      # whitespace loc: dropped
        (302, "<urlset><url><loc>x</loc>"),     # truncated doc
        (303, "<sitemap><loc>a</loc></sitemap><url><loc>b</loc></url>"),
    ]
    df = spark.createDataFrame(cases, ["host", "sitemap_xml"])
    rows = parse_sitemaps(df.selectExpr("cast(host as string) host",
                                        "sitemap_xml")).collect()
    for r in rows:
        assert r["kind"] in ("url", "sitemap")
        assert r["loc"] is not None and r["loc"] != ""
