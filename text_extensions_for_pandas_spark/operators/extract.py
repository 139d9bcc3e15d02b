"""Extract operators — the "scan" of spanner algebra
(reference ``spanner/extract.py``), re-expressed Spark-first.

All operators are multi-document by construction: inputs are corpus-wide
DataFrames keyed by ``doc_id``, outputs are span tables
``(doc_id, span [, token_span], <output_col>)``.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from text_extensions_for_pandas_spark.functions.spans import make_span, make_token_span
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage
from text_extensions_for_pandas_spark.session import local_frame


def extract_regex(
    documents: DataFrame,
    pattern: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    output_col: str = "match",
) -> DataFrame:
    """All non-overlapping regex matches over each document's text → spans.

    Reference: ``extract_regex`` (``spanner/extract.py:240-261``) — a
    driver-side ``finditer`` loop over one document.  Here: an Arrow-batched
    pandas UDF returning ``array<struct<begin,end>>`` per document, then
    ``explode`` — one Python call per Arrow batch, parallel over the corpus,
    no shuffle at all (narrow transform of the documents scan).
    """

    @F.pandas_udf("array<struct<begin:int,end:int>>")
    def _find(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        rex = re.compile(pattern)
        for texts in it:
            yield texts.map(
                lambda t: [(m.start(), m.end()) for m in rex.finditer(t or "")]
            )

    return documents.select(
        F.col(doc_col),
        F.explode(_find(F.col(text_col))).alias("__m"),
        F.col(text_col).alias("__text"),
    ).select(
        doc_col,
        make_span(F.col("__m.begin"), F.col("__m.end")).alias("span"),
        F.expr(
            "substring(__text, __m.begin + 1, __m.end - __m.begin)"
        ).alias(output_col),
    )


def extract_regex_native(
    documents: DataFrame,
    pattern: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    output_col: str = "match",
) -> DataFrame:
    """All non-overlapping regex matches with exact char offsets, computed
    ENTIRELY JVM-side — the scale-path twin of :func:`extract_regex`
    (which runs Python ``re`` inside an Arrow UDF for bug-compatible
    reference semantics, ``spanner/extract.py:240-261``).

    Spark has no all-matches-with-positions builtin, so offsets are
    recovered from the interleaving identity: ``split`` yields the
    inter-match segments ``s_0..s_n`` while ``regexp_extract_all`` yields
    the matches ``m_0..m_{n-1}``, and the text is exactly
    ``s_0 m_0 s_1 m_1 … s_n``.  Hence with one per-doc running sum
    ``end_i = Σ_{j<=i}(|s_j| + |m_j|)`` and ``begin_i = end_i - |m_i|``.
    One narrow explode + one window cumsum partitioned by ``doc_id`` —
    no Python worker, whole-stage codegen end to end; at corpus scale the
    only wide op is the per-doc window (documents are the parallelism
    unit, same as tokenization).

    Caveats vs the UDF twin: Java regex dialect, and zero-width matches
    are unsupported (``split`` cannot interleave them).
    """
    base = documents.select(
        F.col(doc_col),
        F.split(F.col(text_col), pattern, -1).alias("__segs"),
        F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)).alias(
            "__ms"
        ),
    )
    e = base.select(
        doc_col,
        F.posexplode("__ms").alias("__i", output_col),
        F.col("__segs"),
    ).select(
        doc_col,
        "__i",
        output_col,
        F.length(F.get("__segs", F.col("__i"))).alias("__sl"),
        F.length(output_col).alias("__ml"),
    )
    w = (
        Window.partitionBy(doc_col)
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = e.withColumn("__end", F.sum(F.col("__sl") + F.col("__ml")).over(w))
    return pos.select(
        doc_col,
        make_span(
            (F.col("__end") - F.col("__ml")).cast("int"),
            F.col("__end").cast("int"),
        ).alias("span"),
        output_col,
    )


def extract_regex_tok(
    tokens: DataFrame,
    pattern: str,
    min_len: int = 1,
    max_len: int = 1,
    doc_col: str = "doc_id",
    output_col: str = "match",
) -> DataFrame:
    """All (possibly overlapping) regex matches that start and end on token
    boundaries, between ``min_len`` and ``max_len`` tokens long.

    Reference: ``extract_regex_tok`` (``spanner/extract.py:196-237``) — an
    O(n·len) window loop the authors flagged as inefficient.  Spark-first
    design: explode each start token into its candidate window lengths
    (``sequence`` + ``explode`` — the same rewrite the reference uses for
    adjacent_join gaps), then a single equijoin on
    ``(doc_id, end_token_idx)`` to find the window-end token, then an
    anchored ``rlike`` on the candidate covered text.  One shuffle join total
    regardless of ``max_len`` — and since both sides are the same token table
    partitioned by doc, AQE turns it into a local join per partition.

    Input ``tokens`` must have columns (doc_col, token_idx, span, token).
    Matching uses Java regex semantics (``rlike``), anchored.
    """
    if max_len < min_len:
        raise ValueError(
            f"max_len ({max_len}) must be >= min_len ({min_len})"
        )  # guard: F.sequence would silently generate a descending range
    starts = tokens.select(
        F.col(doc_col),
        F.col("token_idx").alias("__b_idx"),
        F.col("span")["begin"].alias("__b_char"),
        F.explode(
            F.sequence(F.lit(min_len), F.lit(max_len))
        ).alias("__len"),
    ).withColumn("__e_idx", F.col("__b_idx") + F.col("__len") - 1)

    ends = tokens.select(
        F.col(doc_col).alias("__e_doc"),
        F.col("token_idx").alias("__e_idx2"),
        F.col("span")["end"].alias("__e_char"),
    )

    cands = starts.join(
        ends,
        (F.col(doc_col) == F.col("__e_doc")) & (F.col("__e_idx") == F.col("__e_idx2")),
        "inner",
    )
    anchored = f"^(?:{pattern})$"
    return (
        cands.select(
            F.col(doc_col),
            make_token_span(F.col("__b_idx"), F.col("__e_idx") + 1).alias("token_span"),
            make_span(F.col("__b_char"), F.col("__e_char")).alias("span"),
        )
        # covered text needs the document text; join lazily only for the filter
        .join(_doc_text_of(tokens, doc_col), doc_col)
        .withColumn(
            output_col,
            F.expr("substring(__doc_text, span.begin + 1, span.end - span.begin)"),
        )
        .filter(F.col(output_col).rlike(anchored))
        .drop("__doc_text")
    )


def _doc_text_of(tokens_or_docs: DataFrame, doc_col: str) -> DataFrame:
    """Helper: a (doc_id, __doc_text) table. If the input already carries a
    ``text`` column use it; otherwise caller should join documents first."""
    if "text" in tokens_or_docs.columns:
        return tokens_or_docs.select(
            F.col(doc_col), F.col("text").alias("__doc_text")
        ).dropDuplicates([doc_col])
    raise ValueError(
        "extract_regex_tok needs a 'text' column on the tokens input "
        "(join documents first) to evaluate candidate covered text"
    )


def create_dict(
    spark: SparkSession, entries: Iterable[str], tokenizer=None
) -> DataFrame:
    """Build a gazetteer DataFrame ``(entry_id, toks ARRAY<STRING>, n_toks)``
    from entry strings; entries are lowercased and tokenized.

    Reference: ``create_dict`` (``spanner/extract.py:70-109``) stores
    None-terminated ``toks_0..n`` columns; an array column is the natural
    Spark shape (FIXTURES.md §3).  ``tokenizer`` is a str->list[str] callable
    and **must tokenize the same way as the corpus tokenizer**
    (reference ``spanner/extract.py:80-83``); default = whitespace split,
    matching :func:`~text_extensions_for_pandas_spark.functions.text.tokenize_whitespace`.

    The dictionary is a JVM local relation
    (:func:`~text_extensions_for_pandas_spark.session.local_frame`):
    reading or broadcasting it runs no Python worker.
    """
    tok = tokenizer or (lambda s: s.split())
    rows = [(i, tok(e.lower())) for i, e in enumerate(entries)]
    df = local_frame(spark, rows, "entry_id int, toks array<string>")
    return df.withColumn("n_toks", F.size("toks"))


def load_dict(spark: SparkSession, file_name: str, tokenizer=None) -> DataFrame:
    """Read a SystemT-format dictionary file (one entry per line, ``#``
    comments) → gazetteer DataFrame (reference ``spanner/extract.py:44-66``).
    Driver-side parse — dictionary files are small by contract — into the
    same local relation as :func:`create_dict`, so reading it runs no
    Python worker."""
    with open(file_name) as f:
        lines = [ln.strip() for ln in f if ln.strip() and ln[0] != "#"]
    return create_dict(spark, lines, tokenizer)


def extract_dict(
    tokens: DataFrame,
    dictionary: DataFrame,
    doc_col: str = "doc_id",
    output_col: str = "match",
) -> DataFrame:
    """Gazetteer matching: find every place where a dictionary entry's token
    sequence occurs in the corpus token stream.

    Reference: ``extract_dict`` (``spanner/extract.py:112-193``) — an
    iterative merge per token position.  Spark-first design: **one** join +
    **one** aggregation, independent of entry length:

    1. explode the (broadcast) dictionary into ``(entry_id, pos, tok)``;
    2. equijoin on normalized token text — each corpus token proposes
       ``begin = token_idx - pos`` for each entry position it could fill;
    3. group by ``(doc_id, entry_id, begin)``: a real match has all
       ``n_toks`` distinct positions present.

    The join broadcasts the exploded dictionary (gazetteers are small); the
    groupBy shuffles only candidate rows, keyed by doc — at 100 TB this is
    the selective path (corpus tokens that match no dictionary token are
    dropped by the join before any shuffle).

    Output: ``(doc_id, token_span, span, <output_col>)``, sorted by position
    within each doc (reference sorts by begin, ``spanner/extract.py:191-193``).
    """
    dict_toks = dictionary.select(
        "entry_id",
        "n_toks",
        F.posexplode("toks").alias("pos", "__dict_tok"),
    )
    cand = tokens.join(
        F.broadcast(dict_toks),
        F.lower(tokens["token"]) == dict_toks["__dict_tok"],
        "inner",
    ).select(
        F.col(doc_col),
        "entry_id",
        "n_toks",
        (F.col("token_idx") - F.col("pos")).alias("__begin_tok"),
        "pos",
        F.col("span")["begin"].alias("__char_b"),
        F.col("span")["end"].alias("__char_e"),
    )
    # (doc, entry, __begin_tok, pos) is unique by construction — one corpus
    # token owns each token_idx and the dictionary has one row per (entry,
    # pos) — so plain count(*) equals the distinct-position count, and the
    # match's char endpoints are simply the pos==0 / pos==n-1 rows' values.
    # This keeps the aggregation hash-based with ONE exchange; the earlier
    # countDistinct + min/max-over-struct form planned as a double-exchange
    # SortAggregate chain.
    matches = (
        cand.filter(F.col("__begin_tok") >= 0)
        .groupBy(doc_col, "entry_id", "n_toks", "__begin_tok")
        .agg(
            F.count("*").alias("__npos"),
            F.min(F.when(F.col("pos") == 0, F.col("__char_b"))).alias("__b"),
            F.max(
                F.when(F.col("pos") == F.col("n_toks") - 1, F.col("__char_e"))
            ).alias("__e"),
        )
        .filter(F.col("__npos") == F.col("n_toks"))
    )
    return matches.select(
        F.col(doc_col),
        make_token_span(
            F.col("__begin_tok"), F.col("__begin_tok") + F.col("n_toks")
        ).alias("token_span"),
        make_span(F.col("__b"), F.col("__e")).alias("span"),
        F.col("entry_id"),
    )


def _doc_tokens(documents: DataFrame, text_col: str, doc_col: str) -> DataFrame:
    """``(doc_col, __lt, __ch)``: each document's whitespace tokens as
    native arrays, the row-local twin of
    :func:`~text_extensions_for_pandas_spark.functions.text.tokenize_whitespace`.
    With tabs and newlines mapped to spaces (so every separator is one
    character), ``__lt`` holds the lowercased tokens,
    ``array_remove(split(lower(text), ' '), '')``, and ``__ch`` the chunks
    of one token and the spaces before it, in original case, for
    :func:`_char_span`.  Lowercasing the whole text splits the same as
    lowercasing each token: it never adds or drops a space, and the one
    context-dependent mapping (final sigma) stops at a space.  No lambda
    builds either array, so exploding ``__lt`` stays in generated code.
    ``__lt`` is never NULL (a NULL text has no tokens): together with an
    outer explode, that keeps the optimizer from adding a NULL or size
    filter under the scan, which would split every text a second time."""
    return documents.select(
        F.col(doc_col), F.translate(F.col(text_col), "\t\n\r", "   ").alias("__t")
    ).select(
        F.col(doc_col),
        F.coalesce(
            F.array_remove(F.split(F.lower("__t"), " "), ""), F.array().cast("array<string>")
        ).alias("__lt"),
        F.regexp_extract_all("__t", F.lit(" *[^ ]+"), F.lit(0)).alias("__ch"),
    )


def _char_span(i: Column, n: Column) -> Column:
    """The char span of the ``n`` tokens from token ``i``, from the
    :func:`_doc_tokens` chunks: the end is the length of the first
    ``i + n`` chunks, and the begin is that end less the match's own
    chunks without their leading spaces.  Joining the chunks is linear in
    the text, so call it only for matched tokens."""
    chunks = F.col("__ch")
    end = F.length(F.array_join(F.slice(chunks, 1, i + n), ""))
    own = F.length(F.ltrim(F.array_join(F.slice(chunks, i + 1, n), "")))
    return make_span(end - own, end)


def extract_dict_consolidated_rowwise(
    documents: DataFrame,
    entries: list[str],
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Gazetteer extraction + left-to-right consolidation as ONE pure
    column expression per document row — zero joins, zero shuffles, zero
    state: the fully stream-transparent pipeline (batch ``extract_dict`` →
    ``consolidate`` produces the same rows; verified in tests).

    The dictionary rides in the plan as literals (gazetteers are small by
    contract, reference ``spanner/extract.py:93-109``).  Per document: the
    native token array of :func:`_doc_tokens`, one ``filter`` lambda per
    entry over the candidate starts, consolidation of the matches in token
    units (token order is char order, so the kept set is the same), and
    char offsets for the kept matches only.  An entry with no tokens
    matches nothing.  Output: ``(doc_id, span, entry_id)``.
    """
    from text_extensions_for_pandas_spark.operators.consolidate import (
        consolidate_array,
    )

    lt = F.col("__lt")
    element_type = "struct<begin:int,end:int,entry_id:int>"

    def entry_matches(parts: list[str], eid: int):
        # factory so each closure binds its own parts/eid (and the lambdas
        # keep arity 1 — pyspark inspects lambda signatures)
        n = len(parts)
        toks = F.array(*map(F.lit, parts))
        starts = F.when(
            F.size(lt) >= n,
            F.filter(
                F.sequence(F.lit(0), F.size(lt) - n),
                lambda i: (lt[i] == toks[0]) & (F.slice(lt, i + 1, n) == toks),
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda i: F.struct(
                i.alias("begin"), (i + n).alias("end"), F.lit(eid).alias("entry_id")
            ),
        )

    # the empty array types the flatten when no entry has a token
    matches = F.flatten(
        F.array(
            F.array().cast(f"array<{element_type}>"),
            *[
                entry_matches(parts, eid)
                for eid, parts in enumerate(e.lower().split() for e in entries)
                if parts
            ],
        )
    )
    kept = consolidate_array(matches, element_type=element_type)
    spans = F.transform(
        kept,
        lambda m: F.struct(
            _char_span(m["begin"], m["end"] - m["begin"]).alias("span"),
            m["entry_id"].alias("entry_id"),
        ),
    )
    return _doc_tokens(documents, text_col, doc_col).select(
        F.col(doc_col), F.inline(spans)
    )


def extract_dict_rowwise(
    documents: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Gazetteer matching without a shuffle: each token probes the
    dictionary by its first token.

    Per row: the lowercased token array of :func:`_doc_tokens` is exploded
    with its positions, and each token joins the (broadcast) dictionary on
    ``token = toks[0]`` as a hash join.  A candidate at position ``i`` is
    kept when the entry fits (``i + n_toks <= size``) and the ``n_toks``
    tokens from ``i`` equal the entry; char offsets are computed for kept
    candidates only.  The work grows with the tokens plus the first-token
    hits, not with tokens × entries, and no step runs an interpreted
    lambda.  An entry with no tokens matches nothing.  Because the plan is
    stateless row logic + a broadcast join, it runs unchanged on Structured
    Streaming (where :func:`extract_dict`'s groupBy would need a
    watermark); on batch scans it trades :func:`extract_dict`'s shuffle for
    a per-match pass over the document's chunks — the better plan when
    documents are short.

    Same output contract as :func:`extract_dict`:
    ``(doc_id, token_span, span, entry_id)``.
    """
    probe = F.broadcast(
        dictionary.select("entry_id", "toks", "n_toks", F.get("toks", 0).alias("__first"))
    )
    lt, i, n = F.col("__lt"), F.col("__i"), F.col("n_toks")
    cands = (
        _doc_tokens(documents, text_col, doc_col)
        .select(F.col(doc_col), "__lt", "__ch", F.posexplode_outer("__lt").alias("__i", "__tok"))
        .join(probe, F.col("__tok") == F.col("__first"))
        .filter((i + n <= F.size(lt)) & (F.slice(lt, i + 1, n) == F.col("toks")))
    )
    return cands.select(
        F.col(doc_col),
        make_token_span(i, i + n).alias("token_span"),
        _char_span(i, n).alias("span"),
        "entry_id",
    )


def extract_split(
    documents: DataFrame,
    split_points: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    output_col: str = "span",
) -> DataFrame:
    """Split each document around split-point spans, returning the chunks
    *between* them (split-point content is discarded; zero-length chunks
    dropped).  Documents with no split points yield one whole-document span.

    Reference: ``extract_split`` (``spanner/extract.py:264-311``) — a
    sequential walk per document.  Spark-first: a ``lag(end)`` window per doc
    pairs each split with the previous one (chunk = [prev_end, this_begin)),
    plus a per-doc trailing chunk [max_end, len(text)) and whole-doc spans
    for unsplit documents via anti-join.  All window work is partitioned by
    ``doc_id``.

    ``split_points`` must have (doc_col, span); zero-length split spans act
    as pure split locations.
    """
    doc_len = documents.select(
        F.col(doc_col), F.length(F.col(text_col)).alias("__len")
    )
    w = Window.partitionBy(doc_col).orderBy(
        F.col("span")["begin"], F.col("span")["end"]
    )
    # three output branches (between / trailing / unsplit anti-join) all
    # derive from split_points, which is usually itself an extract subplan
    # — cut lineage so it evaluates once; the (doc, span) frame is tiny
    # next to the corpus it came from
    points = split_points.select(doc_col, "span").transform(cut_lineage, eager=False)
    sp = points.withColumn(
        "__prev_end", F.coalesce(F.lag(F.col("span")["end"]).over(w), F.lit(0))
    )
    between = sp.select(
        F.col(doc_col),
        make_span(F.col("__prev_end"), F.col("span")["begin"]).alias(output_col),
    )
    trailing = (
        points.groupBy(doc_col)
        .agg(F.max(F.col("span")["end"]).alias("__max_end"))
        .join(doc_len, doc_col)
        .select(
            F.col(doc_col), make_span(F.col("__max_end"), F.col("__len")).alias(output_col)
        )
    )
    unsplit = (
        doc_len.join(points.select(doc_col).distinct(), doc_col, "left_anti")
        .select(F.col(doc_col), make_span(F.lit(0), F.col("__len")).alias(output_col))
    )
    chunks = between.unionByName(trailing).unionByName(unsplit)
    return chunks.filter(
        F.col(output_col)["end"] > F.col(output_col)["begin"]
    )
