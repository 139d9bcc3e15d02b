"""Distributed BPE (byte-pair-encoding) merge training.

Beyond-reference surface: the tokenizer-training step of an LLM data
pipeline (Sennrich et al., ACL'16).  The key scale property of BPE is
that it operates on the *word-frequency table*, never the raw corpus: a
100 TB corpus collapses to a vocabulary-sized (word, count) table in one
hash aggregation, and every merge iteration rewrites only that table.

Design:

* :func:`word_freq_table` — one corpus-wide groupBy; the only operator
  here that ever touches corpus-scale data.
* :func:`bpe_pair_counts` — adjacent-symbol pair frequencies, weighted
  by word count: explode the zip of each word's symbol array with its
  own tail, one hash aggregation.  Pure built-in SQL (oracle-verified).
* :func:`apply_merge` — rewrite every symbol array for one merged pair
  with a left-to-right greedy fold (``F.aggregate``): merging ``(a, b)``
  appends ``a+b`` and, because the accumulator's last element *becomes*
  the merged symbol, overlapping re-matches (``aaa`` under ``(a,a)`` →
  ``[aa, a]``) are impossible by construction.  JVM-side, no Python.
* :func:`train_bpe` — the iterative driver loop: per round, one top-1
  action over the pair-count table (a deterministic, lexicographically
  tie-broken scalar — the same justified driver-side pattern as
  connected components' convergence check in ``operators/graph.py``),
  then one lazy rewrite.  Rounds are persisted and lineage is cut with
  ``cut_lineage`` every few iterations so the plan stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage
from text_extensions_for_pandas_spark.session import local_frame


def word_freq_table(
    documents: DataFrame, text_col: str = "text", doc_col: str = "doc_id"
) -> DataFrame:
    """Lower-cased whitespace word frequencies: ``(word, count)``.

    The single corpus-scale aggregation of BPE training; everything
    after operates on this (vocabulary-sized) table."""
    toks = documents.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("word")
    ).filter(F.length("word") > 0)
    return toks.groupBy("word").agg(F.count("*").alias("count"))


def with_symbols(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Attach the initial character-level symbol array."""
    return words.withColumn("symbols", F.split(F.col(word_col), ""))


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the current symbol arrays, weighted
    by word count: ``(a, b, cnt)``.  ``arrays_zip`` of the array with its
    own tail yields each word's adjacent pairs without any join."""
    n = F.size("symbols")
    pairs = words.select(
        F.explode(
            F.arrays_zip(
                F.slice("symbols", 1, F.greatest(n - 1, F.lit(0))).alias("a"),
                F.slice("symbols", 2, F.greatest(n - 1, F.lit(0))).alias("b"),
            )
        ).alias("p"),
        "count",
    )
    return (
        pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "count")
        .groupBy("a", "b")
        .agg(F.sum("count").alias("cnt"))
    )


def apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every left-to-right non-overlapping adjacent ``(a, b)`` in
    each symbol array with the merged symbol ``a+b``."""
    merged = a + b
    la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)

    def step(acc, x):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb)
        )
        return F.when(
            hit,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(lm)
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return words.withColumn(
        "symbols",
        F.aggregate("symbols", F.array().cast("array<string>"), step),
    )


def _train_bpe_in_memory(
    vocab: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> tuple[list[tuple[str, str]], dict[str, list[str]]]:
    """Classic in-memory BPE over a collected word-frequency table, with
    the exact semantics of the distributed loop: greedy left-to-right
    non-overlapping merges, best pair = highest count then lexicographic
    ``(a, b)`` (Python str comparison and Spark string ordering agree on
    the BMP — tokenizer symbols in practice).

    Incremental pair maintenance (pair→word index + a lazy-invalidation
    heap, the Sennrich ``learn_bpe`` bookkeeping): each merge touches only
    the words containing the merged pair, so 32k–64k merges cost
    O(touched symbols), not O(n_merges × vocabulary).
    """
    import heapq
    from collections import Counter, defaultdict

    syms: list[list[str]] = [list(w) for w, _ in vocab]
    counts: list[int] = [c for _, c in vocab]
    pairs: Counter = Counter()
    index: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(syms):
        c = counts[i]
        for j in range(len(s) - 1):
            p = (s[j], s[j + 1])
            pairs[p] += c
            index[p].add(i)
    heap = [(-c, a, b) for (a, b), c in pairs.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            negc, a, b = heap[0]
            if pairs.get((a, b), 0) != -negc or -negc <= 0:
                heapq.heappop(heap)  # stale entry — count has moved on
                continue
            best = (a, b, -negc)
            break
        if best is None or best[2] < min_pair_count:
            break
        a, b, _ = best
        merges.append((a, b))
        merged = a + b
        # index entries can be stale (word no longer contains the pair
        # after other merges): re-deriving a no-op word subtracts and
        # re-adds the same pair counts — harmless and exact
        for i in sorted(index.pop((a, b), ())):
            s, c = syms[i], counts[i]
            for j in range(len(s) - 1):
                p = (s[j], s[j + 1])
                pairs[p] -= c
                heapq.heappush(heap, (-pairs[p], p[0], p[1]))
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            syms[i] = out
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                pairs[p] += c
                index[p].add(i)
                heapq.heappush(heap, (-pairs[p], p[0], p[1]))
        pairs.pop((a, b), None)
    return merges, {w: syms[i] for i, (w, _) in enumerate(vocab)}


def train_bpe(
    documents: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_pair_count: int = 2,
    checkpoint_every: int = 4,
    max_driver_words: int | None = 2_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, words)``: the ordered merge list and the final
    word table with its ``symbols`` column (the trained segmentation of
    every vocabulary word).  Stops early when no pair reaches
    ``min_pair_count``.  Ties are broken by highest count, then
    lexicographic ``(a, b)`` — fully deterministic, engine-independent.

    Execution strategy: the corpus collapses to the word-frequency table
    either way (the one corpus-scale aggregation); what differs is where
    the merge loop runs.  When the vocabulary fits under
    ``max_driver_words`` it is collected ONCE and the loop runs in-memory
    (:func:`_train_bpe_in_memory`, incremental pair bookkeeping) — a real
    32k–64k-merge training run is thousands of sequential top-1 Spark
    jobs under the distributed loop (a wall-clock killer even though the
    data never leaves the vocabulary-sized table), versus seconds
    in-memory.  Both paths produce identical output (differential-tested);
    heaps-law vocabularies put even a 100 TB corpus's word table in the
    low tens of millions of rows, so the realistic default is the
    in-memory path with the distributed loop as the unbounded-vocabulary
    fallback (``max_driver_words=None`` forces it; memory contract is
    roughly 100 bytes/word on the driver).
    """
    words = with_symbols(word_freq_table(documents, text_col, doc_col))
    words = words.persist()
    n_vocab = words.count()  # materialize once before iterating
    if max_driver_words is not None and n_vocab <= max_driver_words:
        vocab_rows = words.select("word", "count").orderBy("word").collect()
        merges, final_syms = _train_bpe_in_memory(
            [(r["word"], r["count"]) for r in vocab_rows],
            n_merges,
            min_pair_count,
        )
        spark = documents.sparkSession
        out = local_frame(
            spark,
            [
                (r["word"], r["count"], final_syms[r["word"]])
                for r in vocab_rows
            ],
            schema="word string, count bigint, symbols array<string>",
        )
        words.unpersist()
        return merges, out
    merges = []
    prev = words
    for i in range(n_merges):
        top = (
            bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        words = apply_merge(words, a, b)
        if (i + 1) % checkpoint_every == 0:
            words = words.transform(cut_lineage, eager=True)
        else:
            words = words.persist()
            words.count()
        prev.unpersist()
        prev = words
    return merges, words


def segment_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply an already-learned merge list to a word table (e.g. to
    tokenize new text under a trained vocabulary).  Merges must be
    applied in training order; the whole chain stays one lazy plan."""
    out = with_symbols(words)
    for a, b in merges:
        out = apply_merge(out, a, b)
    return out


def bpe_encode_corpus(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    doc_col: str = "doc_id",
    segmented: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the corpus under a trained merge list:
    ``(doc_col, pos, word, subtokens)`` — one row per word occurrence,
    ``pos`` its 0-based position in the document.

    The scale path mirrors training: the merge chain is applied to the
    *vocabulary* (each distinct word segmented once), and the corpus is
    then tokenized by an equijoin of its exploded words against that
    segmentation table — broadcast while the vocabulary is small, plain
    hash join when it isn't.  The 100 TB corpus never runs the merge
    fold; it pays one explode + one join.

    Pass ``segmented`` (the word table :func:`train_bpe` returns, already
    persisted with its ``symbols`` column) to skip rebuilding the word
    table and re-running the merge chain after training."""
    if segmented is not None:
        seg = segmented.select("word", "symbols")
    else:
        words = word_freq_table(documents, text_col, doc_col)
        seg = segment_words(words, merges).select("word", "symbols")
    occurrences = documents.select(
        F.col(doc_col),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), " "),
                lambda w: F.length(w) > 0,
            )
        ).alias("pos", "word"),
    )
    return occurrences.join(seg, "word").select(
        doc_col, "pos", "word", F.col("symbols").alias("subtokens")
    )
