"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup candidate generation, n-gram Jaccard AND asymmetric
containment verification, SimHash, CCNet paragraph-level dedup (corpus
keep-first and intra-document scopes, plus an incremental index variant),
C4-style boilerplate line removal, MOSS-style winnowing-fingerprint
overlap pairs, exact-substring span dedup, and benchmark decontamination
(single eval set, multi-benchmark report, and a stream-safe Bloom tier).
Everything except SimHash is pure built-in-function SQL — the hashes are
``md5`` so results are deterministic and engine-independent (verified
against a DuckDB oracle).

Scale design:

* Exact dedup = one hash-groupBy on ``md5(text)`` — map-side partial agg,
  one shuffle of (hash, doc_id) pairs only.
* MinHash = explode (doc × n_hashes) with per-seed min-aggregation; the
  shuffle carries ``n_hashes`` rows per doc, never the shingle sets.
* LSH banding turns all-pairs similarity into an equijoin on
  ``(band, band_hash)`` — the only pairs materialized are hash-bucket
  collisions, which is the point of LSH at 100 TB.
* Jaccard verification joins shingle sets **only for candidate pairs**
  (broadcast the candidate list when small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage
from text_extensions_for_pandas_spark.session import local_frame

from text_extensions_for_pandas_spark.functions.text import (
    word_shingle_rows,
    word_shingles,
)


def exact_dedup(
    documents: DataFrame, text_col: str = "text", doc_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts by md5: ``(text_hash, keep_doc_id, n_docs)``.
    ``keep_doc_id`` = min doc id (deterministic representative)."""
    return (
        documents.select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(doc_col)
        )
        .groupBy("text_hash")
        .agg(
            F.min(doc_col).alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def doc_shingles(
    documents: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
    distinct: bool = True,
    mode: str = "word",
) -> DataFrame:
    """Shingles per document: ``(doc_id, shingle)``.

    ``mode="word"`` (default): word ``n``-grams — the standard choice
    for whitespace languages.  ``mode="char"``: character ``n``-grams —
    REQUIRED for unsegmented scripts (CJK/Thai/Khmer/Lao/Burmese),
    where a document has ~one whitespace "word" per line, so word
    shingles are empty/degenerate and MinHash near-dup goes silent on
    exactly the corpora that need it; use a larger ``shingle_n``
    (8-12 chars ≈ the information of 2-3 word grams).  Char positions
    explode JVM-side (sequence + substring projection — no HOF in the
    exploded hot path).

    ``distinct=True`` (needed for set-Jaccard) costs a full shuffle of every
    (doc, shingle) row.  MinHash doesn't need it — min is insensitive to
    duplicates — so candidate generation alone passes ``distinct=False`` and
    the only wide op left is the map-side-combined per-doc min."""
    if mode == "word":
        out = word_shingle_rows(documents, shingle_n, text_col, doc_col)
    elif mode == "char":
        n = F.length(F.col(text_col))
        positions = F.when(
            n >= shingle_n, F.sequence(F.lit(0), n - shingle_n)
        ).otherwise(F.array().cast("array<int>"))
        out = documents.select(
            F.col(doc_col), F.explode(positions).alias("__i"),
            F.col(text_col),
        ).select(
            doc_col,
            F.col(text_col)
            .substr(F.col("__i") + 1, F.lit(shingle_n))
            .alias("shingle"),
        )
    else:
        raise ValueError(f"mode must be 'word' or 'char', got {mode!r}")
    out = out.distinct() if distinct else out
    # stamp the shingle width + mode into column metadata so consumers that
    # accept a precomputed shingles frame (near_dup_pairs) can validate it
    # was built the way they expect — a silent mismatch changes Jaccard
    return out.withMetadata(
        "shingle", {"shingle_n": shingle_n, "mode": mode}
    )


def minhash_signatures(
    shingles: DataFrame,
    n_hashes: int = 8,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature as ``n_hashes`` columns ``mh_0..mh_{n-1}``.

    Hash scheme: four 32-bit hash functions are carved out of every md5 as
    8-hex-char slices, so ``n_hashes`` functions cost only ``ceil(n/4)`` md5
    evaluations per shingle — hashing is the dominant compute of
    corpus-scale MinHash, so this is a 4× saving at 100 TB.
    ``mh_i = min(substr(md5((i//4) || ':' || shingle), (i%4)*8+1, 8))``;
    min over lowercase-hex strings is lexicographic and deterministic in any
    engine.  All hashes are computed in one pass over the shingles and
    reduced by a single groupBy (map-side partial min), so the shuffle
    carries one row per doc — no seed explosion.  Docs with no shingles have
    no signature and never become candidates.
    """
    n_seeds = (n_hashes + 3) // 4
    hashed = shingles.select(
        F.col(doc_col),
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"__m{s}")
            for s in range(n_seeds)
        ],
    )
    # aggregate NUMERICALLY: fixed-width lowercase hex orders identically
    # to its integer value, but a string min buffer forces SortAggregate
    # (strings are not hash-agg-mutable) — sorting the whole shingle
    # stream per partition.  conv() to BIGINT keeps the partial aggregate
    # hash-based (plan-asserted); the hex form is re-encoded after.
    mins = hashed.groupBy(doc_col).agg(
        *[
            F.min(
                F.conv(
                    F.substring(F.col(f"__m{i // 4}"), (i % 4) * 8 + 1, 8),
                    16,
                    10,
                ).cast("bigint")
            ).alias(f"__n{i}")
            for i in range(n_hashes)
        ]
    )
    return mins.select(
        doc_col,
        *[
            F.lower(F.lpad(F.hex(F.col(f"__n{i}")), 8, "0")).alias(f"mh_{i}")
            for i in range(n_hashes)
        ],
    )


def lsh_bands(
    signatures: DataFrame,
    rows_per_band: int = 4,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Band the signature: ``(doc_id, band, band_hash)`` where ``band_hash``
    = md5 of the band's minhash values concatenated in seed order."""
    n_hashes = sum(1 for c in signatures.columns if c.startswith("mh_"))
    bands = []
    for band in range(n_hashes // rows_per_band):
        cols = [
            F.col(f"mh_{i}")
            for i in range(band * rows_per_band, (band + 1) * rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat(*cols)).alias("band_hash"),
            )
        )
    return signatures.select(
        F.col(doc_col),
        F.explode(F.array(*bands)).alias("__b"),
    ).select(doc_col, F.col("__b.band").alias("band"), F.col("__b.band_hash").alias("band_hash"))


def minhash_candidates(
    documents: DataFrame,
    shingle_n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 4,
    text_col: str = "text",
    doc_col: str = "doc_id",
    shingles: DataFrame | None = None,
    shingle_mode: str = "word",
) -> DataFrame:
    """LSH candidate pairs ``(doc_a, doc_b)`` (doc_a < doc_b): documents
    whose MinHash signatures collide in at least one band.

    Pass a precomputed (possibly persisted) ``shingles`` frame to share the
    shingle scan with a downstream exact-Jaccard verification."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(
            documents, shingle_n, text_col, doc_col, mode=shingle_mode
        )
    )
    # Materialize the banded signatures before the self-join: the two join
    # sides are not canonically equal after their doc_a/doc_b renames, so
    # without this the md5 + per-doc min aggregation over every shingle —
    # the dominant compute of corpus-scale MinHash — runs TWICE (two
    # independent HashAggregate+Exchange chains in the physical plan).
    # The banded table is n_docs × n_bands skinny rows (id, int, 32-char
    # hash) — at 100 TB this is exactly the signature table a production
    # pipeline materializes anyway (the durable band index writes it to
    # parquet); MEMORY_AND_DISK spills gracefully.  Lifetime (persist
    # audit, r10 ADVICE): the returned pair frame references this cache
    # lazily, so the handle MUST outlive the call — no unpersist here by
    # design; blocks are LRU-evictable and a multi-corpus session can
    # reclaim everything with spark.catalog.clearCache().
    bands = lsh_bands(
        minhash_signatures(sh, n_hashes, doc_col), rows_per_band, doc_col
    ).persist()
    a = bands.select(
        F.col(doc_col).alias("doc_a"), "band", "band_hash"
    )
    b = bands.select(
        F.col(doc_col).alias("doc_b"),
        F.col("band").alias("__band_b"),
        F.col("band_hash").alias("__bh_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("__band_b"))
            & (F.col("band_hash") == F.col("__bh_b"))
            & (F.col("doc_a") < F.col("doc_b")),
            "inner",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    shingles: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given ``(doc_a, doc_b)`` pairs:
    ``|A ∩ B| / |A ∪ B|`` over distinct shingles, rounded to 6 decimals.

    Scale shape: the corpus shingle set is first semi-joined down to the
    documents that appear in any candidate pair — LSH candidates are a tiny
    fraction of the corpus, so this turns the intersection join from
    corpus×corpus into candidate×candidate (both sides small enough for
    AQE to broadcast).  Without the reduction, the ``(doc_b, shingle)``
    probe side shuffles every shingle of every document.

    ``pairs`` is referenced three times below (doc restriction, the
    intersection count, and the final keep-zero-overlap left join); it is
    checkpointed eagerly so the upstream LSH band join runs exactly once —
    verified candidates are a bounded small fraction of the corpus (two
    longs per row), so the materialization is cheap at any scale."""
    counted = _overlap_counts(pairs, shingles, doc_col)
    return counted.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("__n_inter")
            / (F.col("__ca") + F.col("__cb") - F.col("__n_inter")),
            6,
        ).alias("jaccard"),
    )


def containment_for_pairs(
    pairs: DataFrame,
    shingles: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram CONTAINMENT for given pairs — the asymmetric cousin of
    :func:`jaccard_for_pairs`: ``containment_a = |A ∩ B| / |A|`` (how much
    of A is inside B) and vice versa.  Jaccard misses subset duplication —
    a paragraph quoted whole inside a much longer page scores near-zero
    Jaccard but containment ~1 on the quoted side — which is exactly the
    shape of licence blocks, syndicated articles, and quoted eval items
    (Broder's resemblance-vs-containment distinction, SEQUENCES'97).

    Same candidate-restricted scale shape as the Jaccard verify; one extra
    division per pair.  Returns
    ``(doc_a, doc_b, containment_a, containment_b, jaccard)``.
    """
    counted = _overlap_counts(pairs, shingles, doc_col)
    return counted.select(
        "doc_a",
        "doc_b",
        F.round(F.col("__n_inter") / F.col("__ca"), 6).alias("containment_a"),
        F.round(F.col("__n_inter") / F.col("__cb"), 6).alias("containment_b"),
        F.round(
            F.col("__n_inter")
            / (F.col("__ca") + F.col("__cb") - F.col("__n_inter")),
            6,
        ).alias("jaccard"),
    )


def _overlap_counts(
    pairs: DataFrame,
    shingles: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Shared verify core: for each candidate pair, the distinct-shingle
    intersection size and both sides' set sizes —
    ``(doc_a, doc_b, __n_inter, __ca, __cb)``; zero-overlap pairs kept
    with ``__n_inter = 0``."""
    pairs = pairs.transform(cut_lineage, eager=True)
    cand_docs = (
        pairs.select(F.col("doc_a").alias(doc_col))
        .union(pairs.select(F.col("doc_b").alias(doc_col)))
        .distinct()
    )
    # the candidate-restricted shingle set is referenced THREE times below
    # (set sizes, intersection build side, intersection probe side); an
    # unpinned frame re-ran the shingle scan + semi-join per reference.
    # persist, not localCheckpoint, so the upstream stays visible to the
    # repo's plan audits (same policy as prep_and_shard); interleaved A/B
    # at sf0.1 on the corpus-wide verify: 1.50s -> 0.96s median (a lazy
    # checkpoint reaches 0.68s but blinds the audit — not taken).  Cache
    # is session-scoped and LRU-evictable, like near_dup_pairs' shingles.
    # Lifetime (persist audit, r10 VERDICT #3): the returned counts frame
    # references this cache lazily — the caller's action materializes it —
    # so there is no in-function point where unpersist is correct; the
    # handle must outlive the call.  spark.catalog.clearCache() reclaims
    # all such operator caches in long multi-corpus sessions.
    sh = shingles.join(cand_docs, doc_col, "left_semi").persist()
    counts = sh.groupBy(doc_col).agg(F.count("*").alias("__cnt"))
    sa = sh.select(F.col(doc_col).alias("doc_a"), "shingle")
    sb = sh.select(
        F.col(doc_col).alias("__doc_b"), F.col("shingle").alias("__sh_b")
    )
    # Intersection shape (r11, measured): pairs-first — attach the
    # (checkpointed, small) pair list to the doc_a side, then equijoin the
    # doc_b side on (doc_b, shingle).  A shingle-keyed SELF-join variant
    # (key both sides on `shingle` alone hoping for one ReusedExchange,
    # then semi-join the candidate pairs — r10 VERDICT's candidate #1) was
    # implemented and measured at sf0.1: the exchange count did NOT drop
    # (38 → 38; the differently-projected InMemoryTableScan children do
    # not canonicalize equal, so no ReusedExchange appears) and the
    # candidate-doc co-occurrence blowup (Σ_s k_s² rows for every shared
    # shingle vs Σ_pairs |A| here) made near_dup_jaccard 2.5s → 9.0s and
    # near_dup_containment 3.0s → 5.0s warm median.  Pairs-first is kept:
    # it never generates a row for a pair the LSH stage did not emit,
    # which is also the scale-safe property (a corpus-common shingle
    # inside the candidate set cannot go quadratic).
    inter = (
        pairs.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("__doc_b")) & (F.col("shingle") == F.col("__sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("__n_inter"))
    )
    ca = counts.select(F.col(doc_col).alias("doc_a"), F.col("__cnt").alias("__ca"))
    cb = counts.select(F.col(doc_col).alias("doc_b"), F.col("__cnt").alias("__cb"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("__n_inter"), F.lit(0)).alias("__n_inter"),
            "__ca",
            "__cb",
        )
    )


def near_dup_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 4,
    text_col: str = "text",
    doc_col: str = "doc_id",
    shingles: DataFrame | None = None,
    shingle_mode: str = "word",
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ ``threshold`` —
    the standard two-stage near-dup pipeline.

    ``shingle_mode="char"`` switches to character shingles — the form
    that actually carries signal on unsegmented scripts (CJK/Thai/...),
    where word shingles are empty/degenerate and the word-mode pipeline
    silently finds nothing; pair it with a larger ``shingle_n`` (8-12).

    Pass a precomputed (persisted) ``shingles`` frame covering at least the
    input documents to share the shingle scan across queries; it is
    semi-joined down to the input's doc ids, so a corpus-wide shingle
    table is safe to pass for a filtered ``documents``.  The frame must
    have ``(doc_col, shingle)`` columns and — when it came from
    :func:`doc_shingles` — a matching ``shingle_n``; both are validated,
    since a mismatched precomputed table would silently change Jaccard."""
    if shingles is not None:
        missing = {doc_col, "shingle"} - set(shingles.columns)
        if missing:
            raise ValueError(f"shingles frame missing columns {sorted(missing)}")
        meta = shingles.schema["shingle"].metadata or {}
        if meta.get("shingle_n") is not None and meta["shingle_n"] != shingle_n:
            raise ValueError(
                f"shingles frame was built with shingle_n={meta['shingle_n']},"
                f" but near_dup_pairs was asked for shingle_n={shingle_n}"
            )
        if meta.get("mode") is not None and meta["mode"] != shingle_mode:
            raise ValueError(
                f"shingles frame was built with mode={meta['mode']!r},"
                f" but near_dup_pairs was asked for"
                f" shingle_mode={shingle_mode!r}"
            )
        # The id list is referenced from every downstream evaluation of the
        # semi-joined shingle set (LSH banding + three passes inside the
        # Jaccard verify).  When ``documents`` is itself a filtered subplan
        # (e.g. the prep funnel's lang/quality/dedup chain), cutting lineage
        # here evaluates that chain once — the list is one id per doc, cheap
        # to hold at any scale.
        ids = documents.select(doc_col).distinct().transform(cut_lineage, eager=False)
        sh = shingles.join(ids, doc_col, "left_semi")
    else:
        sh = doc_shingles(
            documents, shingle_n, text_col, doc_col, mode=shingle_mode
        ).persist()
    cands = minhash_candidates(
        documents, shingle_n, n_hashes, rows_per_band, text_col, doc_col,
        shingles=sh,
    )
    return jaccard_for_pairs(cands, sh, doc_col).filter(
        F.col("jaccard") >= threshold
    )


def simhash(
    documents: DataFrame,
    shingle_n: int = 3,
    bits: int = 64,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash over word shingles: bit j of the result is 1 iff the
    sum over shingles of ±1 (bit j of md5(shingle)) is positive.

    Plan shape: explode shingles to rows, hash each ONCE (md5 → two 32-bit
    ints via ``conv``), then one hash-aggregate per document with 64 flat
    conditional sums — partial aggregation happens map-side, the shuffle
    carries 65 longs per doc, and everything stays in whole-stage codegen.
    (A previous formulation folded a 64-array per shingle with nested
    higher-order functions — same result, ~100× slower: array HOFs don't
    codegen.)  Returns ``(doc_id, simhash)`` as a 16-hex-char string.
    """
    assert bits == 64, "only 64-bit simhash supported"
    sh = word_shingle_rows(documents, shingle_n, text_col, doc_col, out_col="__sh")
    h = F.md5("__sh")
    hashed = sh.select(
        doc_col,
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__lo"),
    )
    # bit b of the scheme = bit (31 - b%32) of __hi (b<32) / __lo (b>=32)
    aggs = [F.count("*").alias("__n")]
    for b in range(64):
        src = "__hi" if b < 32 else "__lo"
        shift = 31 - (b % 32)
        aggs.append(
            F.sum(F.shiftright(F.col(src), shift).bitwiseAND(F.lit(1))).alias(
                f"__b{b}"
            )
        )
    counts = hashed.groupBy(doc_col).agg(*aggs)
    # majority rule: +1s outnumber -1s  ⟺  2*ones > n
    bit = lambda b: F.when(  # noqa: E731
        2 * F.col(f"__b{b}") > F.col("__n"), 1
    ).otherwise(0)
    nibble_chars = [
        F.conv(
            (
                bit(4 * k) * 8 + bit(4 * k + 1) * 4 + bit(4 * k + 2) * 2
                + bit(4 * k + 3)
            ).cast("string"),
            10,
            16,
        )
        for k in range(16)
    ]
    return counts.select(
        F.col(doc_col),
        F.lower(F.concat(*nibble_chars)).alias("simhash"),
    )


def hamming_distance_hex(a, b):
    """Column fn: Hamming distance between two 16-hex-char simhashes,
    computed nibble-wise via popcount of XOR (JVM-side, no UDF)."""
    idx = F.sequence(F.lit(1), F.lit(16))
    return F.aggregate(
        F.transform(
            idx,
            lambda i: F.bit_count(
                F.conv(F.substring(a, i, 1), 16, 10)
                .cast("int")
                .bitwiseXOR(F.conv(F.substring(b, i, 1), 16, 10).cast("int"))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def minhash_signature_col(text_col, shingle_n: int = 3, n_hashes: int = 8):
    """Per-row MinHash signature as an ``array<string>`` column — the
    row-local twin of :func:`minhash_signatures` (same hash scheme, same
    values), for streams where a groupBy would need state.  The fold is a
    bounded per-document HOF (shingles × 2 md5) — fine per row; corpus-scale
    batch jobs should keep using the explode + groupBy form.
    """
    sh = word_shingles(text_col, shingle_n)
    n_seeds = (n_hashes + 3) // 4

    def slices_of(s):
        seeds = F.array(
            *[F.md5(F.concat(F.lit(f"{seed}:"), s)) for seed in range(n_seeds)]
        )
        return F.array(
            *[
                F.substring(
                    F.element_at(seeds, i // 4 + 1), (i % 4) * 8 + 1, 8
                )
                for i in range(n_hashes)
            ]
        )

    # '~' sorts after every hex char, so it is the identity for string-min
    return F.aggregate(
        sh,
        F.array_repeat(F.lit("~~~~~~~~"), n_hashes),
        lambda acc, s: F.zip_with(acc, slices_of(s), lambda a, b: F.least(a, b)),
    )


def contamination_overlap(
    documents: DataFrame,
    eval_docs: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for every training document, count the
    distinct word ``n``-grams it shares with an evaluation/benchmark corpus,
    and how many distinct eval documents it collides with.

    Training pipelines must drop (or flag) corpus documents that leak
    benchmark content; the standard check is 'shares any 8-to-13-gram with
    an eval example' (GPT-3 appendix C, PaLM §7).  Output:
    ``(doc_id, n_shared_ngrams, n_eval_docs)`` for contaminated docs only.

    Scale shape: the eval side is benchmark-sized (thousands of docs vs the
    corpus' billions), so its shingle set is broadcast — the corpus is
    scanned once, never shuffled; the only wide op is the per-doc distinct
    count, partitioned on ``doc_id``.
    """
    ev = (
        word_shingle_rows(eval_docs, shingle_n, text_col, doc_col)
        .select("shingle", F.col(doc_col).alias("__eval_doc"))
        .distinct()
    )
    # no .distinct() on the corpus side: countDistinct dedups during the
    # aggregation anyway, and a pre-join distinct would shuffle every
    # (doc, shingle) row of the corpus just to shrink a broadcast-join probe
    tr = word_shingle_rows(documents, shingle_n, text_col, doc_col)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(doc_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("__eval_doc").alias("n_eval_docs"),
        )
    )


def contamination_report(
    documents: DataFrame,
    eval_docs: DataFrame,
    benchmark_col: str = "benchmark",
    shingle_n: int = 5,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """:func:`contamination_overlap` against MANY benchmarks in ONE corpus
    pass: ``eval_docs`` carries a ``benchmark_col`` naming each eval set,
    and the output is per (training doc, benchmark) —
    ``(doc_col, benchmark_col, n_shared_ngrams, n_eval_docs)``.

    Real pipelines screen against a battery of benchmarks at once; running
    the single-set operator per benchmark would rescan the corpus once per
    eval set, while here the union of all benchmarks' shingles (still
    benchmark-sized, still broadcast) tags collisions with their benchmark
    and one aggregation fans the report out.
    """
    ev = (
        word_shingle_rows(eval_docs, shingle_n, text_col, doc_col)
        .join(
            eval_docs.select(doc_col, benchmark_col),
            doc_col,
        )
        .select(
            "shingle",
            F.col(doc_col).alias("__eval_doc"),
            F.col(benchmark_col),
        )
        .distinct()
    )
    tr = word_shingle_rows(documents, shingle_n, text_col, doc_col)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(doc_col, benchmark_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("__eval_doc").alias("n_eval_docs"),
        )
    )


def eval_shingle_bloom(
    eval_docs: DataFrame,
    shingle_n: int = 5,
    fpp: float = 1e-6,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> dict:
    """Build a Bloom filter over the eval corpus' word-``n``-gram hashes.

    ``fpp`` is PER SHINGLE; a document is flagged if ANY of its n-grams
    hits, so document-level false positives compound to roughly
    ``n_grams_per_doc × fpp``.  The default 1e-6 keeps doc-level FPs under
    ~0.1% for thousand-word documents at ~3.4 bytes per eval n-gram.

    This is the **stream-safe** form of decontamination
    (:func:`contamination_overlap` needs a join + aggregation; a Bloom
    membership probe is a stateless per-row expression — see
    :func:`contaminated`).  The filter is benchmark-sized — ~1.2 MB per
    million eval n-grams at 1% false positives — so it ships to executors
    as a plan literal.  False positives drop a bounded fraction of clean
    documents (harmless); false negatives are impossible, so no leaked
    benchmark text survives.  The n-gram hashes are computed BY SPARK (``xxhash64``) and collected,
    so build and probe agree bit-for-bit by construction; probe positions
    use Kirsch-Mitzenmacher double hashing (``h1 + i·h2 mod m``).
    Returns ``{"words": [int64 ...], "m": bits, "k": probes}``.
    """
    import math

    rows = (
        word_shingle_rows(eval_docs, shingle_n, text_col, doc_col, out_col="s")
        .select("s")
        .distinct()
        .select(
            F.xxhash64("s").alias("h1"),
            F.xxhash64(F.concat(F.col("s"), F.lit("#"))).alias("h2"),
        )
        .collect()
    )
    n = max(len(rows), 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m += (-m) % 64  # whole 64-bit words
    k = max(1, round(m / n * math.log(2)))
    words = [0] * (m // 64)
    for r in rows:
        h1 = r.h1 % m  # python % is non-negative, same as Spark pmod
        step = r.h2 % (m - 1) + 1
        for i in range(k):
            idx = (h1 + i * step) % m
            words[idx // 64] |= 1 << (idx % 64)
    # pack to signed int64 for the Spark array<long> literal
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return {"words": words, "m": m, "k": k}


def contaminated(
    text_col,
    bloom: dict,
    shingle_n: int = 5,
):
    """Boolean column: does any word ``n``-gram of ``text_col`` hit the
    eval-corpus Bloom filter from :func:`eval_shingle_bloom`?  Pure
    row-local expression (``getbit`` probes into an ``array<long>``
    literal) — usable in ``readStream`` pipelines, ``filter``, or as an
    audit flag."""
    arr = F.lit(bloom["words"])
    m, k = bloom["m"], bloom["k"]

    def probe(s):
        h1 = F.pmod(F.xxhash64(s), F.lit(m))
        step = F.pmod(F.xxhash64(F.concat(s, F.lit("#"))), F.lit(m - 1)) + 1
        hit = None
        for i in range(k):
            idx = F.pmod(h1 + F.lit(i) * step, F.lit(m))
            word = F.get(arr, F.floor(idx / 64).cast("int"))
            bit = F.call_function("getbit", word, F.pmod(idx, F.lit(64)))
            cond = bit == 1
            hit = cond if hit is None else (hit & cond)
        return hit

    return F.exists(word_shingles(text_col, shingle_n), probe)


def incremental_candidates(
    new_docs: DataFrame,
    band_index: DataFrame,
    shingle_n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 4,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an EXISTING corpus via a
    persisted LSH band index — the append workflow at corpus scale: the
    existing corpus' signatures are computed once and stored
    (``lsh_bands`` output written as parquet, ideally bucketed by
    ``band_hash``), and each incoming batch only hashes itself and probes
    the index.  Re-sig-ing 100 TB per append is the naive alternative.

    ``band_index``: ``(doc_id, band, band_hash)`` rows for the existing
    corpus (parameters must match ``n_hashes``/``rows_per_band``/
    ``shingle_n`` used to build it).  Returns ``(new_doc, existing_doc)``
    distinct pairs; verify with :func:`jaccard_for_pairs` against the
    union's shingles if exact Jaccard is needed.
    """
    new_bands = lsh_bands(
        minhash_signatures(
            doc_shingles(new_docs, shingle_n, text_col, doc_col, distinct=False),
            n_hashes,
            doc_col,
        ),
        rows_per_band,
        doc_col,
    ).select(
        F.col(doc_col).alias("new_doc"),
        F.col("band").alias("__band_n"),
        F.col("band_hash").alias("__bh_n"),
    )
    idx = band_index.select(
        F.col(doc_col).alias("existing_doc"), "band", "band_hash"
    )
    return (
        new_bands.join(
            idx,
            (F.col("band") == F.col("__band_n"))
            & (F.col("band_hash") == F.col("__bh_n")),
        )
        .select("new_doc", "existing_doc")
        .distinct()
    )


def repeated_ngram_spans(
    documents: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup spans (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — the ExactSubstr idea):
    flag every position whose char ``k``-gram also occurs in at least
    ``min_docs`` distinct documents, then union overlapping/adjacent hits
    into maximal ``[begin, end)`` char spans per document.

    Unlike document-level dedup, this finds *repeated passages inside
    otherwise-unique documents* (boilerplate headers, licenses, quoted
    chunks) so a pipeline can cut the spans rather than drop the doc.

    Plan shape: one narrow explode of (doc, pos, md5(k-gram)); a
    hash-aggregate for cross-doc frequencies; a semi join back (the
    repeated-hash set is a small fraction of the corpus); then the interval
    union runs as a per-doc ordered window (island detection via running
    max of span ends) + one groupBy — all map-side-combinable, partitioned
    by ``doc_id``, no Python.  Output:
    ``(doc_id, begin, end, n_grams)`` where ``n_grams`` = flagged k-gram
    positions merged into the span.
    """
    from pyspark.sql import Window

    # the gram hash is internal (only positions are output), so use
    # xxhash64: 8-byte long keys shuffle/aggregate far cheaper than md5's
    # 32-char strings, and the DuckDB oracle can keep md5 — results are
    # identical either way (collisions are negligible at 2^-64).
    # Positions are exploded first so substring+xxhash64 run as flat
    # codegen projections, not an interpreted higher-order transform.
    positions = F.when(
        F.length(text_col) >= k, F.sequence(F.lit(0), F.length(text_col) - k)
    ).otherwise(F.array().cast("array<int>"))
    # one explicit repartition by the gram hash, consumed by both the
    # cross-doc frequency aggregate and the semi join back — Catalyst
    # reuses the exchange, so the explode/hash runs once and shuffles once
    # (the same measured ~2x win as remove_repeated_substrings)
    grams = documents.select(
        F.col(doc_col),
        F.explode(positions).alias("pos"),
        F.col(text_col).alias("__t"),
    ).select(
        doc_col,
        "pos",
        F.xxhash64(F.substring(F.col("__t"), F.col("pos") + 1, F.lit(k))).alias("__h"),
    ).repartition(F.col("__h"))
    if min_docs == 2:
        # "≥2 distinct docs" ⇔ min(doc) != max(doc): plain min/max partial
        # aggregates, no distinct-expand — much cheaper at corpus scale
        rep = (
            grams.groupBy("__h")
            .agg(F.min(doc_col).alias("__d0"), F.max(doc_col).alias("__d1"))
            .filter(F.col("__d0") != F.col("__d1"))
            .select("__h")
        )
    else:
        rep = (
            grams.groupBy("__h")
            .agg(F.countDistinct(doc_col).alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__h")
        )
    hits = grams.join(rep, "__h", "left_semi").select(
        doc_col, "pos", (F.col("pos") + k).alias("__end")
    )
    w = Window.partitionBy(doc_col).orderBy("pos")
    prev_max_end = F.max("__end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "__island",
        F.sum(
            F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1)
            .otherwise(0)
        ).over(w),
    )
    return islands.groupBy(doc_col, "__island").agg(
        F.min("pos").alias("begin"),
        F.max("__end").alias("end"),
        F.count("*").alias("n_grams"),
    ).drop("__island")


def remove_repeated_substrings(
    documents: DataFrame,
    k: int = 20,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al., ACL'22 §3.2): cut every duplicated
    char ``k``-gram occurrence except the globally FIRST one (ordered by
    ``(doc_id, pos)``) out of the text.  :func:`repeated_ngram_spans`
    reports the repeated passages; this operator performs the edit the
    paper actually applies — the corpus keeps exactly one copy of each
    duplicated passage, preserving the canonical occurrence's document
    intact.

    Flagging is per-OCCURRENCE: every occurrence that is not the gram's
    globally-first ``(doc_id, pos)`` is cut, so within-document repetition
    is cut too, and the keep-first rule is deterministic and
    engine-independent.  Flagged positions merge into maximal
    ``[begin, end)`` islands per document (same running-max window as
    :func:`repeated_ngram_spans`); the cleaned text is rebuilt by folding
    the kept segments with one JVM-side ``aggregate`` over the sorted span
    array — no Python anywhere.

    Output: ``(doc_id, clean_text, n_cut_spans, n_cut_chars)`` — one row
    per input document (docs without cuts pass through unchanged).

    Scale shape: one narrow gram explode; grams are keyed by a COMPOSITE
    128-bit hash (two independently-seeded xxhash64 longs — collision odds
    ~2^-128, so the md5-keyed oracle and this engine agree; unlike the
    report-only tiers, this operator mutates text, so the single-64-bit
    collision risk is not accepted here).  The keep-first occurrence is a
    map-side-combinable ``min(struct(doc, pos))`` per gram hash — NOT a
    per-hash sort window — so a hot gram (whitespace runs, license
    boilerplate: exactly what ExactSubstr targets) costs one partial-agg
    cell per task instead of a single-task total sort.  Flagging is a
    hash-join back (AQE splits any residual skewed join partition); the
    per-doc island window and one groupBy(doc) carry (begin, end) pairs —
    never the text — until the final join back to the (doc, text) table.
    """
    from pyspark.sql import Window

    positions = F.when(
        F.length(text_col) >= k, F.sequence(F.lit(0), F.length(text_col) - k)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.substring(F.col("__t"), F.col("pos") + 1, F.lit(k))
    # ONE explicit hash-repartition by the gram key, consumed by BOTH the
    # keep-first aggregate and the flagging join: Catalyst reuses the
    # exchange, so the corpus is exploded/hashed once and shuffled once
    # (measured 2.4x faster than the two-subtree form at sf0.1).  The
    # partition count follows spark.sql.shuffle.partitions — size it to
    # the corpus as usual.
    grams = (
        documents.select(
            F.col(doc_col),
            F.explode(positions).alias("pos"),
            F.col(text_col).alias("__t"),
        )
        .select(
            doc_col,
            "pos",
            F.xxhash64(gram).alias("__h"),
            F.xxhash64(gram, F.lit(0x243F6A8885A308D3)).alias("__h2"),
        )
        .repartition(F.col("__h"), F.col("__h2"))
    )
    # only REPEATED grams can flag a cut (a singleton's occurrence IS its
    # min), so the keep-first table keeps just cnt>=2 hashes — a small
    # fraction of the (mostly-unique) gram population, which lets AQE
    # broadcast the join side.  min(struct) runs as a spill-safe
    # sort-aggregate keyed by the gram hash only: a hot gram's rows are
    # EQUAL keys (linear-time runs for the sorter, disk-backed if huge),
    # then a streaming min — not the row_number window's buffered
    # per-partition ORDER BY that single-tasked hot grams before round 6.
    first = (
        grams.groupBy("__h", "__h2")
        .agg(
            F.count("*").alias("__cnt"),
            F.min(F.struct(doc_col, "pos")).alias("__first"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("__h", "__h2", "__first")
    )
    flagged = (
        grams.join(first, ["__h", "__h2"])
        .filter(F.struct(F.col(doc_col), F.col("pos")) != F.col("__first"))
        .select(doc_col, "pos", (F.col("pos") + k).alias("__end"))
    )
    wd = Window.partitionBy(doc_col).orderBy("pos")
    prev_max_end = F.max("__end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "__island",
        F.sum(
            F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1)
            .otherwise(0)
        ).over(wd),
    )
    spans = (
        islands.groupBy(doc_col, "__island")
        .agg(F.min("pos").alias("b"), F.max("__end").alias("e"))
        .groupBy(doc_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("b", "e"))).alias("__spans")
        )
    )
    joined = documents.select(doc_col, F.col(text_col).alias("__t")).join(
        spans, doc_col, "left"
    )
    sp = F.coalesce("__spans", F.array().cast("array<struct<b:int,e:int>>"))
    # fold kept segments: acc = (chars consumed, cleaned prefix)
    acc0 = F.struct(
        F.lit(0).alias("p"), F.lit("").cast("string").alias("s")
    )
    folded = F.aggregate(
        sp,
        acc0,
        lambda acc, s: F.struct(
            s["e"].alias("p"),
            F.concat(
                acc["s"],
                F.substring(
                    F.col("__t"), acc["p"] + 1, s["b"] - acc["p"]
                ),
            ).alias("s"),
        ),
        lambda acc: F.concat(
            acc["s"],
            F.substring(
                F.col("__t"), acc["p"] + 1, F.length("__t") - acc["p"]
            ),
        ),
    )
    cut_chars = F.aggregate(
        sp, F.lit(0), lambda a, s: a + (s["e"] - s["b"])
    )
    return joined.select(
        doc_col,
        folded.alias("clean_text"),
        F.size(sp).cast("long").alias("n_cut_spans"),
        cut_chars.cast("long").alias("n_cut_chars"),
    )


def _rebuild_text(piece: str, join_sep: str, keep=None):
    """Aggregate: a group's ``piece`` rows joined with ``join_sep`` in
    ``pos`` order, leaving out rows where ``keep`` is false or NULL."""
    row = F.struct("pos", piece)
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(row if keep is None else F.when(keep, row))
            ),
            lambda s: s[piece],
        ),
        join_sep,
    )


def dedup_paragraphs(
    documents: DataFrame,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    text_col: str = "text",
    doc_col: str = "doc_id",
    scope: str = "corpus",
) -> DataFrame:
    """CCNet's paragraph-level dedup (Wenzek et al., LREC'20 §4.1): hash
    every paragraph, keep only the corpus-wide FIRST occurrence of each
    distinct paragraph (first = smallest ``(doc_id, position)``), and
    rebuild each document from its surviving paragraphs in original order.

    ``scope="document"`` restricts the keep-first rule to WITHIN each
    document (RefinedWeb-style intra-doc line dedup: repeated lines
    inside one page collapse, but text repeated across pages survives) —
    the dedup window partitions by ``(doc, hash)`` instead of ``hash``,
    so the shuffle is per-document and embarrassingly parallel.
    Boilerplate (headers, nav bars, license blocks) repeats across pages
    and is deleted everywhere but its first occurrence, while unique prose
    survives — this removes ~70% of raw Common Crawl text before any
    document-level dedup.

    Returns one row per input document:
    ``(doc_col, n_paras, n_kept, dedup_text)`` — ``dedup_text`` is the
    empty string when every paragraph of the document was seen earlier.

    Scale shape: explode to (doc, pos, paragraph) rows; one
    hash-partitioned window (``row_number`` over ``md5(para)`` ordered by
    ``(doc, pos)``) decides winners — the shuffle carries paragraph rows
    exactly once, equivalently to a groupBy on the hash; the rebuild is a
    per-document ``collect_list`` + ``array_sort``, partitioned by doc.
    Nothing is ever all-pairs, and no Python runs anywhere.
    """
    from pyspark.sql import Window

    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be 'corpus' or 'document', got {scope!r}")
    paras = documents.select(
        F.col(doc_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("pos", "__para"),
    ).filter(F.length("__para") > 0)
    part = (
        [F.md5(F.col("__para"))]
        if scope == "corpus"
        else [F.col(doc_col), F.md5(F.col("__para"))]
    )
    w = Window.partitionBy(*part).orderBy(doc_col, "pos")
    kept = (
        paras.withColumn("__rk", F.row_number().over(w))
        .withColumn("__keep", F.col("__rk") == 1)
        .drop("__rk")
    )
    rebuilt = kept.groupBy(doc_col).agg(
        F.count("*").alias("n_paras"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        _rebuild_text("__para", join_sep, F.col("__keep")).alias("dedup_text"),
    )
    return documents.select(doc_col).join(rebuilt, doc_col, "left").select(
        doc_col,
        F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )

def dedup_paragraphs_incremental(
    new_docs: DataFrame,
    para_index: DataFrame | None,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The append workflow for :func:`dedup_paragraphs`: dedup a NEW batch
    against a persisted paragraph-hash index instead of re-hashing the
    whole corpus per ingest (the naive alternative at 100 TB).

    ``para_index``: single-column ``(para_hash)`` rows for every
    paragraph already accepted into the corpus (pass ``None`` for the
    first batch).  A new paragraph survives iff its hash is absent from
    the index AND it is the first occurrence within this batch (same
    ``(doc_id, pos)`` window rule as the batch operator, so
    batch-by-batch processing in doc-id order reproduces the full-corpus
    result exactly — parity-tested).

    Returns ``(rebuilt, new_hashes)`` — ``new_hashes`` is the DELTA of
    paragraph hashes this batch adds (distinct, disjoint from the given
    index by construction): APPEND it to the persisted index (ideally
    parquet bucketed by ``para_hash``) between ingests.  An append-only
    delta keeps per-ingest index maintenance O(batch), never O(corpus).
    The index probe is an anti-join on the hash — shuffle bounded by
    paragraph rows, or a broadcast when the index is still small.
    """
    from pyspark.sql import Window

    paras = new_docs.select(
        F.col(doc_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("pos", "__para"),
    ).filter(F.length("__para") > 0)
    hashed = paras.withColumn("para_hash", F.md5("__para"))
    if para_index is not None:
        fresh = hashed.join(para_index, "para_hash", "left_anti")
    else:
        fresh = hashed
    w = Window.partitionBy("para_hash").orderBy(doc_col, "pos")
    kept_rows = (
        fresh.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    # rebuild against ALL of the batch's paragraphs so n_paras counts the
    # original segmentation, with survivors flagged by a null-safe join
    flagged = hashed.join(
        kept_rows.select(doc_col, "pos", F.lit(True).alias("__keep")),
        [doc_col, "pos"],
        "left",
    )
    rebuilt = flagged.groupBy(doc_col).agg(
        F.count("*").alias("n_paras"),
        F.sum(F.coalesce(F.col("__keep").cast("long"), F.lit(0))).alias("n_kept"),
        _rebuild_text("__para", join_sep, F.col("__keep")).alias("dedup_text"),
    )
    out = new_docs.select(doc_col).join(rebuilt, doc_col, "left").select(
        doc_col,
        F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )
    new_hashes = kept_rows.select("para_hash").distinct()
    return out, new_hashes


def boilerplate_lines(
    documents: DataFrame,
    min_docs: int = 3,
    sep_regex: str = "\n+",
    text_col: str = "text",
    doc_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """The static pass of C4-style boilerplate removal (Raffel et al.,
    JMLR'20 §2.2 drop repeated lines; RefinedWeb line-wise filtering):
    find every line that occurs in at least ``min_docs`` DISTINCT
    documents — within the same ``group_col`` (typically the domain/host,
    where nav bars and cookie banners repeat) when given, corpus-wide
    otherwise.

    Returns ``(group_col?, line_hash, n_docs)`` — a table bounded by the
    number of distinct *repeated* lines, far smaller than the corpus.
    Persist it once and feed :func:`remove_boilerplate`; because the
    removal side is a join against this static table plus row-local
    rebuild, it is stream-transparent (stream-static join), mirroring the
    :func:`~..sampling.dsir_llr_table` static/scoring split.

    Scale shape: one explode (narrow) and one hash-partitioned groupBy
    whose partial aggregation dedups ``(line, doc)`` map-side.  Nothing
    is all-pairs and no Python runs.
    """
    keys = ([group_col] if group_col else []) + ["line_hash"]
    lines = documents.select(
        *([F.col(group_col)] if group_col else []),
        F.col(doc_col),
        F.explode(F.split(F.col(text_col), sep_regex)).alias("__line"),
    ).filter(F.length("__line") > 0)
    return (
        lines.withColumn("line_hash", F.md5("__line"))
        .groupBy(*keys)
        .agg(F.countDistinct(doc_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    documents: DataFrame,
    boilerplate: DataFrame | None = None,
    min_docs: int = 3,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    text_col: str = "text",
    doc_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Remove every occurrence of boilerplate lines from every document
    and rebuild the text in original line order.

    Unlike :func:`dedup_paragraphs` (CCNet keep-FIRST-occurrence,
    corpus-wide), this is the C4/RefinedWeb rule: a line frequent within
    its group (``min_docs`` distinct docs) is presumed template chrome —
    menus, footers, license blocks — and deleted EVERYWHERE, including
    its first occurrence.  ``boilerplate``: a precomputed
    :func:`boilerplate_lines` table (built here when ``None``).

    Returns one row per input document:
    ``(doc_col, n_lines, n_kept, clean_text)``.

    Scale shape: the line set is derived once (one groupBy); tagging is
    an equijoin of line rows against that much-smaller table on
    ``(group, line_hash)`` — broadcast when it fits, shuffle-partitioned
    otherwise, never all-pairs; the rebuild is one groupBy(doc) with an
    order-restoring ``array_sort``.  With a persisted ``boilerplate``
    table the corpus is scanned exactly once.
    """
    if boilerplate is None:
        boilerplate = boilerplate_lines(
            documents, min_docs, sep_regex, text_col, doc_col, group_col
        )
    keys = ([group_col] if group_col else []) + ["line_hash"]
    lines = documents.select(
        *([F.col(group_col)] if group_col else []),
        F.col(doc_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("pos", "__line"),
    ).filter(F.length("__line") > 0)
    flagged = (
        lines.withColumn("line_hash", F.md5("__line"))
        .join(
            boilerplate.select(*keys, F.lit(True).alias("__bp")),
            keys,
            "left",
        )
        .withColumn("__keep", F.col("__bp").isNull())
    )
    rebuilt = flagged.groupBy(doc_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        _rebuild_text("__line", join_sep, F.col("__keep")).alias("clean_text"),
    )
    return documents.select(doc_col).join(rebuilt, doc_col, "left").select(
        doc_col,
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )

def lsh_tuning(
    threshold: float,
    n_hashes: int,
    fn_weight: float = 1.0,
    fp_weight: float = 1.0,
) -> tuple[int, int]:
    """Pick ``(n_bands, rows_per_band)`` for MinHash LSH at a target
    Jaccard ``threshold`` (the standard S-curve analysis, Leskovec/
    Rajaraman/Ullman MMDS §3.4): candidate probability at similarity s is
    ``1 - (1 - s^r)^b``; minimize the weighted integral of false
    positives (area under the curve below the threshold) plus false
    negatives (area above) over the factorizations of ``n_hashes``.

    Purely analytic and driver-side — call it once to parameterize
    :func:`minhash_candidates` / :func:`near_dup_pairs` instead of
    hand-guessing band counts; weights bias the trade (e.g.
    ``fn_weight=10`` when recall matters more than verification cost).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best, best_cost = None, float("inf")
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        steps = 1000
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        cost = fp_weight * fp + fn_weight * fn
        if cost < best_cost:
            best, best_cost = (b, r), cost
    return best


def fingerprint_overlap_pairs(
    documents: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    max_docs_per_fp: int = 10,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style near-dup candidates from winnowing fingerprints
    (Schleimer et al., SIGMOD'03): two documents sharing >= ``min_shared``
    selected fingerprints are flagged, with
    ``overlap = shared / min(|A|, |B|)`` as the asymmetric-friendly score.
    Fingerprints in more than ``max_docs_per_fp`` documents are dropped
    first — ubiquitous substrings (boilerplate, common phrases) carry no
    pair signal and are exactly what would otherwise make the self-join
    quadratic in hot keys (the same stop-key discipline MOSS applies).

    NOTE on the score's denominator: ``|A|`` and ``|B|`` are the
    POST-FILTER fingerprint counts (after the ``max_docs_per_fp`` drop) —
    the MOSS convention, since both ``shared`` and the sizes then live in
    the same filtered universe.  The score is a match-evidence ratio, not
    absolute document coverage, and its values shift as
    ``max_docs_per_fp`` changes.

    Complements MinHash-LSH: winnowing guarantees any shared run of
    ``k + window - 1`` chars yields a shared fingerprint (position-local
    evidence), while MinHash bounds whole-set resemblance.

    Scale shape: fingerprints are ~1/``window`` of k-gram positions, the
    frequency filter bounds every join key's fan-out by
    ``max_docs_per_fp``, and the pair aggregation is map-side combinable;
    shuffle volume is capped at (filtered fp rows) ×
    ``max_docs_per_fp``.
    """
    from pyspark.sql import Window

    from text_extensions_for_pandas_spark.functions.text import (
        fingerprint_rows,
    )

    fps = fingerprint_rows(documents, k, window, text_col, doc_col)
    # stop-key filter via count-over-window on the fp shuffle: the former
    # groupBy + left-semi-join evaluated ``fps`` — an md5 per character
    # position, the dominant compute here — TWICE (once to count, once to
    # probe) and paid two shuffles on the same key.  The window keeps one
    # evaluation and one exchange; its per-key fan-in equals what the
    # semi-join's fp-keyed shuffle already had, so the skew exposure is
    # unchanged (ubiquitous keys are exactly what the filter then drops).
    # persist, not localCheckpoint: the filtered fp rows feed both the
    # per-doc counts and the pair join, and a checkpoint would hide the
    # upstream plan from the repo's plan audits.  Like near_dup_pairs'
    # shingle persist, the cache is session-scoped with no unpersist
    # handle — MEMORY_AND_DISK blocks are LRU-evictable, and callers
    # running many corpora through one session should spark.catalog
    # .clearCache() between them
    wfp = Window.partitionBy("fp")
    ff = (
        fps.withColumn("__nd", F.count(F.lit(1)).over(wfp))
        .filter(F.col("__nd") <= max_docs_per_fp)
        .drop("__nd")
        .persist()
    )
    cnt = ff.groupBy(doc_col).agg(F.count("*").alias("__c"))
    a = ff.select(F.col(doc_col).alias("doc_a"), "fp")
    b = ff.select(F.col(doc_col).alias("doc_b"), F.col("fp").alias("__fpb"))
    pairs = (
        a.join(b, (F.col("fp") == F.col("__fpb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    ca = cnt.select(F.col(doc_col).alias("doc_a"), F.col("__c").alias("__ca"))
    cb = cnt.select(F.col(doc_col).alias("doc_b"), F.col("__c").alias("__cb"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            F.round(
                F.col("shared") / F.least(F.col("__ca"), F.col("__cb")), 6
            ).alias("overlap"),
        )
    )


# --------------------------------------------------------------------------
# Durable LSH band index: cross-dump near-dup state as an on-disk artifact
# --------------------------------------------------------------------------

def write_band_index(
    documents: DataFrame,
    path: str,
    shingle_n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 4,
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_hash_buckets: int = 0,
) -> None:
    """Materialize the corpus' LSH band signatures as an on-disk index —
    the text-dedup twin of ``similarity.write_ivfpq_index``: the corpus
    is shingled/hashed ONCE, and every later crawl dump probes and
    appends signatures instead of re-hashing 100 TB per snapshot.

    Layout: ``{path}/bands`` — :func:`lsh_bands` rows ``(doc_id, band,
    band_hash)`` written ``partitionBy(band, bucket)`` where ``bucket =
    pmod(xxhash64(band_hash), n_hash_buckets)``: the bucket column is a
    pure function of the join key, so a probe that includes it in the
    equijoin gives Spark a dynamic-partition-pruning handle — a SMALL
    incoming batch (the continuous-ingest case) touches only its
    buckets' directories instead of scanning the whole corpus-sized
    index; a full-dump probe degrades gracefully to reading everything,
    which it must anyway.  Default OFF (flat layout), and measurements
    say leave it off: bucketing LOSES at every scale probed — 80k docs
    (probe 1.15s flat vs 1.37s @64 / 2.55s @256) and 1.28M docs (2.1s
    flat vs 8.6s @256; build 28% slower) — the many small partition
    directories cost more than the pruning saves.  Consider it only
    when a single band's directory reaches many LARGE files (order
    100M+ rows), and re-measure there first (BASELINE.md).  ``{path}/meta`` — one row pinning
    ``(shingle_n, n_hashes, rows_per_band, n_hash_buckets)`` so
    probe/append can never silently mix parameters or bucket layouts
    (mismatched signatures join as pure noise; a mismatched bucketing
    would silently miss candidates)."""
    bands = lsh_bands(
        minhash_signatures(
            doc_shingles(
                documents, shingle_n, text_col, doc_col, distinct=False
            ),
            n_hashes,
            doc_col,
        ),
        rows_per_band,
        doc_col,
    )
    part_cols = ["band"]
    if n_hash_buckets:  # 0 = flat legacy layout, no bucket column
        bands = bands.withColumn(
            "bucket", F.pmod(F.xxhash64("band_hash"), F.lit(n_hash_buckets))
        )
        part_cols.append("bucket")
    # cluster the write by the partition columns PLUS a deterministic
    # doc-hash salt: bare repartition(band) would funnel the whole
    # corpus-sized signature table into n_bands tasks (default layout:
    # n_bands = n_hashes/rows_per_band = 2 — a straggler/OOM at scale,
    # ADVICE r10).  The salt spreads each band over up to
    # spark.sql.shuffle.partitions writers (scale-adaptive, not a local
    # constant: AQE coalesces the mostly-empty groups at small scale back
    # to few tasks, so fixture-scale file counts stay small, while a
    # corpus-scale build keeps full write parallelism).  Each band
    # directory gets one file per holding task either way — bounded by
    # the salt count, never by (shuffle partitions × bands).
    bands.repartition(
        *part_cols, F.pmod(F.xxhash64(F.col(doc_col)), F.lit(_write_salt(bands)))
    ).write.mode("overwrite").partitionBy(*part_cols).parquet(f"{path}/bands")
    spark = documents.sparkSession
    local_frame(
        spark,
        [(shingle_n, n_hashes, rows_per_band, n_hash_buckets)],
        "shingle_n int, n_hashes int, rows_per_band int, "
        "n_hash_buckets int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _write_salt(df: DataFrame) -> int:
    """Distinct doc-hash salt values for clustered ``partitionBy`` writes:
    the session's configured shuffle parallelism — the cluster-size intent
    knob, not a hard-coded local core count.  Bounds files-per-directory
    at the salt count while letting a corpus-scale write use every
    writer; AQE coalesces the small groups away at fixture scale."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def _band_index_params(spark, path: str) -> tuple[int, int, int, int]:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    # indexes written before the bucketed layout carry no bucket count
    buckets = (
        int(m["n_hash_buckets"]) if "n_hash_buckets" in m.__fields__ else 0
    )
    return (
        int(m["shingle_n"]),
        int(m["n_hashes"]),
        int(m["rows_per_band"]),
        buckets,
    )


def _bands_of(documents, path_params, text_col, doc_col):
    shingle_n, n_hashes, rows_per_band, n_buckets = path_params
    bands = lsh_bands(
        minhash_signatures(
            doc_shingles(
                documents, shingle_n, text_col, doc_col, distinct=False
            ),
            n_hashes,
            doc_col,
        ),
        rows_per_band,
        doc_col,
    )
    if n_buckets:
        bands = bands.withColumn(
            "bucket", F.pmod(F.xxhash64("band_hash"), F.lit(n_buckets))
        )
    # stamp the parameters so a precomputed frame handed back to
    # probe/append can be validated against the index meta (same contract
    # as doc_shingles' shingle_n/mode metadata)
    return bands.withMetadata(
        "band_hash",
        {
            "shingle_n": shingle_n,
            "n_hashes": n_hashes,
            "rows_per_band": rows_per_band,
            "n_hash_buckets": n_buckets,
        },
    )


def _validated_bands(bands: DataFrame, params, doc_col: str) -> DataFrame:
    """Check a caller-supplied precomputed bands frame against the
    index's pinned parameters.  Only frames produced by :func:`_bands_of`
    carry the metadata; anything else (or a parameter mismatch — which
    would silently join as noise) is rejected."""
    meta = bands.schema["band_hash"].metadata or {}
    expect = dict(
        zip(("shingle_n", "n_hashes", "rows_per_band", "n_hash_buckets"), params)
    )
    got = {k: meta.get(k) for k in expect}
    if got != expect:
        raise ValueError(
            f"precomputed bands were built with {got}, but the index at "
            f"this path pins {expect}; recompute them via compute_band_signatures"
        )
    need = {doc_col, "band", "band_hash"} | (
        {"bucket"} if params[3] else set()
    )
    missing = need - set(bands.columns)
    if missing:
        raise ValueError(f"precomputed bands missing columns {sorted(missing)}")
    return bands


def compute_band_signatures(
    spark,
    documents: DataFrame,
    path: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """The batch's band signatures under the index's pinned parameters —
    the shared input of the probe-then-append composition.  Computing
    them here once (and persisting) instead of letting probe and append
    each re-shingle the batch halves the signature passes of
    dedup-on-arrival: probe the dump, drop its near-dups, append the
    survivors — one hash pass over the incoming bytes, which at 100 TB
    is the difference that matters."""
    return _bands_of(
        documents, _band_index_params(spark, path), text_col, doc_col
    )


def probe_band_index(
    spark,
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates of ``new_docs`` against everything the index
    at ``path`` has seen — one signature pass over the NEW batch only,
    an equijoin on ``(band, band_hash)`` against the stored bands, and
    a self-pair filter (an id probing an index that already contains it
    matches itself trivially).  Returns distinct ``(new_doc,
    existing_doc)``; verify exact Jaccard with
    :func:`jaccard_for_pairs` where the decision matters.  Parameters
    come from the index's meta — callers cannot drift them.  Pass a
    persisted :func:`compute_band_signatures` frame as ``bands`` when
    the same batch is also being appended, so its signatures are
    computed once (validated against the index meta, never trusted
    blindly).  NOTE: when ``bands`` is given it REPLACES the signature
    pass entirely — ``new_docs`` is not consulted, so the frame must
    have been computed from this same batch (the parameter-metadata
    check catches drifted index params, not a swapped batch).

    On a bucket-partitioned index the stored ``bucket`` partition
    column joins against the batch's recomputed bucket, handing Spark a
    dynamic-partition-pruning opportunity: a small incoming batch reads
    only the band/bucket directories it can possibly match (the
    continuous-ingest shape), while a full-dump probe degrades to the
    full scan it needs anyway."""
    params = _band_index_params(spark, path)
    n_buckets = params[3]
    new_bands = (
        _validated_bands(bands, params, doc_col)
        if bands is not None
        else _bands_of(new_docs, params, text_col, doc_col)
    )
    sel = [
        F.col(doc_col).alias("new_doc"),
        F.col("band").alias("__band_n"),
        F.col("band_hash").alias("__bh_n"),
    ]
    idx_cols = [F.col(doc_col).alias("existing_doc"), "band", "band_hash"]
    if n_buckets:
        sel.append(F.col("bucket").alias("__bk_n"))
        idx_cols.append("bucket")
    new_bands = new_bands.select(*sel)
    idx = spark.read.parquet(f"{path}/bands").select(*idx_cols)
    cond = (F.col("band") == F.col("__band_n")) & (
        F.col("band_hash") == F.col("__bh_n")
    )
    if n_buckets:
        cond = cond & (F.col("bucket") == F.col("__bk_n"))
    return (
        new_bands.join(idx, cond)
        .filter(F.col("new_doc") != F.col("existing_doc"))
        .select("new_doc", "existing_doc")
        .distinct()
    )


def append_to_band_index(
    spark,
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    bands: DataFrame | None = None,
) -> None:
    """Append a new dump's band signatures into the index — one pass
    over the new batch with the index's pinned parameters, existing
    partition files untouched, probes see the union immediately.  Same
    contract as ``append_to_ivfpq_index``: ids must be disjoint from
    the indexed corpus (content-hash ids make retries collide into the
    same id — detectable, not silently wrong), and a blindly retried
    append duplicates rows (plain batch append, not exactly-once).
    The probe-then-append composition IS dedup-on-arrival: probe the
    incoming dump, drop its near-dups, append only the survivors —
    and pass the same :func:`compute_band_signatures` frame (persisted)
    as ``bands`` to both calls so the batch is shingled/hashed ONCE,
    not once per call.  NOTE: when ``bands`` is given it replaces the
    signature pass — ``new_docs`` is not consulted, so the frame must
    come from this same batch (metadata validation catches drifted
    index params, not a swapped batch)."""
    params = _band_index_params(spark, path)
    part_cols = ["band", "bucket"] if params[3] else ["band"]
    new_bands = (
        _validated_bands(bands, params, doc_col)
        if bands is not None
        else _bands_of(new_docs, params, text_col, doc_col)
    )
    new_bands.select(doc_col, "band", "band_hash", *part_cols[1:]).repartition(
        # doc-hash salt keeps batch-scale appends from funneling into
        # n_bands writer tasks (same rationale as write_band_index)
        *part_cols, F.pmod(F.xxhash64(F.col(doc_col)), F.lit(_write_salt(new_bands)))
    ).write.mode("append").partitionBy(*part_cols).parquet(f"{path}/bands")
