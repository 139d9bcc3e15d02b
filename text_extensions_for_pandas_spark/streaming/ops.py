"""Structured Streaming surface.

The reference library has no streaming story at all (SURVEY.md §2.6): every
operator is an eager batch function.  This module shows that the engine's
operators are *stream-transparent* — the span/extract expression layer is
stateless column logic, so the exact same functions run unchanged under
``readStream``; only aggregations need watermarks and only genuinely
stateful per-key logic needs ``applyInPandasWithState``.

Scale notes:

* Stateless extract (regex/dict over a document stream) is embarrassingly
  parallel — no state store, no shuffle beyond the source's own
  partitioning.
* Windowed aggregations declare ``withWatermark`` so the state store evicts
  closed windows — without it, state grows unboundedly at 100 TB/day.
* ``session_window`` is Spark's native session support (dynamic gap merge
  in the state store) — far cheaper than the batch lag/cumsum
  sessionization when the input is unbounded.
* Streaming dedup uses ``dropDuplicatesWithinWatermark`` so the seen-key
  state is bounded by the watermark horizon, not corpus size.

Every transformation here takes and returns DataFrames, so each can be unit
tested by applying it to a *batch* frame (Spark treats the plan
identically) and end-to-end tested with a file source + ``availableNow``
trigger (see ``tests/test_streaming.py``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from text_extensions_for_pandas_spark.session import local_frame

EVENTS_DDL = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
DOCUMENTS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the synthetic events table.

    Streaming sources need a declared schema, so sniff the batch-visible
    physical type of ``ts`` first (it has shipped as both nano-long and
    timestamp[us]; see functions/timestamps.py), then normalize exactly
    like the batch loader so batch/stream parity tests compare equals.
    """
    from text_extensions_for_pandas_spark.functions.timestamps import (
        normalize_event_ts,
    )

    ts_type = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    ).get("ts", "timestamp")
    raw = (
        spark.readStream.schema(EVENTS_DDL.replace("ts long", f"ts {ts_type}"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_DDL)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def read_wet_stream(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("conversion",),
    min_chars: int = 1,
    max_files_per_trigger: int | None = None,
    keep_http_statuses: tuple[int, ...] | None = None,
) -> DataFrame:
    """File-arrival streaming twin of
    :func:`..sources.corpus.read_wet_corpus`: WET/WARC shards landing in
    ``path`` become micro-batches of canonical ``documents`` rows
    (``doc_id, text, source, n_chars, url, warc_date, record_id``).

    Same scale shape as the batch reader — the FILE is the unit of
    parallelism (``binaryFile`` stream source) and record parsing is the
    IDENTICAL Arrow-batched ``mapInPandas`` island
    (``corpus._wet_parse_island``), so batch/stream results agree by
    construction.  Compose with :func:`streaming_prep_ingest` for a
    continuous crawl → prepared-corpus loop, or with
    :func:`streaming_dedup_exact` / :func:`streaming_cms_ingest` like any
    other documents stream.  Content-hash doc ids keep replays and
    re-partitions consistent; each task holds one decompressed shard
    (the batch reader's documented memory bound applies unchanged).
    """
    from text_extensions_for_pandas_spark.sources.corpus import (
        WET_RAW_SCHEMA,
        _wet_documents,
        _wet_parse_island,
    )

    # streaming file sources need a declared schema; binaryFile's is fixed
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(path).select("path", "content")
    raw = files.mapInPandas(
        _wet_parse_island(record_types, min_chars, keep_http_statuses),
        WET_RAW_SCHEMA,
    )
    return _wet_documents(raw)


def read_wat_stream(
    spark: SparkSession,
    path: str,
    link_paths: tuple[str, ...] = ("A@/href",),
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival streaming twin of
    :func:`..sources.corpus.read_wat_links`: WAT shards landing in
    ``path`` become micro-batches of per-link rows ``(url, link_url,
    anchor, source, warc_date, record_id)``.

    Same construction as :func:`read_wet_stream` — the IDENTICAL parse
    island as the batch reader (``corpus._wat_parse_island``), so
    batch/stream link sets agree by construction.  Compose with
    :func:`streaming_link_graph` for incrementally-maintained host-edge
    counts without ever parsing HTML, the continuous version of the
    WAT → ``link_graph_from_edges`` batch path."""
    from text_extensions_for_pandas_spark.sources.corpus import (
        WAT_LINKS_SCHEMA,
        _wat_parse_island,
    )

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(_wat_parse_island(link_paths), WAT_LINKS_SCHEMA)


def read_cdx_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival streaming twin of
    :func:`..sources.cdx.read_cdx_index`: CDXJ index shards landing in
    ``path`` become micro-batches of capture rows — the continuous form
    of select-before-scan, where each newly published index shard is
    filtered (``select_captures``' row-local predicates run unchanged on
    streams) and its survivors feed a ranged-fetch stage downstream.

    The IDENTICAL pure-Column projection as the batch reader
    (``cdx.cdx_project_lines`` — ``split`` + ``from_json``, no Python
    island), so batch/stream captures agree by construction.  The
    stateful selection stages (latest-per-URL, digest keep-first) are
    batch-shaped aggregates; on a stream, run the digest dedup as
    :func:`streaming_dedup_exact`-style keyed state or window the
    selection per micro-batch with ``foreachBatch``."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    from text_extensions_for_pandas_spark.sources.cdx import (
        cdx_project_lines,
    )

    return cdx_project_lines(reader.text(path))


# ---------------------------------------------------------------------------
# Stateless: the batch extract operators run unchanged on streams
# ---------------------------------------------------------------------------

def streaming_extract_regex(documents: DataFrame, pattern: str) -> DataFrame:
    """Regex span extraction over a document stream — the *batch* operator
    applied verbatim; stateless, so no watermark needed."""
    from text_extensions_for_pandas_spark.operators.extract import extract_regex

    return extract_regex(documents, pattern)


def streaming_html_extract(documents: DataFrame, **kwargs) -> DataFrame:
    """HTML→text extraction over a raw-crawl stream — the *batch*
    operator applied verbatim (a stateless Arrow-batched projection, so
    no watermark or state store): compose
    ``read_wet_stream(..., record_types=("response",))`` →
    ``streaming_html_extract`` → :func:`streaming_prep_ingest` for a
    continuous raw-HTML crawl loop."""
    from text_extensions_for_pandas_spark.operators.html import (
        extract_html_documents,
    )

    return extract_html_documents(documents, **kwargs)


def streaming_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "text",
    drop_self: bool = True,
) -> DataFrame:
    """Host-level link-graph edge counts over a raw-HTML crawl stream —
    the batch operator's parse/explode stages applied verbatim (both
    stateless projections) with the same count aggregate, which on a
    stream runs as an incrementally-maintained state-store aggregation:
    in output mode ``update``/``complete`` the sink sees running
    ``(src_host, dst_host, n_links)`` totals that converge to exactly
    the batch :func:`~..operators.html.link_graph` answer over the same
    shards (edge keys are host pairs — bounded state, no watermark
    needed because host-pair cardinality, unlike event-time windows,
    does not grow with time).  Feed a periodic snapshot to
    :func:`~..operators.graph.pagerank` for a refreshed authority
    prior; PageRank itself is iterative and stays a batch job by
    design."""
    from text_extensions_for_pandas_spark.operators.html import link_graph

    return link_graph(
        pages, url_col=url_col, html_col=html_col, drop_self=drop_self
    )


def streaming_link_graph_from_edges(
    links: DataFrame,
    src_url_col: str = "url",
    dst_url_col: str = "link_url",
    drop_self: bool = True,
) -> DataFrame:
    """:func:`streaming_link_graph` for PER-LINK streams — the
    :func:`read_wat_stream` companion: host-edge counts incrementally
    maintained from WAT pre-extracted links, no HTML parse anywhere in
    the continuous path.  Same stateless-projections + count-aggregate
    shape (bounded host-pair state, no watermark needed); converges to
    exactly the batch
    :func:`~..operators.html.link_graph_from_edges` answer over the
    same shards."""
    from text_extensions_for_pandas_spark.operators.html import (
        link_graph_from_edges,
    )

    return link_graph_from_edges(
        links, src_url_col=src_url_col, dst_url_col=dst_url_col,
        drop_self=drop_self,
    )


def streaming_extract_dict(documents: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Gazetteer extraction over a document stream.  Uses the *row-wise*
    matcher: the batch ``extract_dict`` aggregates match positions across
    token rows (a groupBy — needs a watermark on a stream), while
    ``extract_dict_rowwise`` is stateless per-document logic + a broadcast
    stream-static join, which streams without state.  Per document it
    splits the text into native token arrays, probes the dictionary with
    each token as an entry's first token, and computes char offsets only
    for the matches."""
    from text_extensions_for_pandas_spark.operators.extract import (
        extract_dict_rowwise,
    )

    return extract_dict_rowwise(documents, dictionary)


# ---------------------------------------------------------------------------
# Watermarked window aggregations
# ---------------------------------------------------------------------------

def streaming_hourly_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windows: event counts + exact value sum per
    (window, event_type); late rows beyond the watermark are dropped and
    closed windows leave the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sliding_value(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window mean value per event_type (overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)"))
                / F.count("*")
            ).cast("double").alias("mean_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "mean_value",
            "n_events",
        )
    )


def streaming_session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user sessions via native ``session_window`` (gap-merge handled in
    the state store)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup_exact(
    documents: DataFrame, ts_col: str | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup on ``md5(text)``.

    With an event-time column the seen-hash state is bounded by
    ``dropDuplicatesWithinWatermark``; without one (pure corpus replay) it
    falls back to unbounded ``dropDuplicates`` — fine for bounded backfills,
    not for true unbounded streams.
    """
    hashed = documents.withColumn("text_hash", F.md5("text"))
    if ts_col is not None:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["text_hash"]
        )
    return hashed.dropDuplicates(["text_hash"])


def streaming_extract_consolidated(
    documents: DataFrame, entries: list[str]
) -> DataFrame:
    """Gazetteer extract + left-to-right consolidate on a document stream —
    the whole spanner pipeline as stateless per-row column logic
    (``extract_dict_consolidated_rowwise``: native token arrays, one
    ``filter`` lambda per entry, consolidation in token units, char offsets
    for the kept matches only), so it runs identically on batch and stream
    with no watermark and no state store."""
    from text_extensions_for_pandas_spark.operators.extract import (
        extract_dict_consolidated_rowwise,
    )

    return extract_dict_consolidated_rowwise(documents, entries)


def streaming_error_followups(
    events: DataFrame,
    first_type: str = "error",
    second_type: str = "click",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream self-join: for every ``first_type`` event, the same
    user's ``second_type`` events in the following ``within`` interval.

    Both sides carry watermarks and the join condition bounds the time
    range, so the state store can evict rows once the other side's
    watermark passes — the required shape for an unbounded stream-stream
    join (unbounded conditions would accumulate state forever).
    """
    a = (
        events.filter(F.col("event_type") == first_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("a_event"),
            F.col("ts").alias("a_ts"),
        )
    )
    b = (
        events.filter(F.col("event_type") == second_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_event"),
            F.col("ts").alias("b_ts"),
        )
    )
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        F.col("a_user").alias("user_id"), "a_event", "b_event", "a_ts", "b_ts"
    )


# ---------------------------------------------------------------------------
# Custom stateful operator
# ---------------------------------------------------------------------------

_RUNNING_SCHEMA = (
    "user_id long, n_events long, total_value double, max_value double"
)
_STATE_SCHEMA = "n long, total double, mx double"


def _running_stats_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running aggregate kept in the state store across
    micro-batches — the shape any custom streaming accumulator takes
    (counts here; a real pipeline would track e.g. per-source token budgets
    or rolling quality scores)."""
    (n, total, mx) = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_value": round(total, 2),
                "max_value": mx,
            }
        ]
    )


def streaming_user_running_stats(events: DataFrame) -> DataFrame:
    """Arbitrary stateful per-user stats via ``applyInPandasWithState`` —
    emits the updated running aggregate for every user seen in each
    micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_stats_fn,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_minhash(
    documents: DataFrame, ts_col: str | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming near-duplicate filter: drop documents whose full MinHash
    signature was already seen (catches boilerplate/near-identical docs
    that exact-hash dedup misses).  Signature computed per row (no
    groupBy); with an event-time column the seen-signature state is
    bounded by the watermark.
    """
    from text_extensions_for_pandas_spark.operators.dedup import (
        minhash_signature_col,
    )

    sig = documents.withColumn(
        "__sig", F.concat_ws("", minhash_signature_col(F.col("text")))
    )
    if ts_col is not None:
        return sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__sig"]
        )
    return sig.dropDuplicates(["__sig"])


def streaming_decontaminate(
    documents: DataFrame, bloom: dict, shingle_n: int = 5
) -> DataFrame:
    """Drop stream documents that share any word n-gram with the eval
    corpus captured in ``bloom``
    (:func:`~text_extensions_for_pandas_spark.operators.dedup.eval_shingle_bloom`).

    The Bloom probe is a pure row-local expression — no join, no state
    store, no watermark — so decontamination costs the same as any scalar
    filter on an unbounded stream; the filter bitset rides along as a
    literal in the plan (benchmark-sized, ~1 MB per million eval n-grams).
    """
    from text_extensions_for_pandas_spark.operators.dedup import contaminated

    return documents.filter(~contaminated(F.col("text"), bloom, shingle_n))


def streaming_distinct_sketches(
    documents: DataFrame, group_col: str = "lang", value_col: str = "source"
) -> DataFrame:
    """Per-group distinct-count HLL sketches over a document stream
    (complete/update output modes).  The state per group is the fixed-size
    sketch — bounded regardless of stream length — and the final sketch is
    IDENTICAL to a batch :func:`..operators.sketch.hll_sketches` over the
    same rows (asserted in test_streaming.py), because HLL union is
    order-insensitive.  The streaming twin of the batch distinct-rollup
    tier: corpus-wide distinct counts that stay current as shards land.
    """
    from text_extensions_for_pandas_spark.operators.sketch import DEFAULT_LG_K

    return (
        documents.groupBy(group_col)
        .agg(F.hll_sketch_agg(value_col, F.lit(DEFAULT_LG_K)).alias("sketch"))
        .withColumn("estimate", F.hll_sketch_estimate("sketch").cast("bigint"))
    )


def streaming_incremental_dedup(
    documents: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    shingle_n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 4,
    doc_col: str = "doc_id",
    text_col: str = "text",
):
    """Ingest-time near-dup dedup as a ``foreachBatch`` loop: each
    micro-batch probes the PERSISTED LSH band index for near-duplicates of
    everything already accepted, writes only the survivors, and appends
    their bands to the index — so an arriving shard is hashed once and the
    accepted corpus is never re-signatured (the
    :func:`..operators.dedup.incremental_candidates` append workflow, made
    continuous).

    State is the parquet band index itself (restart-safe: the checkpoint
    replays unfinished batches; the left-anti probe makes re-processing a
    batch idempotent for dedup decisions).  Within-batch duplicates are
    also dropped (batch-local LSH candidates, lowest doc id survives).
    Returns the started-not-yet StreamingQuery writer — call
    ``.start()``/``awaitTermination`` at the ingest site.
    """
    from pyspark.errors import AnalysisException

    from text_extensions_for_pandas_spark.operators.dedup import (
        doc_shingles,
        incremental_candidates,
        lsh_bands,
        minhash_candidates,
        minhash_signatures,
    )

    def _bands(df):
        return lsh_bands(
            minhash_signatures(
                doc_shingles(df, shingle_n, text_col, doc_col, distinct=False),
                n_hashes,
                doc_col,
            ),
            rows_per_band,
            doc_col,
        )

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()
        # 1. drop within-batch near-dups (keep the lowest doc id per pair)
        pairs = minhash_candidates(
            batch_df, shingle_n=shingle_n, n_hashes=n_hashes,
            rows_per_band=rows_per_band, text_col=text_col, doc_col=doc_col,
        )
        self_dupes = pairs.select(
            F.greatest("doc_a", "doc_b").alias(doc_col)
        ).distinct()
        batch_kept = batch_df.join(self_dupes, doc_col, "left_anti")
        # 2. probe the persisted index (bootstrap: no index yet)
        try:
            index = spark.read.parquet(index_path)
            cands = incremental_candidates(
                batch_kept, index, shingle_n=shingle_n, n_hashes=n_hashes,
                rows_per_band=rows_per_band, text_col=text_col, doc_col=doc_col,
            )
            dupes = cands.select(F.col("new_doc").alias(doc_col)).distinct()
            kept = batch_kept.join(dupes, doc_col, "left_anti")
        except AnalysisException:
            kept = batch_kept
        kept = kept.localCheckpoint()
        # 3. accept survivors; extend the index with their bands
        kept.write.mode("append").parquet(out_path)
        _bands(kept).write.mode("append").parquet(index_path)

    return (
        documents.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_paragraph_dedup(
    documents: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    doc_col: str = "doc_id",
    text_col: str = "text",
):
    """CCNet paragraph dedup as an ingest loop: each micro-batch keeps only
    paragraphs never seen before (anti-join against the persisted
    paragraph-hash index), writes the rebuilt documents, and appends the
    newly accepted hashes — :func:`..operators.dedup.
    dedup_paragraphs_incremental` made continuous.  Arrival-order
    keep-first (earlier batches win; within a batch, smallest
    ``(doc_id, pos)``), which is exactly CCNet's semantics over a rolling
    crawl.

    State is the parquet hash index (restart-safe: checkpoint replay plus
    the anti-join make re-processing idempotent).  Returns the writer —
    call ``.start()`` at the ingest site.
    """
    from pyspark.errors import AnalysisException

    from text_extensions_for_pandas_spark.operators.dedup import (
        dedup_paragraphs_incremental,
    )

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()
        try:
            index = spark.read.parquet(index_path)
        except AnalysisException:
            index = None
        rebuilt, new_hashes = dedup_paragraphs_incremental(
            batch_df, index, sep_regex, join_sep, text_col, doc_col
        )
        rebuilt = rebuilt.localCheckpoint()
        rebuilt.write.mode("append").parquet(out_path)
        # append-only delta: index maintenance stays O(batch)
        new_hashes.write.mode("append").parquet(index_path)

    return (
        documents.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_prep_ingest(
    documents: DataFrame,
    boilerplate: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint: str,
    sep_regex: str = "\n+",
    join_sep: str = "\n",
    min_words: int = 30,
    required_words: tuple[str, ...] | None = None,
    group_col: str = "source",
    text_col: str = "text",
    doc_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "epoch0",
    url_col: str | None = None,
):
    """The modern prep recipe as a continuous ingest loop — each
    micro-batch runs same-page crawl dedup when ``url_col`` is set
    (normalized-URL keep-FIRST-arrival against a persisted URL-hash
    index — the streaming twin of :func:`..operators.urls.dedup_by_url`;
    a stream cannot retract an emitted page, so later crawls drop at
    ingest and keep-newest belongs in a periodic batch compaction;
    NULL/blank URLs pass through, as in the batch op), boilerplate
    removal (stream-static join against a precomputed
    :func:`..operators.dedup.boilerplate_lines` table), the Gopher gate
    (row-local), CCNet paragraph dedup against the persisted
    paragraph-hash index, exact dedup against the persisted text-hash
    index, and lands survivors into shard files with positions
    continuing from the previous batch.

    The batch twin is :func:`..operators.pipeline.prep_and_shard` — the
    shard/pos math IS :func:`..operators.sampling.deterministic_shuffle`
    (called, not re-implemented) plus the per-shard offset — and the
    streaming differences are inherent to ingest: keep-first follows
    ARRIVAL order across batches, per-shard ``pos`` is contiguous but
    ordered by arrival-then-hash rather than pure hash, and corpus-global
    stages (per-domain caps) belong in a periodic compaction pass, not
    the ingest loop.

    **Exactly-once under foreachBatch's at-least-once replay**: every
    write — the output and all three state tables — lands in a
    ``batch=<id>`` subdirectory with ``mode("overwrite")``, and every
    read takes only ``batch < <id>``, so a replayed batch sees exactly
    the pre-batch state and rewrites exactly its own outputs.  State:
    ``{state_dir}/para_index`` and ``{state_dir}/text_index`` (hash
    deltas, O(batch) maintenance) and ``{state_dir}/shard_totals``
    (CUMULATIVE per-shard counts per batch — the latest prior row set is
    the offset, so reads stay O(n_shards) rows however long the ingest
    runs; compact old batch directories periodically).  Returns the
    writer — call ``.start()`` at the ingest site.

    Per micro-batch, the plan materializes two frames and reads the
    batch once (twice with ``url_col``, whose stage materializes its own
    survivors):

    1. the KEPT PARAGRAPH rows — line rows anti-joined against the
       boilerplate table on ``(group, line_hash)`` and rebuilt per
       ``(doc, group)``, gated, split into paragraphs, anti-joined
       against the paragraph index, first occurrence per hash.  The
       paragraph-index delta is this frame's hashes;
    2. the FINAL rows — documents rebuilt from (1), exact-deduped,
       sharded and offset.  The output, the text-index delta and the new
       shard totals (``max(pos)`` per shard over these rows and the
       prior totals) are all written from it.

    The writes overlap on a small thread pool, in the micro-batch's job
    group: the paragraph-index write starts as soon as (1) exists and
    runs while (2) is planned and materialized, and the other three
    start together once (2) exists.  The batch ends when every write has
    landed, and fails with the first write's error if one fails.  The
    batch-independent expressions (the Gopher gate, the rebuild
    aggregates, the hashes) are built once per query, not per batch.

    State is read by explicit path with a declared schema — the newest
    compaction snapshot plus the deltas above it, and the newest prior
    ``shard_totals`` directory from the same listing — so reading state
    launches no schema-inference or probe job.
    """
    from pyspark.sql import Window

    from text_extensions_for_pandas_spark.functions.text import gopher_rules
    from text_extensions_for_pandas_spark.operators.dedup import _rebuild_text
    from text_extensions_for_pandas_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from text_extensions_for_pandas_spark.operators.scale import _overlapped
    from text_extensions_for_pandas_spark.operators.urls import (
        normalize_url,
    )

    para_index = f"{state_dir}/para_index"
    text_index = f"{state_dir}/text_index"
    url_index = f"{state_dir}/url_index"
    shard_totals = f"{state_dir}/shard_totals"
    gopher_kwargs = (
        {"required_words": required_words} if required_words is not None else {}
    )

    def _read_prior_hashes(spark, path, col, batch_id):
        # hash indexes are read by EXPLICIT paths (newest snapshot + the
        # deltas above its horizon and below this batch) rather than
        # partition discovery, so :func:`prep_state_compact` can fold old
        # deltas into a ``compact_through=<T>`` snapshot without breaking
        # the layout; the snapshot's rows are all from batches < batch_id
        # because compaction never folds the newest landed batch.  The
        # declared schema spares a footer-inference job per read.
        _, _, batches, compacts = _cms_index_state(spark, path)
        t = compacts[-1] if compacts else -1
        paths = [f"{path}/compact_through={t}"] if t >= 0 else []
        paths += [f"{path}/batch={b}" for b in batches if t < b < batch_id]
        if not paths:
            return None
        return spark.read.schema(f"{col} string").parquet(*paths)

    # built once per query, not per batch: a Column holds an unresolved
    # expression, so every batch's plan reuses the same objects instead
    # of rebuilding them through hundreds of py4j calls
    splits = {
        piece: F.posexplode(F.split(F.col(text_col), sep_regex)).alias("pos", piece)
        for piece in ("__line", "__para")
    }
    line_hash = F.md5("__line")
    para_hash = F.md5("__para")
    text_hash = F.md5(F.col(text_col))
    rebuilt_lines = _rebuild_text("__line", join_sep).alias(text_col)
    rebuilt_paras = _rebuild_text("__para", join_sep).alias(text_col)
    passes = gopher_rules(text_col, min_words=min_words, **gopher_kwargs)["passes"]
    if url_col is not None:
        url_hash = F.md5(normalize_url(url_col))
        missing_url = F.col(url_col).isNull() | (F.trim(F.col(url_col)) == "")

    def _split(df, piece):
        return df.select(doc_col, group_col, splits[piece]).filter(
            F.length(piece) > 0
        )

    def _first_per(df, key, *order):
        w = Window.partitionBy(key).orderBy(*order)
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )

    def _process(batch_df, batch_id):
        # every write goes to its own batch=<id> directory and overwrites
        # it on replay, so the writes may run in any order: each starts
        # as soon as the frame it reads exists, and the batch ends only
        # when all of them have landed
        with _overlapped(batch_df.sparkSession) as submit:
            _plan_and_write(batch_df, batch_id, submit)

    def _plan_and_write(batch_df, batch_id, submit):
        spark = batch_df.sparkSession
        if url_col is not None:
            keyed = batch_df.filter(~missing_url).withColumn("__uh", url_hash)
            uindex = _read_prior_hashes(spark, url_index, "__uh", batch_id)
            if uindex is not None:
                keyed = keyed.join(uindex, "__uh", "left_anti")
            # materialize ONCE: the index-delta write below and the
            # downstream union both consume this plan — without the
            # checkpoint each would re-execute the anti-join + window
            keyed = _first_per(keyed, "__uh", doc_col).localCheckpoint()
            submit(
                lambda: keyed.select("__uh").write.mode("overwrite").parquet(
                    f"{url_index}/batch={batch_id}"
                )
            )
            batch_df = keyed.drop("__uh").unionByName(
                batch_df.filter(missing_url)
            )

        # boilerplate removal: drop the boilerplate line rows, rebuild
        # each document from the rest (a document left empty has no rows
        # and so drops; so does a row without an id, which no document
        # can be rebuilt under)
        keys = [group_col, "line_hash"]
        lines = (
            _split(batch_df.filter(F.col(doc_col).isNotNull()), "__line")
            .withColumn("line_hash", line_hash)
            .join(boilerplate.select(*keys), keys, "left_anti")
        )
        gated = lines.groupBy(doc_col, group_col).agg(rebuilt_lines).filter(passes)

        # CCNet paragraph dedup: a paragraph survives iff its hash is not
        # in the index and it is the batch's first (doc, pos) with it
        paras = _split(gated, "__para").withColumn("para_hash", para_hash)
        prior_paras = _read_prior_hashes(spark, para_index, "para_hash", batch_id)
        if prior_paras is not None:
            paras = paras.join(prior_paras, "para_hash", "left_anti")
        kept = _first_per(paras, "para_hash", doc_col, "pos").localCheckpoint()
        # each hash is already unique in its frame (first per hash)
        submit(
            lambda: kept.select("para_hash").write.mode("overwrite").parquet(
                f"{para_index}/batch={batch_id}"
            )
        )

        # exact dedup of the rebuilt documents against the text index
        hashed = (
            kept.groupBy(doc_col, group_col)
            .agg(rebuilt_paras)
            .withColumn("__th", text_hash)
        )
        tindex = _read_prior_hashes(spark, text_index, "text_hash", batch_id)
        if tindex is not None:
            hashed = hashed.join(
                tindex, hashed["__th"] == tindex["text_hash"], "left_anti"
            )
        exact = _first_per(hashed, "__th", doc_col).withColumn(
            "n_chars", F.length(text_col).cast("long")
        )

        sharded = deterministic_shuffle(
            exact, n_shards=n_shards, key_col=doc_col, salt=salt
        )
        _, _, landed, _ = _cms_index_state(spark, shard_totals)
        prior = [b for b in landed if b < batch_id]
        if prior:
            offsets = spark.read.schema("shard int, n long").parquet(
                f"{shard_totals}/batch={prior[-1]}"
            )
            sharded = sharded.join(
                F.broadcast(offsets.withColumnRenamed("n", "__off")),
                "shard",
                "left",
            ).withColumn("pos", F.col("pos") + F.coalesce("__off", F.lit(0)))
        else:
            offsets = spark.range(n_shards).select(
                F.col("id").cast("int").alias("shard"),
                F.lit(0).cast("long").alias("n"),
            )
        final = sharded.localCheckpoint()

        submit(
            lambda: final.select(
                "shard", "pos", doc_col, group_col, "n_chars", text_col
            ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        )
        submit(
            lambda: final.select(F.col("__th").alias("text_hash"))
            .write.mode("overwrite")
            .parquet(f"{text_index}/batch={batch_id}")
        )
        # positions are dense per shard, so the highest is the running
        # count; a shard without rows this batch keeps its prior total
        totals = (
            final.select("shard", F.col("pos").alias("n"))
            .unionByName(offsets)
            .groupBy("shard")
            .agg(F.max("n").alias("n"))
        )
        submit(
            lambda: totals.write.mode("overwrite").parquet(
                f"{shard_totals}/batch={batch_id}"
            )
        )

    return (
        documents.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_cms_ingest(
    values: DataFrame,
    value_col: str,
    index_path: str,
    checkpoint: str,
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
):
    """Continuous count-min sketch maintenance: each micro-batch's (d x w)
    cell deltas land in their own ``batch=<id>`` subdirectory with
    ``mode("overwrite")`` — a replayed batch overwrites its own partition
    instead of double-counting, so cell totals are EXACTLY-ONCE under
    foreachBatch's at-least-once replay (the same batch-scoped-overwrite
    idempotence as :func:`streaming_prep_ingest`).  :func:`cms_read`
    merges the landed deltas cell-wise; because CMS cells are additive and
    order-insensitive, the merged sketch is IDENTICAL to a batch
    :func:`..operators.sketch.cms_sketch` over the union of all rows
    (asserted in test_streaming.py).

    State on disk is at most ``batches x d x w`` cells; :func:`cms_compact`
    folds landed deltas into a single ``compact_through=<T>`` snapshot so
    steady-state disk stays O(d x w) under continuous ingest.  Returns the
    configured writer — call ``.start()``.
    """
    from text_extensions_for_pandas_spark.operators.sketch import cms_sketch

    def _process(batch_df, batch_id):
        cms_sketch(batch_df, value_col, d, w, weight_col).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/batch={batch_id}")

    return (
        values.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _cms_index_state(spark: SparkSession, index_path: str):
    """List a CMS index directory through the Hadoop FileSystem API (works
    on any Spark-supported FS, not just local): returns
    ``(fs, root, batch_ids, compact_throughs)`` where compact snapshots
    count only if their ``_SUCCESS`` marker exists (a crashed compaction
    write is invisible to readers)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    batches: list[int] = []
    compacts: list[int] = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if "=" not in name:
                continue
            prefix, _, val = name.partition("=")
            try:
                n = int(val)
            except ValueError:
                continue
            if prefix == "batch":
                batches.append(n)
            elif prefix == "compact_through" and fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            ):
                compacts.append(n)
    return fs, root, sorted(batches), sorted(compacts)


def cms_read(spark: SparkSession, index_path: str) -> DataFrame:
    """Current sketch of a :func:`streaming_cms_ingest` directory: the
    newest complete ``compact_through=<T>`` snapshot (if any) plus every
    ``batch=<id>`` delta with ``id > T``, summed cell-wise (the CMS merge).
    Batch dirs at or below T are ignored even if a compaction crashed
    before deleting them — reads are consistent at every crash point."""
    _, _, batches, compacts = _cms_index_state(spark, index_path)
    t = compacts[-1] if compacts else -1
    paths = [f"{index_path}/compact_through={t}"] if t >= 0 else []
    paths += [f"{index_path}/batch={b}" for b in batches if b > t]
    if not paths:
        return local_frame(spark, [], "row int, bucket long, cnt long")
    return (
        spark.read.parquet(*paths)
        .select("row", "bucket", "cnt")
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_compact(spark: SparkSession, index_path: str) -> int:
    """Fold landed CMS deltas into one ``compact_through=<T>`` snapshot so
    on-disk state stays O(d x w) under continuous ingest, crash-safe and
    replay-safe:

    - the NEWEST batch dir is never folded — it is the only one
      foreachBatch can replay (earlier batches are committed in the stream
      checkpoint once a later batch starts), and a replay overwrites its
      own still-present ``batch=<id>`` dir exactly as before;
    - the new snapshot (old snapshot + folded deltas) is written FIRST;
      only after its ``_SUCCESS`` marker exists are the folded batch dirs
      and older snapshots deleted.  A crash at any point leaves either the
      old state (snapshot incomplete → ignored) or the new state (leftover
      folded dirs ≤ T → ignored by :func:`cms_read`'s ``id > T`` rule) —
      never a double count.

    Returns the new fold horizon T (-1 if there was nothing to fold).
    """
    from text_extensions_for_pandas_spark.operators.sketch import cms_merge

    return _index_compact(
        spark,
        index_path,
        lambda parts: cms_merge(
            *[p.select("row", "bucket", "cnt") for p in parts]
        ),
    )


def prep_state_compact(spark: SparkSession, state_dir: str) -> dict:
    """Fold :func:`streaming_prep_ingest`'s state so steady-state disk
    and per-batch read fan-in stay O(state size), not O(batches run):

    * ``para_index``, ``text_index``, and ``url_index`` (present when
      the loop runs with ``url_col``) fold all landed ``batch=<id>``
      delta dirs EXCEPT the newest into a ``compact_through=<T>``
      snapshot (distinct-union merge) under the same crash-safe protocol
      as :func:`cms_compact` — snapshot written first with overwrite,
      visible only once ``_SUCCESS`` exists, folded deltas deleted after;
      the ingest loop reads snapshot + above-horizon deltas by explicit
      path, so a crash at any point leaves either the old or the new
      state, never a double or a loss.
    * ``shard_totals`` rows are CUMULATIVE per batch, so no fold is
      needed: every batch dir except the two newest is deleted (the
      latest carries the offsets; the one before it is what a replay of
      the newest batch reads).

    Run between ingest passes of the SAME checkpoint lineage, like
    :func:`cms_compact`.  A from-scratch reprocess (fresh checkpoint with
    batch ids restarting at 0) must start from empty state/out dirs once
    a snapshot exists — batch 0 would otherwise dedup against folded
    hashes from its own future.

    Returns ``{"para_index": T, "text_index": T, "url_index": T,
    "shard_totals_deleted": n}`` (an absent index reports horizon -1).
    """
    from functools import reduce

    def dedup_merge(parts):
        return reduce(DataFrame.unionByName, parts).distinct()

    out = {}
    for sub in ("para_index", "text_index", "url_index"):
        out[sub] = _index_compact(spark, f"{state_dir}/{sub}", dedup_merge)
    jvm = spark._jvm
    totals = f"{state_dir}/shard_totals"
    fs, _, batches, _ = _cms_index_state(spark, totals)
    drop = batches[:-2]
    for b in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{totals}/batch={b}"), True)
    out["shard_totals_deleted"] = len(drop)
    return out


def _index_compact(spark: SparkSession, index_path: str, merge) -> int:
    """The shared crash-safe fold protocol for ``batch=<id>`` delta
    indexes (:func:`cms_compact`, :func:`prep_state_compact`):
    sweep leftovers a crashed post-commit cleanup left behind, fold every
    delta dir except the newest through ``merge(parts) -> DataFrame``
    into ``compact_through=<T>``, commit via ``_SUCCESS``, then delete
    the folded inputs.  Returns the new horizon T (or the existing one if
    there was nothing to fold)."""
    jvm = spark._jvm
    fs, _, batches, compacts = _cms_index_state(spark, index_path)
    t = compacts[-1] if compacts else -1
    # Sweep state a crashed post-commit cleanup left behind: batch dirs
    # <= T and snapshots < T are already invisible to readers, so
    # deleting them is safe at any crash point — without this, a crash
    # between snapshot commit and cleanup leaks disk until the NEXT
    # successful fold (violating the O(state) steady-state claim).
    for b in (b for b in batches if b <= t):
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/batch={b}"), True
        )
    for c in (c for c in compacts if c < t):
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/compact_through={c}"
            ),
            True,
        )
    batches = [b for b in batches if b > t]
    compacts = [c for c in compacts if c >= t]
    fold = [b for b in batches if b < (batches[-1] if batches else 0)]
    if not fold:
        return t
    new_t = fold[-1]
    parts = [spark.read.parquet(f"{index_path}/batch={b}") for b in fold]
    if t >= 0:
        parts.append(
            spark.read.parquet(f"{index_path}/compact_through={t}")
        )
    # mode("overwrite"): a crash MID-snapshot-write leaves a partial
    # compact_through=<new_t> dir with no _SUCCESS — invisible to readers
    # and to the sweep above (which only deletes marker-bearing snapshots
    # < T), so the next compaction recomputes the SAME new_t and the
    # default errorifexists mode would throw on the leftover dir forever.
    # Overwriting is safe precisely because the dir stays invisible until
    # its _SUCCESS marker exists.
    merge(parts).write.mode("overwrite").parquet(
        f"{index_path}/compact_through={new_t}"
    )
    # The snapshot is only VISIBLE to _cms_index_state if its _SUCCESS
    # marker exists.  Sessions that disable success markers
    # (mapreduce.fileoutputcommitter.marksuccessfuljobs=false — common
    # with custom cloud committers) would otherwise commit an invisible
    # snapshot and then delete the deltas below — silently losing state.
    # write.parquet has returned, so the data is committed: write the
    # marker explicitly if the committer didn't.
    marker = jvm.org.apache.hadoop.fs.Path(
        f"{index_path}/compact_through={new_t}/_SUCCESS"
    )
    if not fs.exists(marker):
        fs.create(marker, True).close()
    # cleanup only after the snapshot is fully committed AND visible
    for b in fold:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/batch={b}"), True
        )
    for c in compacts:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/compact_through={c}"
            ),
            True,
        )
    return new_t
