"""Structured Streaming tests: file source + availableNow trigger + memory
sink, asserting streaming results equal the batch equivalents on the same
data (streams and batches share one plan representation, so equality here
is the meaningful invariant)."""

import time

import pyspark.sql.functions as F
import pytest

from text_extensions_for_pandas_spark import streaming as STR
from text_extensions_for_pandas_spark.operators.extract import create_dict

SF_DIR = "/root/testdata/sf0.001"


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _batch_events(spark):
    from text_extensions_for_pandas_spark.functions.timestamps import (
        normalize_event_ts,
    )

    return normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))


def test_stateless_extract_on_stream(spark):
    docs = STR.read_documents_stream(spark, SF_DIR)
    out = STR.streaming_extract_regex(docs, r"[a-z]+ scan")
    _run_to_memory(out, "t_extract")
    got = spark.table("t_extract")

    batch_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from text_extensions_for_pandas_spark.operators.extract import extract_regex

    want = extract_regex(batch_docs, r"[a-z]+ scan")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_stream_static_dict_join(spark):
    docs = STR.read_documents_stream(spark, SF_DIR)
    d = create_dict(spark, ["table scan", "spark"])
    out = STR.streaming_extract_dict(docs, d)
    _run_to_memory(out, "t_dict")
    got = spark.table("t_dict")
    assert got.count() > 0
    # spans refer to real text positions
    joined = got.join(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
    ).withColumn(
        "covered",
        F.expr("lower(substring(text, span.begin + 1, span.end - span.begin))"),
    )
    bad = joined.filter(~F.col("covered").isin("table scan", "spark")).count()
    assert bad == 0


def test_hourly_counts_match_batch(spark):
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_hourly_counts(ev)
    _run_to_memory(out, "t_hourly")
    got = spark.table("t_hourly")

    want = (
        _batch_events(spark)
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
    # availableNow drains everything; the final watermark still holds back
    # windows newer than (max ts - watermark), so streaming output must be a
    # subset of batch output and cover everything older than the horizon.
    assert got.exceptAll(want).count() == 0
    horizon = want.agg(
        F.max("hour_start") - F.expr("INTERVAL 2 HOURS")
    ).collect()[0][0]
    missed = want.filter(F.col("hour_start") < horizon).exceptAll(got).count()
    assert missed == 0
    assert got.count() > 0


def test_session_window_stream(spark):
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_session_stats(ev, gap="30 minutes")
    _run_to_memory(out, "t_sessions")
    got = spark.table("t_sessions")
    assert got.count() > 0
    # session invariant: no two sessions of one user overlap
    b = got.select(
        F.col("user_id").alias("b_user_id"),
        F.col("session_start").alias("b_start"),
        F.col("session_end").alias("b_end"),
    )
    overlaps = got.join(
        b,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("session_start") < F.col("b_start"))
        & (F.col("b_start") < F.col("session_end")),
    ).count()
    assert overlaps == 0


def test_streaming_dedup(spark):
    docs = STR.read_documents_stream(spark, SF_DIR)
    out = STR.streaming_dedup_exact(docs)
    _run_to_memory(out, "t_dedup")
    got = spark.table("t_dedup")
    n_hashes = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.md5("text")).distinct().count()
    )
    assert got.count() == n_hashes
    assert got.select("text_hash").distinct().count() == n_hashes


def test_streaming_extract_consolidated_matches_batch(spark):
    """The stateless rowwise extract+consolidate on a STREAM equals the
    batch extract_dict -> consolidate pipeline on the same data."""
    from text_extensions_for_pandas_spark.functions.text import (
        tokenize_whitespace,
    )
    from text_extensions_for_pandas_spark.operators.consolidate import consolidate
    from text_extensions_for_pandas_spark.operators.extract import extract_dict

    entries = ["table scan", "scan", "table", "sort merge", "merge"]
    docs_stream = STR.read_documents_stream(spark, SF_DIR)
    out = STR.streaming_extract_consolidated(docs_stream, entries)
    _run_to_memory(out, "t_consolidated")
    got = {
        (r.doc_id, r.span.begin, r.span.end, r.entry_id)
        for r in spark.table("t_consolidated").collect()
    }

    batch_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    d = create_dict(spark, entries)
    matches = extract_dict(tokenize_whitespace(batch_docs), d).select(
        "doc_id", "span", "entry_id"
    )
    want = {
        (r.doc_id, r.span.begin, r.span.end, r.entry_id)
        for r in consolidate(matches, on="span").collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_join(spark):
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_error_followups(ev)
    _run_to_memory(out, "t_followups")
    got = spark.table("t_followups")

    batch = _batch_events(spark)
    a = batch.filter("event_type = 'error'").select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_event"),
        F.col("ts").alias("a_ts"),
    )
    b = batch.filter("event_type = 'click'").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_event"),
        F.col("ts").alias("b_ts"),
    )
    want = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 minutes")),
    )
    # single availableNow batch over one file: full equality with batch join
    assert got.count() == want.count() > 0


def test_stateful_running_stats(spark):
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_user_running_stats(ev)
    _run_to_memory(out, "t_running", mode="update")
    got = spark.table("t_running")
    # with availableNow + one input file this is one micro-batch: the final
    # row per user equals the batch aggregate
    want = (
        _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("value").alias("max_value"),
        )
    )
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
        F.max("max_value").alias("max_value"),
    )
    assert final.count() == want.count()
    assert (
        final.exceptAll(
            want.select("user_id", "n_events", "total_value", "max_value")
        ).count()
        == 0
    )


def test_rowwise_minhash_signature_matches_batch(spark):
    from text_extensions_for_pandas_spark.operators.dedup import (
        doc_shingles,
        minhash_signature_col,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rowwise = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id", minhash_signature_col(F.col("text")).alias("sig")
        ).collect()
    }
    batch = {
        r.doc_id: [r[f"mh_{i}"] for i in range(8)]
        for r in minhash_signatures(doc_shingles(docs)).collect()
    }
    # batch drops shingle-less docs; rowwise gives them the init sentinel
    for d, sig in batch.items():
        assert rowwise[d] == sig


def test_streaming_dedup_minhash(spark):
    docs = STR.read_documents_stream(spark, SF_DIR)
    out = STR.streaming_dedup_minhash(docs)
    _run_to_memory(out, "t_mh_dedup")
    got = spark.table("t_mh_dedup")
    from text_extensions_for_pandas_spark.operators.dedup import (
        minhash_signature_col,
    )

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.concat_ws("", minhash_signature_col(F.col("text"))).alias("s")
    )
    assert got.count() == batch.distinct().count()


def test_bloom_decontamination_stream_matches_exact(spark):
    from text_extensions_for_pandas_spark.operators.dedup import (
        contaminated,
        contamination_overlap,
        eval_shingle_bloom,
    )

    batch_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = batch_docs.filter(F.col("doc_id") % 50 == 0)
    tr = batch_docs.filter(F.col("doc_id") % 50 != 0)
    bloom = eval_shingle_bloom(ev, shingle_n=5)

    exact = {
        r.doc_id for r in contamination_overlap(tr, ev, shingle_n=5).collect()
    }
    flagged = {
        r.doc_id
        for r in tr.filter(contaminated(F.col("text"), bloom, 5)).collect()
    }
    # Bloom has no false negatives; false positives are bounded by fpp
    assert exact <= flagged
    assert len(flagged - exact) <= max(2, len(exact))

    stream = STR.read_documents_stream(spark, SF_DIR).filter(
        F.col("doc_id") % 50 != 0
    )
    _run_to_memory(STR.streaming_decontaminate(stream, bloom, 5), "t_decon")
    kept = {r.doc_id for r in spark.table("t_decon").select("doc_id").collect()}
    assert kept == {r.doc_id for r in tr.collect()} - flagged


def test_session_stats_match_batch_session_window(spark):
    """Native session_window agrees between the streaming state-store path
    and the batch plan (q_events_session_native's operator) for sessions
    older than the watermark horizon."""
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_session_stats(ev, gap="30 minutes", watermark="2 hours")
    _run_to_memory(out, "t_sessions")
    got = spark.table("t_sessions")

    want = (
        _batch_events(spark)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
    assert got.exceptAll(want).count() == 0
    horizon = want.agg(
        F.max("session_end") - F.expr("INTERVAL 2 HOURS")
    ).collect()[0][0]
    missed = want.filter(F.col("session_end") < horizon).exceptAll(got).count()
    assert missed == 0


def test_sliding_window_matches_batch(spark):
    """Overlapping sliding windows agree between the streaming path and the
    same window() generator in batch, below the watermark horizon."""
    ev = STR.read_events_stream(spark, SF_DIR)
    out = STR.streaming_sliding_value(
        ev, window="1 hour", slide="15 minutes", watermark="2 hours"
    )
    _run_to_memory(out, "t_sliding")
    got = spark.table("t_sliding")

    want = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) / F.count("*"))
            .cast("double")
            .alias("mean_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "mean_value",
            "n_events",
        )
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    # a sliding window is emitted once the final watermark (max ts - 2h)
    # passes its END; win_end = win_start + window size
    max_ts = _batch_events(spark).agg(F.max("ts")).collect()[0][0]
    missed = (
        want.filter(
            F.col("win_start") + F.expr("INTERVAL 1 HOUR")
            < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
        )
        .exceptAll(got)
        .count()
    )
    assert missed == 0


def test_normalize_event_ts_timezone_independent(spark):
    """The NTZ path must be expression-level: identical instants whatever
    the session timezone at *execution* time (the correctness driver makes
    no UTC guarantee), with no session-conf mutation as a side effect."""
    from text_extensions_for_pandas_spark.functions.timestamps import (
        normalize_event_ts,
    )

    ntz = spark.createDataFrame(
        [("2024-03-10 06:30:00",), ("2024-11-03 05:30:00",)], "s string"
    ).select(F.col("s").cast("timestamp_ntz").alias("ts"))

    tz_key = "spark.sql.session.timeZone"
    prior = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "UTC")
        plan = normalize_event_ts(ntz)
        want = [r.micros for r in
                plan.select(F.unix_micros("ts").alias("micros")).collect()]
        # re-execute the SAME lazy plan under a DST-observing zone; the
        # wall clocks chosen above are DST-transition mornings in the US
        spark.conf.set(tz_key, "America/New_York")
        got = [r.micros for r in
               plan.select(F.unix_micros("ts").alias("micros")).collect()]
        assert got == want
        # and building the plan must not have mutated the session tz
        assert spark.conf.get(tz_key) == "America/New_York"
    finally:
        spark.conf.set(tz_key, prior)


def test_stratified_sample_stream_parity(spark):
    """Hash-based sampling is a stateless row-local filter, so it runs on a
    stream unchanged and keeps exactly the batch members — the property
    that makes it usable in an ingest pipeline (df.sample is not)."""
    from text_extensions_for_pandas_spark.operators.sampling import (
        stratified_sample,
    )

    rates = {"en": 0.5, "de": 0.25}
    docs = STR.read_documents_stream(spark, SF_DIR)
    out = stratified_sample(docs, "lang", rates, default_rate=0.1)
    _run_to_memory(out.select("doc_id"), "t_sample")
    got = {r.doc_id for r in spark.table("t_sample").collect()}

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = {
        r.doc_id
        for r in stratified_sample(
            batch, "lang", rates, default_rate=0.1
        ).select("doc_id").collect()
    }
    assert got == want and len(got) > 0


def test_mixture_sample_stream_static_parity(spark):
    """Corpus mixing on a stream: rates derive from the STATIC corpus (a
    mixture needs global stratum mass, which a pure stream can't know),
    then the stream joins the tiny rates frame and filters row-locally —
    the stream-static join pattern.  Members must equal the batch run."""
    from text_extensions_for_pandas_spark.operators.sampling import (
        hash_fraction,
        mixture_rates,
        sample_mixture,
    )

    targets = {"en": 0.6, "de": 0.4}
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = mixture_rates(
        batch, "lang", targets, F.col("n_chars").cast("double"), budget=20_000.0
    )

    stream = STR.read_documents_stream(spark, SF_DIR)
    out = stream.join(rates, "lang").filter(
        hash_fraction(F.col("doc_id")) < F.col("rate")
    )
    _run_to_memory(out.select("doc_id"), "t_mix")
    got = {r.doc_id for r in spark.table("t_mix").collect()}

    want = {
        r.doc_id
        for r in sample_mixture(
            batch, "lang", targets, F.col("n_chars").cast("double"),
            budget=20_000.0,
        ).select("doc_id").collect()
    }
    assert got == want and len(got) > 0


def test_distinct_sketch_stream_batch_parity(spark):
    """Streaming HLL sketches must equal the batch sketches over the same
    rows exactly: sketch union is order-insensitive, so arrival order
    cannot change the estimate."""
    from text_extensions_for_pandas_spark.operators.sketch import hll_sketches

    docs = STR.read_documents_stream(spark, SF_DIR)
    out = STR.streaming_distinct_sketches(docs, "lang", "source")
    _run_to_memory(out.select("lang", "estimate"), "t_sketch", mode="complete")
    got = {r.lang: r.estimate for r in spark.table("t_sketch").collect()}

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = {
        r.lang: r.estimate
        for r in hll_sketches(batch, ["lang"], "source").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_incremental_dedup(spark, tmp_path):
    """foreachBatch ingest dedup: batch 2's near-copies of batch 1 docs are
    rejected by the persisted band index; survivors' bands extend it."""
    import pyspark.sql.functions as PF

    src = str(tmp_path / "src")
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 40")
        .cache()
    )
    # batch 1: originals
    docs.coalesce(1).write.parquet(src)
    # batch 2: 20 near-copies (one char appended) + 20 genuinely new ids
    near = docs.filter("doc_id < 20").select(
        (PF.col("doc_id") + 1000).alias("doc_id"),
        PF.concat("text", PF.lit(" x")).alias("text"),
    )
    fresh = spark.createDataFrame(
        [(2000 + i, f"completely unrelated fresh document number {i} "
                    f"with its own words {i*7} {i*13}") for i in range(20)],
        ["doc_id", "text"],
    )
    near.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = STR.streaming_incremental_dedup(
        stream,
        index_path=str(tmp_path / "index"),
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)
    # job budget: each micro-batch keeps its source's partitioning — no
    # operator probes or spreads the batch frame before its own work
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 32

    out = spark.read.parquet(str(tmp_path / "out"))
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # all fresh docs kept; near-copies (1000-1019) rejected
    assert all(2000 + i in kept for i in range(20))
    rejected = [i for i in range(1000, 1020) if i not in kept]
    assert len(rejected) >= 15, rejected  # LSH recall: the vast majority caught
    # the index covers exactly the accepted docs
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == kept


def test_quality_scoring_stream_batch_parity(spark):
    """The fitted quality pipeline (hashing TF / IDF / LR) is all narrow
    transforms, so scoring a stream yields exactly the batch scores, and
    the derandomized Pareto gate keeps exactly the same documents."""
    from text_extensions_for_pandas_spark.operators.quality_model import (
        pareto_filter,
        score_quality,
        train_quality_classifier,
    )

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pos = batch.filter("doc_id % 2 = 0").limit(40)
    neg = batch.filter("doc_id % 2 = 1").limit(40).selectExpr(
        "doc_id", "repeat('spam casino pills ', 30) AS text"
    )
    model = train_quality_classifier(pos, neg, max_iter=15)

    docs = STR.read_documents_stream(spark, SF_DIR).select("doc_id", "text")
    kept_stream_df = pareto_filter(score_quality(model, docs))
    _run_to_memory(kept_stream_df.select("doc_id", "quality_score"), "t_q")
    got = {(r.doc_id, r.quality_score) for r in spark.table("t_q").collect()}

    want = {
        (r.doc_id, r.quality_score)
        for r in pareto_filter(
            score_quality(model, batch.select("doc_id", "text"))
        ).select("doc_id", "quality_score").collect()
    }
    assert got == want and len(want) > 0


def test_multilingual_gate_stream_batch_parity(spark):
    """lang_id + quality_gate_by_language are pure row-local Column
    expressions, so gating a document STREAM yields exactly the batch
    verdicts — the language-dispatched gate slots into a live ingest
    with no separate code path."""
    import pyspark.sql.functions as F

    from text_extensions_for_pandas_spark.functions.text import (
        lang_id,
        quality_gate_by_language,
        word_tokens,
    )

    def gated(df):
        g = df.withColumn(
            "__toks", word_tokens(F.col("text"))
        ).withColumn("lang", lang_id(F.col("text"), toks=F.col("__toks")))
        gate = quality_gate_by_language(
            F.col("text"), F.col("lang"), toks=F.col("__toks")
        )
        return g.select("doc_id", "lang", gate["passes"].alias("passes"))

    docs = STR.read_documents_stream(spark, SF_DIR).select("doc_id", "text")
    _run_to_memory(gated(docs), "t_mlgate")
    got = {
        (r.doc_id, r.lang, r.passes)
        for r in spark.table("t_mlgate").collect()
    }
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    want = {(r.doc_id, r.lang, r.passes) for r in gated(batch).collect()}
    assert got == want and len(want) > 0


def test_dsir_scoring_stream_batch_parity(spark, tmp_path):
    """DSIR scoring against a static LLR table is per-document row-local,
    so foreachBatch scoring of a document stream must equal the batch
    path exactly, regardless of micro-batch boundaries."""
    from text_extensions_for_pandas_spark.operators.sampling import (
        dsir_llr_table,
        dsir_score,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    table = dsir_llr_table(
        docs, docs.filter("lang = 'en'"), n_buckets=2000
    ).cache()
    want = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in dsir_score(docs, table, n_buckets=2000).collect()
    }

    src = str(tmp_path / "src")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_path = str(tmp_path / "scored")

    def score_batch(batch_df, _batch_id):
        dsir_score(batch_df, table, n_buckets=2000).write.mode(
            "append"
        ).parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_paragraph_dedup_matches_batch(spark, tmp_path):
    """foreachBatch paragraph dedup over an ordered two-file stream must
    reproduce the one-shot batch operator (earlier batches own smaller
    doc ids, so arrival-order keep-first equals global keep-first)."""
    from text_extensions_for_pandas_spark.operators.dedup import (
        dedup_paragraphs,
    )

    rows = [
        (1, "aaa\nbbb"),
        (2, "bbb\nccc"),
        (3, "aaa\nccc"),
        (4, "ddd\nddd\neee"),
        (5, "eee\nfff\nbbb"),
        (6, "fff\nggg"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {
        (r.doc_id, r.n_paras, r.n_kept, r.dedup_text)
        for r in dedup_paragraphs(docs).collect()
    }

    src = str(tmp_path / "src")
    docs.filter("doc_id <= 3").coalesce(1).write.parquet(src)
    docs.filter("doc_id > 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = STR.streaming_paragraph_dedup(
        stream,
        index_path=str(tmp_path / "index"),
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)

    got = {
        (r.doc_id, r.n_paras, r.n_kept, r.dedup_text)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == want
    # the index holds exactly the distinct surviving paragraph hashes
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == idx.distinct().count() == 7  # aaa bbb ccc ddd eee fff ggg


def test_boilerplate_removal_stream_batch_parity(spark, tmp_path):
    """With a precomputed boilerplate_lines table the removal side is a
    stream-static join plus per-document rebuild (each document arrives
    whole in its micro-batch), so foreachBatch cleaning of a document
    stream must equal the batch path exactly."""
    from text_extensions_for_pandas_spark.operators.dedup import (
        boilerplate_lines,
        remove_boilerplate,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    bp = boilerplate_lines(
        docs, min_docs=2, sep_regex=" table ", group_col="source"
    ).cache()
    want = {
        r.doc_id: (r.n_lines, r.n_kept, r.clean_text)
        for r in remove_boilerplate(
            docs, boilerplate=bp, sep_regex=" table ", join_sep=" ",
            group_col="source",
        ).collect()
    }

    src = str(tmp_path / "src")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_path = str(tmp_path / "cleaned")

    def clean_batch(batch_df, _batch_id):
        remove_boilerplate(
            batch_df, boilerplate=bp, sep_regex=" table ", join_sep=" ",
            group_col="source",
        ).write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(clean_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.clean_text)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == want and len(got) == docs.count()


_NAV = "NAVBAR"


def _prep_inputs(spark, tmp_path):
    """Two landing files (even ids, then odd ids) for streaming_prep_ingest,
    read one file per micro-batch, and the static boilerplate table."""
    from text_extensions_for_pandas_spark.operators.dedup import (
        boilerplate_lines,
    )

    # mean word length must clear gopher's [3, 10] band
    words = " ".join(f"the data window w{i}xx" for i in range(10))
    nav = _NAV
    rows = [
        # batch 1 (even ids): two docs sharing the nav line; one clean doc
        (0, "s1", f"{nav}\n{words} zero"),
        (2, "s1", f"{nav}\n{words} two"),
        (4, "s2", f"{words} four"),
        (6, "s1", "too short"),                      # fails gopher
        # batch 2 (odd ids)
        (1, "s1", f"{nav}\n{words} zero"),           # exact dup of doc 0's cleaned text? no: has ' zero'
        (3, "s1", f"{words} zero"),                  # paragraph seen in batch 1 -> emptied
        (5, "s2", f"{words} five"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # the static boilerplate set comes from the SEED corpus (batch 1 docs):
    # building it over future arrivals would make doc 0/1/3's shared
    # content line "boilerplate" and empty them all
    bp = boilerplate_lines(
        docs.filter("doc_id % 2 = 0"), min_docs=2, group_col="source"
    ).cache()
    bp.count()

    src = str(tmp_path / "src")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    # FileStreamSource orders unseen files by modification time; force the
    # even-ids file strictly earlier so batch order is deterministic even
    # on coarse-mtime filesystems
    import glob as _glob
    import os as _os
    import time as _time

    for f in _glob.glob(f"{src}/part-*.parquet"):
        early = _time.time() - 60
        _os.utime(f, (early, early))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return stream, bp


def test_streaming_prep_ingest_end_to_end(spark, tmp_path):
    """Continuous prep: two micro-batches through boilerplate removal,
    Gopher gate, incremental paragraph dedup, incremental exact dedup,
    and shard landing with continuing positions."""
    from text_extensions_for_pandas_spark.streaming.ops import (
        streaming_prep_ingest,
    )

    stream, bp = _prep_inputs(spark, tmp_path)
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    q = streaming_prep_ingest(
        stream,
        bp,
        state_dir=state,
        out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
        min_words=30,
        required_words=("the", "data"),
        n_shards=2,
    ).start()
    q.awaitTermination(300)
    # job budget: each batch materializes its kept paragraphs and its
    # final rows once and writes four tables from them
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 29

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # doc 6 failed the gopher word count; doc 3's single paragraph was
    # already accepted from doc 0's batch-1 text ("<words> zero")?  no —
    # doc 0's paragraph is "<words> zero" AFTER nav removal, doc 3's text
    # is identical, arriving in batch 2 -> paragraph-deduped away
    assert 6 not in got and 3 not in got
    # doc 1's cleaned text == doc 0's cleaned text -> exact/para dup, dropped
    assert 1 not in got
    assert set(got) == {0, 2, 4, 5}
    # nav line removed everywhere
    assert all(_NAV not in r["text"] for r in got.values())
    # positions are dense per shard ACROSS batches
    by_shard = {}
    for r in got.values():
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # replay: a fresh checkpoint reprocesses both batches under the SAME
    # batch ids; batch<id state reads + per-batch overwrite writes must
    # make the rerun a byte-identical no-op (the at-least-once contract)
    before = sorted(
        map(tuple, spark.read.parquet(out).select(
            "shard", "pos", "doc_id", "source", "n_chars", "text"
        ).collect())
    )
    q2 = streaming_prep_ingest(
        stream,
        bp,
        state_dir=state,
        out_path=out,
        checkpoint=str(tmp_path / "ckpt2"),
        min_words=30,
        required_words=("the", "data"),
        n_shards=2,
    ).start()
    q2.awaitTermination(300)
    after = sorted(
        map(tuple, spark.read.parquet(out).select(
            "shard", "pos", "doc_id", "source", "n_chars", "text"
        ).collect())
    )
    assert after == before

    # state after the replay: every hash once, and each batch's shard
    # totals are the shard's highest position so far
    for sub, col in (("para_index", "para_hash"), ("text_index", "text_hash")):
        hashes = [
            r[0] for r in spark.read.parquet(f"{state}/{sub}").select(col).collect()
        ]
        assert hashes and len(hashes) == len(set(hashes))
    landed = spark.read.parquet(out).select("batch", "shard", "pos").collect()
    totals = spark.read.parquet(f"{state}/shard_totals").collect()
    assert sorted((r["batch"], r["shard"]) for r in totals) == [
        (0, 0), (0, 1), (1, 0), (1, 1)
    ]
    for r in totals:
        assert r["n"] == max(
            [
                x["pos"] for x in landed
                if x["shard"] == r["shard"] and x["batch"] <= r["batch"]
            ],
            default=0,
        )


def test_streaming_prep_ingest_failed_write_fails_batch_and_replay_repairs(
    spark, tmp_path
):
    """The per-batch writes overlap on pool threads.  One that fails must
    stop the query with its own error, and a restart from the same
    checkpoint, once the cause is gone, must leave exactly the output and
    state of a clean run (the failed batch's other writes have landed, so
    this is the replay path)."""
    import os

    from pyspark.errors import StreamingQueryException

    from text_extensions_for_pandas_spark.streaming.ops import (
        streaming_prep_ingest,
    )

    stream, bp = _prep_inputs(spark, tmp_path)

    def run(base):
        q = streaming_prep_ingest(
            stream,
            bp,
            state_dir=f"{base}/state",
            out_path=f"{base}/out",
            checkpoint=f"{base}/ckpt",
            min_words=30,
            required_words=("the", "data"),
            n_shards=2,
        ).start()
        try:
            q.awaitTermination(300)
        except StreamingQueryException:
            pass
        return q.exception()

    def tables(base):
        return {
            sub: sorted(map(tuple, spark.read.parquet(f"{base}/{sub}").collect()))
            for sub in ("out", "state/para_index", "state/text_index",
                        "state/shard_totals")
        }

    clean = str(tmp_path / "clean")
    assert run(clean) is None
    broken = str(tmp_path / "broken")
    os.makedirs(broken)
    # a regular file where the output directory belongs: only the output
    # write of batch 0 fails
    open(f"{broken}/out", "w").close()
    err = run(broken)
    assert err is not None and f"{broken}/out" in str(err)
    assert os.path.isdir(f"{broken}/state/para_index/batch=0")
    os.remove(f"{broken}/out")
    assert run(broken) is None
    assert tables(broken) == tables(clean)


def test_streaming_html_extract_is_stream_transparent(spark, tmp_path):
    """The HTML→text stage is a stateless projection: streamed output
    equals the batch operator's over the same rows."""
    from text_extensions_for_pandas_spark.operators.html import (
        extract_html_documents,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        streaming_html_extract,
    )

    rows = [
        (1, "<body><nav>menu</nav><p>the real text one</p></body>", 0, "u1"),
        (2, "<p>two &amp; two</p><script>x()</script>", 0, "u2"),
        (3, "<style>all boilerplate</style>", 0, "u3"),  # extracts empty
    ]
    schema = "doc_id long, text string, n_chars long, url string"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    out = str(tmp_path / "out")
    q = (
        streaming_html_extract(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(
        map(
            tuple,
            extract_html_documents(
                spark.read.parquet(src)
            ).collect(),
        )
    )
    assert streamed == batch and len(streamed) == 2
    texts = {t[1] for t in streamed}
    assert texts == {"the real text one", "two & two"}


def test_prep_state_compact_folds_state_and_preserves_dedup(spark, tmp_path):
    """State compaction for the continuous-prep loop: after two landed
    batches, prep_state_compact must fold the hash indexes into a
    compact_through snapshot (newest batch dir kept for replay), trim
    shard_totals to its two newest batch dirs, and — the correctness
    half — a LATER batch must still dedup against hashes that now live
    only in the snapshot, with shard positions continuing."""
    import os

    from text_extensions_for_pandas_spark.operators.dedup import (
        boilerplate_lines,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        prep_state_compact,
        streaming_prep_ingest,
    )

    words = " ".join(f"the data window w{i}xx" for i in range(10))
    b1 = [(0, "s1", f"{words} zero"), (2, "s1", f"{words} two")]
    b2 = [(1, "s2", f"{words} one")]
    # batch 3 arrives AFTER compaction: doc 7 is an exact text dup of
    # doc 0 (batch 1 — its hash lives only in the snapshot by then)
    b3 = [(7, "s2", f"{words} zero"), (9, "s2", f"{words} nine")]
    schema = ["doc_id", "source", "text"]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")

    def land(rows, age):
        import glob as _glob
        import time as _time

        before = set(_glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        t = _time.time() - age
        for f in set(_glob.glob(f"{src}/part-*.parquet")) - before:
            os.utime(f, (t, t))

    land(b1, 120)
    land(b2, 60)
    bp = boilerplate_lines(
        spark.createDataFrame(b1, schema), min_docs=2, group_col="source"
    ).cache()
    bp.count()

    def ingest_pass():
        q = streaming_prep_ingest(
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            bp,
            state_dir=state,
            out_path=out,
            checkpoint=str(tmp_path / "ckpt"),
            min_words=30,
            required_words=("the", "data"),
            n_shards=2,
        ).start()
        q.awaitTermination(300)

    def layout(sub):
        return sorted(
            e for e in os.listdir(f"{state}/{sub}")
            if "=" in e and not e.startswith(".")
        )

    ingest_pass()  # batches 0 and 1
    assert layout("para_index") == ["batch=0", "batch=1"]

    horizons = prep_state_compact(spark, state)
    assert horizons == {
        "para_index": 0, "text_index": 0, "url_index": -1,
        "shard_totals_deleted": 0,
    }
    for sub in ("para_index", "text_index"):
        assert layout(sub) == ["batch=1", "compact_through=0"]
    assert layout("shard_totals") == ["batch=0", "batch=1"]

    land(b3, 0)
    ingest_pass()  # batch 2, deduping against the SNAPSHOT
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 2, 1, 9}  # 7 deduped away via folded state
    by_shard = {}
    for r in got.values():
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # second compaction: fold batch=1 into a new snapshot, supersede the
    # old one, and trim shard_totals to its two newest dirs
    horizons = prep_state_compact(spark, state)
    assert horizons == {
        "para_index": 1, "text_index": 1, "url_index": -1,
        "shard_totals_deleted": 1,
    }
    for sub in ("para_index", "text_index"):
        assert layout(sub) == ["batch=2", "compact_through=1"]
    assert layout("shard_totals") == ["batch=1", "batch=2"]

    # compacting with nothing new to fold is a no-op
    assert prep_state_compact(spark, state) == {
        "para_index": 1, "text_index": 1, "url_index": -1,
        "shard_totals_deleted": 0,
    }


def test_streaming_prep_ingest_url_dedup_stage(spark, tmp_path):
    """url_col enables same-page crawl dedup across batches: the first
    ARRIVAL of a normalized URL wins; later crawls — even with CHANGED
    text that would pass the content dedups — drop at ingest.  URL-less
    rows pass through; the url_index folds under prep_state_compact."""
    import os

    from text_extensions_for_pandas_spark.operators.dedup import (
        boilerplate_lines,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        prep_state_compact,
        streaming_prep_ingest,
    )

    words = " ".join(f"the data window w{i}xx" for i in range(10))
    schema = "doc_id long, source string, text string, url string"
    b1 = [
        (0, "s1", f"{words} zero", "http://h.example/page"),
        (2, "s1", f"{words} two", "http://h.example/other"),
        (4, "s1", f"{words} four", None),  # URL-less: passes through
    ]
    # batch 2: a RECRAWL of /page with changed text (URL variant only
    # normalization collapses) + a genuinely new page
    b2 = [
        (1, "s1", f"{words} zero UPDATED", "HTTP://H.example/page/"),
        (3, "s1", f"{words} three", "http://h.example/third"),
    ]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")

    def land(rows, age):
        import glob as _glob
        import time as _time

        before = set(_glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        t = _time.time() - age
        for f in set(_glob.glob(f"{src}/part-*.parquet")) - before:
            os.utime(f, (t, t))

    land(b1, 120)
    land(b2, 60)
    bp = boilerplate_lines(
        spark.createDataFrame(b1, schema), min_docs=2, group_col="source"
    ).cache()
    bp.count()
    q = streaming_prep_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src),
        bp,
        state_dir=state,
        out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
        min_words=30,
        required_words=("the", "data"),
        n_shards=2,
        url_col="url",
    ).start()
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 1 = recrawl of the batch-1 page (dropped by URL, not by content);
    # 0, 2, 4 (URL-less) land from batch 1; 3 lands from batch 2
    assert got == {0, 2, 4, 3}
    assert sorted(
        e for e in os.listdir(f"{state}/url_index") if e.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    horizons = prep_state_compact(spark, state)
    assert horizons["url_index"] == 0
    assert sorted(
        e for e in os.listdir(f"{state}/url_index")
        if "=" in e and not e.startswith(".")
    ) == ["batch=1", "compact_through=0"]


def test_streaming_cms_matches_batch_sketch_and_replay_is_idempotent(
    spark, tmp_path
):
    """Two-batch CMS ingest: the merged cell table equals the batch sketch
    over all rows exactly, and re-running a batch (foreachBatch replay)
    leaves totals unchanged."""
    import pyspark.sql.functions as PF

    from text_extensions_for_pandas_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
    )

    src = str(tmp_path / "src")
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 60")
        .cache()
    )
    docs.filter("doc_id < 30").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 30").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(PF.explode(PF.split("text", " ")).alias("token"))
    )
    index = str(tmp_path / "cms")
    q = STR.streaming_cms_ingest(
        stream, "token", index, checkpoint=str(tmp_path / "ckpt"), d=3, w=256
    ).start()
    q.awaitTermination(180)

    merged = STR.cms_read(spark, index)
    toks = docs.select(PF.explode(PF.split("text", " ")).alias("token"))
    want = cms_sketch(toks, "token", d=3, w=256)
    got_cells = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    want_cells = {(r.row, r.bucket): r.cnt for r in want.collect()}
    assert got_cells == want_cells and len(got_cells) > 0

    # estimates served from the streamed sketch match batch estimates
    items = toks.distinct().limit(20)
    got_est = {
        r.item: r.est for r in cms_estimate(merged, items, "token", 3, 256).collect()
    }
    want_est = {
        r.item: r.est for r in cms_estimate(want, items, "token", 3, 256).collect()
    }
    assert got_est == want_est

    # compaction: fold all but the newest batch into one snapshot — the
    # merged sketch is unchanged, disk state shrinks to snapshot + 1 batch
    t = STR.cms_compact(spark, index)
    assert t >= 0
    after_compact = {
        (r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()
    }
    assert after_compact == got_cells
    import os

    entries = sorted(
        e for e in os.listdir(index) if "=" in e and not e.startswith(".")
    )
    assert entries == ["batch=1", f"compact_through={t}"]
    # a second compaction with nothing new to fold is a no-op
    assert STR.cms_compact(spark, index) == t

    # ingest MORE after compacting: totals still equal the batch sketch
    # over the union of all rows
    more = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id >= 60 and doc_id < 90")
        .cache()
    )
    more.coalesce(1).write.mode("append").parquet(src)
    q3 = STR.streaming_cms_ingest(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(PF.explode(PF.split("text", " ")).alias("token")),
        "token",
        index,
        checkpoint=str(tmp_path / "ckpt"),
        d=3,
        w=256,
    ).start()
    q3.awaitTermination(180)
    all_toks = (
        docs.select("doc_id", "text")
        .unionByName(more)
        .select(PF.explode(PF.split("text", " ")).alias("token"))
    )
    want_all = {
        (r.row, r.bucket): r.cnt
        for r in cms_sketch(all_toks, "token", d=3, w=256).collect()
    }
    got_all = {
        (r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()
    }
    assert got_all == want_all
    got_cells = got_all

    # crash consistency: a compaction that died AFTER committing its
    # snapshot but BEFORE deleting the folded batch dirs leaves stale
    # batch dirs at/below the horizon — cms_read must ignore them (no
    # double count), per the id > T rule
    t2 = STR.cms_compact(spark, index)
    stale = spark.createDataFrame(
        [(0, 1, 999)], "row int, bucket long, cnt long"
    )
    stale.write.parquet(f"{index}/batch=0")
    leftover = {
        (r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()
    }
    assert leftover == got_cells
    # ... and an INCOMPLETE snapshot (no _SUCCESS) is invisible to readers
    import shutil

    shutil.copytree(
        f"{index}/compact_through={t2}", f"{index}/compact_through=99"
    )
    os.remove(f"{index}/compact_through=99/_SUCCESS")
    assert {
        (r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()
    } == got_cells
    shutil.rmtree(f"{index}/compact_through=99")
    shutil.rmtree(f"{index}/batch=0")

    # replay idempotence: re-land the newest (only replayable) batch's
    # delta by hand — totals unchanged.  Materialize first: a lazy read +
    # same-path overwrite deletes the source files before the scan runs
    # (FAILED_READ_FILE.FILE_NOT_EXIST).
    newest = spark.read.parquet(f"{index}/batch=2")
    rows0 = newest.collect()
    spark.createDataFrame(rows0, newest.schema).write.mode("overwrite").parquet(
        f"{index}/batch=2"
    )
    again = {(r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()}
    assert again == got_cells


def test_cms_compact_sweeps_crash_leftovers_and_guarantees_marker(
    spark, tmp_path
):
    """Two crash/robustness properties of cms_compact:

    (1) A compaction that died AFTER committing its snapshot but BEFORE
        cleanup leaves batch dirs <= T and superseded snapshots on disk.
        They are invisible to cms_read, but the O(d x w) steady-state
        disk claim requires the NEXT cms_compact call to sweep them even
        when it has nothing new to fold.
    (2) With success markers disabled
        (mapreduce.fileoutputcommitter.marksuccessfuljobs=false, common
        with custom cloud committers), the committed snapshot would be
        invisible under _cms_index_state's _SUCCESS rule while the folded
        deltas get deleted — silently losing counts.  cms_compact must
        write the marker explicitly before cleanup.
    """
    import os

    index = str(tmp_path / "cms")

    def mk(name, cnt):
        spark.createDataFrame(
            [(0, 0, cnt)], "row int, bucket long, cnt long"
        ).coalesce(1).write.parquet(f"{index}/{name}")

    # post-crash state: T=1 snapshot committed, cleanup never ran
    mk("batch=0", 1)
    mk("batch=1", 2)
    mk("batch=2", 4)
    mk("compact_through=0", 1)  # superseded older snapshot
    mk("compact_through=1", 3)  # = batch0 + batch1 folded
    read = lambda: {
        (r.row, r.bucket): r.cnt for r in STR.cms_read(spark, index).collect()
    }
    assert read() == {(0, 0): 7}  # snapshot(3) + batch2(4); stale dirs ignored

    # nothing new to fold (only the newest batch sits above T) — but the
    # stale leftovers must be swept anyway
    assert STR.cms_compact(spark, index) == 1
    entries = sorted(
        e for e in os.listdir(index) if "=" in e and not e.startswith(".")
    )
    assert entries == ["batch=2", "compact_through=1"]
    assert read() == {(0, 0): 7}

    # now a real fold with success markers DISABLED
    mk("batch=3", 8)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = hconf.get(key)
    hconf.set(key, "false")
    try:
        t2 = STR.cms_compact(spark, index)
    finally:
        if old is None:
            hconf.unset(key)
        else:
            hconf.set(key, old)
    assert t2 == 2
    # the explicit marker exists, so the snapshot is visible and no
    # counts were lost to the post-commit delta cleanup
    assert os.path.exists(f"{index}/compact_through=2/_SUCCESS")
    assert read() == {(0, 0): 15}
    entries = sorted(
        e for e in os.listdir(index) if "=" in e and not e.startswith(".")
    )
    assert entries == ["batch=3", "compact_through=2"]

    # (3) crash MID-snapshot-write: a partial compact_through=<new_t> dir
    # with NO _SUCCESS marker.  It is invisible to cms_read (correct),
    # but the next cms_compact recomputes the SAME new_t — with the
    # default errorifexists write mode the leftover dir would make every
    # future compaction throw, wedging the O(d x w) steady-state forever.
    mk("batch=4", 16)
    partial = f"{index}/compact_through=3"  # the new_t this fold computes
    os.makedirs(partial, exist_ok=True)
    with open(f"{partial}/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00not parquet, torn write")
    assert read() == {(0, 0): 31}  # partial snapshot invisible
    assert STR.cms_compact(spark, index) == 3  # must NOT throw
    assert os.path.exists(f"{partial}/_SUCCESS")
    assert read() == {(0, 0): 31}
    entries = sorted(
        e for e in os.listdir(index) if "=" in e and not e.startswith(".")
    )
    assert entries == ["batch=4", "compact_through=3"]


def test_streaming_wet_crawl_ingest_end_to_end(spark, tmp_path):
    """The crawl front's batch/stream duality: WET shards arriving as
    files → read_wet_stream (the SAME parser island as the batch reader)
    → streaming_prep_ingest, two shard batches landing exactly-once with
    cross-batch dedup; the raw streamed rows equal the batch reader's;
    a fresh-checkpoint replay is byte-identical."""
    import glob as _glob
    import gzip
    import os
    import time

    from text_extensions_for_pandas_spark.operators.dedup import (
        boilerplate_lines,
    )
    from text_extensions_for_pandas_spark.sources import corpus as C
    from text_extensions_for_pandas_spark.streaming.ops import (
        read_wet_stream,
        streaming_prep_ingest,
    )

    def rec(text, url, t="conversion"):
        body = text.encode()
        return (
            b"WARC/1.0\r\n"
            + f"WARC-Type: {t}\r\n".encode()
            + (f"WARC-Target-URI: {url}\r\n".encode() if url else b"")
            + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(body)}\r\n".encode()
            + b"\r\n"
            + body
            + b"\r\n\r\n"
        )

    words = " ".join(f"the data page w{i}xx" for i in range(8))
    nav = "NAVBAR MENU"
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    shard0 = (
        rec("robots: obey", "", t="warcinfo")  # skipped by record_types
        + rec(f"{nav}\n{words} alpha", "http://a.example/1")
        + rec(f"{nav}\n{words} beta", "http://a.example/2")
    )
    (crawl / "shard0.warc.wet").write_bytes(shard0)
    early = time.time() - 60
    os.utime(crawl / "shard0.warc.wet", (early, early))

    # the static boilerplate table comes from the SEED shard (batch 1),
    # per the prep contract — nav repeats in 2 docs of the same source
    bp = boilerplate_lines(
        C.read_wet_corpus(spark, str(crawl)), min_docs=2, group_col="source"
    ).cache()
    assert bp.count() == 1  # exactly the nav line

    # batch 2 (gzipped shard): one fresh doc + a crawl of the alpha page
    # whose text equals alpha's CLEANED batch-1 text → cross-batch dup
    shard1 = rec(f"{words} gamma", "http://b.example/3") + rec(
        f"{words} alpha", "http://c.example/4"
    )
    (crawl / "shard1.warc.wet.gz").write_bytes(gzip.compress(shard1))

    # raw stream parity: the streamed documents equal the batch reader's
    raw_out = str(tmp_path / "raw_out")
    q0 = (
        read_wet_stream(spark, str(crawl), max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", raw_out)
        .option("checkpointLocation", str(tmp_path / "raw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q0.awaitTermination(300)
    streamed = sorted(
        tuple(r)
        for r in spark.read.parquet(raw_out)
        .select("doc_id", "text", "url", "warc_date", "n_chars")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in C.read_wet_corpus(spark, str(crawl))
        .select("doc_id", "text", "url", "warc_date", "n_chars")
        .collect()
    )
    assert streamed == batch and len(streamed) == 4

    # crawl → prepared corpus, two micro-batches (one file each)
    out = str(tmp_path / "out")
    q = streaming_prep_ingest(
        read_wet_stream(spark, str(crawl), max_files_per_trigger=1),
        bp,
        state_dir=str(tmp_path / "state"),
        out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
        min_words=10,
        required_words=("the", "data"),
        n_shards=2,
    ).start()
    q.awaitTermination(300)

    got = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in got)
    # alpha and beta survive batch 1 with the nav line removed; gamma
    # survives batch 2; the batch-2 alpha recrawl dedups away
    assert texts == sorted(
        [f"{words} alpha", f"{words} beta", f"{words} gamma"]
    )
    assert all(nav not in t for t in texts)
    assert len({r["doc_id"] for r in got}) == 3
    # two batch directories landed (exactly-once layout)
    assert sorted(
        e for e in os.listdir(out) if e.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    # positions dense per shard ACROSS batches
    by_shard = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # fresh-checkpoint replay is a byte-identical no-op
    before = sorted(map(tuple, got))
    q2 = streaming_prep_ingest(
        read_wet_stream(spark, str(crawl), max_files_per_trigger=1),
        bp,
        state_dir=str(tmp_path / "state"),
        out_path=out,
        checkpoint=str(tmp_path / "ckpt2"),
        min_words=10,
        required_words=("the", "data"),
        n_shards=2,
    ).start()
    q2.awaitTermination(300)
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_streaming_link_graph_converges_to_batch(spark, tmp_path):
    """The streamed link-graph aggregate (complete mode) over two
    arrival waves must equal the batch link_graph over the union."""
    from text_extensions_for_pandas_spark.operators.html import link_graph
    from text_extensions_for_pandas_spark.streaming.ops import (
        streaming_link_graph,
    )

    schema = "url string, text string"
    wave1 = [
        ("http://a.example/1", "<a href='http://b.example/x'>b</a>"),
        ("http://a.example/2",
         "<a href='http://b.example/y'>b</a><a href='/self'>s</a>"),
    ]
    wave2 = [
        ("http://b.example/1", "<a href='http://a.example/z'>a</a>"),
        ("http://a.example/3", "<a href='http://b.example/w'>b</a>"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(wave1, schema).write.parquet(src)

    def run_pass():
        q = (
            streaming_link_graph(
                spark.readStream.schema(schema).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("lg_totals")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_pass()
    got1 = sorted(map(tuple, spark.sql("SELECT * FROM lg_totals").collect()))
    assert got1 == [("a.example", "b.example", 2)]

    spark.createDataFrame(wave2, schema).write.mode("append").parquet(src)
    run_pass()
    got2 = sorted(map(tuple, spark.sql("SELECT * FROM lg_totals").collect()))
    batch = sorted(
        map(tuple, link_graph(spark.read.parquet(src)).collect())
    )
    assert got2 == batch == [
        ("a.example", "b.example", 3),
        ("b.example", "a.example", 1),
    ]


def test_streaming_wat_link_graph_converges_to_batch(spark, tmp_path):
    """read_wat_stream + streaming_link_graph_from_edges over two
    arrival waves must equal the batch WAT path over the union — the
    continuous link graph with no HTML parse anywhere."""
    import gzip

    from text_extensions_for_pandas_spark.operators.html import (
        link_graph_from_edges,
    )
    from text_extensions_for_pandas_spark.sources.corpus import (
        make_wat_record,
        read_wat_links,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        read_wat_stream,
        streaming_link_graph_from_edges,
    )

    src = str(tmp_path / "wat_src")
    import os

    os.makedirs(src)

    def shard(name, pages):
        blob = b"".join(make_wat_record(u, ls) for u, ls in pages)
        with open(os.path.join(src, name), "wb") as fh:
            fh.write(gzip.compress(blob))

    shard("w1.warc.wat.gz", [
        ("http://a.example/1", [("http://b.example/x", "b")]),
        ("http://a.example/2",
         [("http://b.example/y", "b"), ("/self", "s")]),
    ])

    def run_pass():
        q = (
            streaming_link_graph_from_edges(read_wat_stream(spark, src))
            .writeStream.format("memory")
            .queryName("wat_lg_totals")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_pass()
    got1 = sorted(
        map(tuple, spark.sql("SELECT * FROM wat_lg_totals").collect())
    )
    assert got1 == [("a.example", "b.example", 2)]

    shard("w2.warc.wat.gz", [
        ("http://b.example/1", [("http://a.example/z", "a")]),
        ("http://a.example/3", [("http://b.example/w", "b")]),
    ])
    run_pass()
    got2 = sorted(
        map(tuple, spark.sql("SELECT * FROM wat_lg_totals").collect())
    )
    batch = sorted(
        map(tuple, link_graph_from_edges(read_wat_links(spark, src)).collect())
    )
    assert got2 == batch == [
        ("a.example", "b.example", 3),
        ("b.example", "a.example", 1),
    ]


def test_cdx_stream_batch_parity(spark, tmp_path):
    """read_cdx_stream shares the batch reader's pure-Column projection
    (cdx_project_lines); streaming the same index shards must yield the
    identical capture rows, malformed lines dropped the same way, and
    the row-local select_captures filters must run unchanged on the
    stream side."""
    import gzip

    from text_extensions_for_pandas_spark.sources.cdx import (
        make_cdx_line,
        read_cdx_index,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        read_cdx_stream,
    )
    from pyspark.sql import functions as F

    d = tmp_path / "cdx"
    d.mkdir()
    lines = [
        make_cdx_line(
            f"http://h{i % 4}.example/p/{i}",
            f"202401010000{i:02d}",
            status=200 if i % 3 else 404,
            digest=f"d{i}",
            filename="w.warc.gz",
            offset=i * 100,
            length=90,
        )
        for i in range(12)
    ] + ["malformed", "x)/y 2024 {\"url\": \"http://x/y\"}"]
    (d / "cdx-0.gz").write_bytes(
        gzip.compress(("\n".join(lines[:7]) + "\n").encode())
    )
    (d / "cdx-1.gz").write_bytes(
        gzip.compress(("\n".join(lines[7:]) + "\n").encode())
    )

    stream = read_cdx_stream(spark, str(d), max_files_per_trigger=1).where(
        F.col("status") == 200
    )
    _run_to_memory(stream, "cdx_stream")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "select surt, capture_ts, url, digest, offset from cdx_stream"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in read_cdx_index(spark, str(d))
        .where(F.col("status") == 200)
        .select("surt", "capture_ts", "url", "digest", "offset")
        .collect()
    )
    assert got == want and len(got) == 8


def test_streaming_selective_ingest_cdx_to_documents(spark, tmp_path):
    """The continuous select-before-scan loop: CDX index shards arrive
    as a stream; each micro-batch is selected (status filter + digest
    dedup + anti-join against everything ALREADY INGESTED), its byte
    ranges fetched from the WARC files, and the documents appended with
    their digests.  A second wave re-offering an already-ingested
    digest at a new URL must fetch everything EXCEPT that duplicate."""
    import gzip
    import os

    from pyspark.sql import functions as F

    from text_extensions_for_pandas_spark.sources.cdx import (
        fetch_plan,
        fetch_warc_ranges,
        make_cdx_line,
        select_captures,
    )
    from text_extensions_for_pandas_spark.sources.corpus import (
        make_warc_record,
    )
    from text_extensions_for_pandas_spark.streaming.ops import (
        read_cdx_stream,
    )

    base = tmp_path
    cdx_dir = base / "cdx"
    cdx_dir.mkdir()
    out = str(base / "ingested")
    ckpt = str(base / "ckpt")

    # two WARC files; w1's record 8 duplicates w0's record 2 CONTENT
    # (same digest, different URL) — the second wave must skip it
    lines_by_file = {}
    for fi in range(2):
        fname = f"w{fi}.warc.gz"
        offset, blobs, lines = 0, [], []
        for k in range(fi * 6, fi * 6 + 6):
            body = f"<html><body>page {k % 8} content</body></html>"
            member = gzip.compress(
                make_warc_record(
                    body, url=f"http://h.example/p/{k}",
                    warc_type="response", http_status=200,
                )
            )
            blobs.append(member)
            lines.append(
                make_cdx_line(
                    f"http://h.example/p/{k}", f"2024060100000{k % 10}",
                    digest=f"dg{k % 8}",  # k=8,9 -> dg0, dg1 (dups of 0,1)
                    filename=fname, offset=offset, length=len(member),
                )
            )
            offset += len(member)
        with open(base / fname, "wb") as fh:
            fh.write(b"".join(blobs))
        lines_by_file[fi] = lines

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(out):
            prior = spark.read.parquet(out).select("digest").distinct()
        sel = select_captures(
            batch_df, mimes=None, prior_digests=prior
        ).cache()
        docs = fetch_warc_ranges(
            spark, fetch_plan(sel), base_dir=str(base),
            record_types=("response",),
        )
        with_digest = docs.join(
            sel.select("url", "digest"), "url", "inner"
        )
        with_digest.select("url", "digest", "text").write.mode(
            "append"
        ).parquet(out)
        sel.unpersist()

    def run_wave():
        q = (
            read_cdx_stream(spark, str(cdx_dir), max_files_per_trigger=1)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    (cdx_dir / "cdx-a").write_text("\n".join(lines_by_file[0]) + "\n")
    run_wave()
    wave1 = spark.read.parquet(out)
    assert wave1.count() == 6

    (cdx_dir / "cdx-b").write_text("\n".join(lines_by_file[1]) + "\n")
    run_wave()
    final = spark.read.parquet(out)
    # wave 2 offered k=6..11 (digests dg6 dg7 dg0 dg1 dg2 dg3): four
    # duplicate wave-1 digests, only dg6/dg7 new -> 2 fetched
    assert final.count() == 8
    assert final.select("digest").distinct().count() == 8
    urls = {r["url"] for r in final.collect()}
    assert {f"http://h.example/p/{k}" for k in (6, 7)} <= urls
    for k in (8, 9, 10, 11):  # duplicate content: never fetched
        assert f"http://h.example/p/{k}" not in urls
