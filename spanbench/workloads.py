"""The benchmark's workloads: what each one sets up, runs and checks.

A workload runs in rounds.  A batch round runs its registry queries in
order and reduces each result to ``(count, bit_xor(xxhash64(*cols)))``
inside the engine; a stream round drains the landing files through a fresh
``streaming_prep_ingest`` query.  Every operation is checked: batch results
against the digest the query's DuckDB oracle gave on the same inputs,
stream results against the invariants of the ingest loop and against the
first drain's survivors.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import gen
from tracing import Tracer, plan_metrics


@dataclass
class Round:
    """One round's timings and checks, and its layer values when traced.
    ``batch_seconds`` holds the micro-batch durations of a stream round."""

    op_seconds: dict[str, float] = field(default_factory=dict)
    batch_seconds: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(self.op_seconds.values())

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        print(f"# FAILED {op}: {why}", file=sys.stderr)

    def add(self, key: str, v: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + v


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetDataset(path).read(columns=["doc_id"]).num_rows


def _add_phases(r: Round, rec: dict) -> None:
    for phase, span in rec["phases"].items():
        r.add(f"{phase}.s", span["s"])
        for k in ("jobs", "stages", "tasks"):
            r.add(f"{phase}.{k}", span[k])
    r.add(f"jobs.{rec['op']}", rec["jobs"])


# ---------------------------------------------------------------------------
# batch workloads: registry queries
# ---------------------------------------------------------------------------


@dataclass
class BatchWorkload:
    n_docs: int
    n_files: int
    queries: tuple[str, ...]
    # a query's second run is still markedly slower than its later ones
    warmup_rounds: int = 2

    def write_inputs(self, out_dir: str, seed: int, scale: float) -> None:
        gen.write_documents(out_dir, seed, max(50, int(self.n_docs * scale)), self.n_files)

    def docs(self, inputs: str) -> int:
        return _rows(os.path.join(inputs, "documents.parquet"))

    def setup(self, spark, inputs: str) -> float:
        """Warm the scan, then build and persist the tokens matview the
        queries read.  Returns the matview build time."""
        from text_extensions_for_pandas_spark import queries as Q

        Q.load(spark, inputs, "documents").count()
        t0 = time.perf_counter()
        Q._tokens(spark, inputs).count()
        return time.perf_counter() - t0

    def round(
        self, spark, inputs: str, refs: dict, tracer: Tracer | None = None,
        learn: bool = False, deadline: float = math.inf,
    ) -> Round:
        """Run the queries in order, starting none after ``deadline``.
        With ``learn``, a query without a reference first gets one from its
        DuckDB oracle."""
        from text_extensions_for_pandas_spark import queries as Q

        r = Round()
        for q in self.queries:
            if r.attempted and time.perf_counter() > deadline:
                break
            fn, sql = Q.REGISTRY[q]
            r.attempted += 1
            t = time.perf_counter()
            try:
                if tracer:
                    df, got = _traced_query(spark, inputs, q, fn, tracer, r)
                else:
                    df = fn(spark, inputs)
                    got = _digest(df)
                r.op_seconds[q] = time.perf_counter() - t
                if learn and q not in refs:
                    refs[q] = _oracle_digest(spark, inputs, sql, df.schema)
            except Exception:  # noqa: BLE001 - one query must not stop the run
                r.fail(q, traceback.format_exc())
                continue
            # no reference means the oracle never ran: a failure, not a match
            if got != refs.get(q):
                r.fail(q, f"(count, hash) {got} != oracle {refs.get(q)}")
        return r


def _digest_agg(df):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns)))


def _digest(df) -> list[int]:
    row = _digest_agg(df).collect()[0]
    return [int(row[0]), int(row[1] or 0)]


def _oracle_digest(spark, inputs: str, sql: str, schema) -> list[int]:
    """The digest of the query's DuckDB oracle over the same files, hashed
    by the engine under the engine's schema."""
    import duckdb

    path = os.path.join(inputs, "documents.parquet", "*.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        pdf = con.execute(sql).df()[[f.name for f in schema.fields]]
    finally:
        con.close()
    return _digest(spark.createDataFrame(pdf, schema))


def _traced_query(spark, inputs, q, fn, tracer: Tracer, r: Round):
    with tracer.op(q) as rec:
        with tracer.span(rec, "build"):
            df = fn(spark, inputs)
        with tracer.span(rec, "plan"):
            agg = _digest_agg(df)
            jplan = agg._jdf.queryExecution().executedPlan()
        with tracer.span(rec, "action"):
            row = agg.collect()[0]
        rec["plan_metrics"] = plan_metrics(jplan)
    _add_phases(r, rec)
    for k, v in rec["plan_metrics"].items():
        r.add(k, v)
    return df, [int(row[0]), int(row[1] or 0)]


# ---------------------------------------------------------------------------
# streaming workload: the continuous prep-ingest loop
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "doc_id long, source string, text string"
STREAM_PARTS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "planning": "queryPlanning",
    "get_batch": "getBatch",
    "wal_commit": "walCommit",
}


@dataclass
class StreamWorkload:
    n_files: int
    docs_per_file: int
    warmup_rounds: int = 1
    _boilerplate: object = None

    def write_inputs(self, out_dir: str, seed: int, scale: float) -> None:
        gen.write_stream(
            out_dir, seed, self.n_files, max(20, int(self.docs_per_file * scale))
        )

    def docs(self, inputs: str) -> int:
        return _rows(os.path.join(inputs, "landing"))

    def setup(self, spark, inputs: str) -> float:
        """Build and persist the static boilerplate-line table from the
        seed corpus.  Returns its build time."""
        from text_extensions_for_pandas_spark.operators.dedup import (
            boilerplate_lines,
        )

        seed = spark.read.parquet(os.path.join(inputs, "seed.parquet"))
        seed.count()
        t0 = time.perf_counter()
        self._boilerplate = boilerplate_lines(
            seed, min_docs=2, group_col="source"
        ).persist()
        self._boilerplate.count()
        return time.perf_counter() - t0

    def _ingest(self, spark, inputs: str, base: str):
        """Drain every landing file, one per micro-batch, into fresh state,
        output and checkpoint directories under ``base``.  Returns the
        stopped query."""
        from text_extensions_for_pandas_spark.streaming.ops import (
            streaming_prep_ingest,
        )

        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(inputs, "landing"))
        )
        query = streaming_prep_ingest(
            stream,
            self._boilerplate,
            state_dir=os.path.join(base, "state"),
            out_path=os.path.join(base, "out"),
            checkpoint=os.path.join(base, "checkpoint"),
            min_words=30,
            required_words=("the", "data"),
        ).start()
        try:
            query.awaitTermination()
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query

    def _survivors(self, spark, inputs: str, base: str) -> list:
        """Check the ingest loop's invariants on its output; return the
        survivor count and a digest of the survivor ids."""
        rows = spark.read.parquet(os.path.join(base, "out")).select(
            "shard", "pos", "doc_id"
        ).collect()
        by_shard: dict[int, list[int]] = {}
        for row in rows:
            by_shard.setdefault(row["shard"], []).append(row["pos"])
        for shard, pos in by_shard.items():
            if sorted(pos) != list(range(1, len(pos) + 1)):
                raise ValueError(f"shard {shard}: positions are not dense")
        ids = sorted(row["doc_id"] for row in rows)
        if len(set(ids)) != len(ids):
            raise ValueError("a doc_id survives twice")
        # landing files hold the ids after the seed corpus's
        per_file = _rows(os.path.join(inputs, "seed.parquet"))
        if ids and not (per_file <= ids[0] and ids[-1] < per_file * (self.n_files + 1)):
            raise ValueError("a survivor is not an input document")
        return [len(ids), hashlib.sha256(repr(ids).encode()).hexdigest()[:16]]

    def round(
        self, spark, inputs: str, refs: dict, tracer: Tracer | None = None,
        learn: bool = False, deadline: float = math.inf,
    ) -> Round:
        """One drain.  With ``learn`` and no reference yet, its survivors
        become the reference later drains must repeat."""
        r = Round(attempted=1)
        base = tempfile.mkdtemp(prefix="stream-")
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.op("stream_ingest") as rec:
                    with tracer.span(rec, "action") as span:
                        query = self._ingest(spark, inputs, base)
                        # the stream's jobs run in a group named by its run
                        span["groups"].append(str(query.runId))
            else:
                query = self._ingest(spark, inputs, base)
            r.op_seconds["stream_ingest"] = time.perf_counter() - t0
            progress = query.recentProgress
            out = self._survivors(spark, inputs, base)
        except Exception:  # noqa: BLE001 - a failed drain is counted, not fatal
            r.fail("stream_ingest", traceback.format_exc())
            return r
        r.batch_seconds = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        if learn:
            refs.setdefault("stream_ingest", out)
        if out != refs.get("stream_ingest"):
            r.fail("stream_ingest", f"survivors {out} != reference {refs.get('stream_ingest')}")
        if tracer:
            _add_phases(r, rec)
            _stream_layers(r, progress, out, base)
        return r


def _stream_layers(r: Round, progress, out: list, base: str) -> None:
    r.add("stream.batches", len(progress))
    # the parts of the batches that read the state earlier batches wrote
    steady = progress[1:] or progress
    for key, part in STREAM_PARTS.items():
        r.add(
            f"stream.{key}_p50_s",
            statistics.median(p.durationMs.get(part, 0) / 1e3 for p in steady),
        )
    n_in = sum(p.numInputRows for p in progress)
    r.add("stream.input_rows", n_in)
    r.add("stream.out_rows", out[0])
    r.add("stream.kept_ratio", out[0] / n_in)
    r.add(
        "stream.state_bytes",
        sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(base, "state"))
            for f in files
        ),
    )


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

# extraction, a span join and the IOB conversion: the span algebra's stages,
# chosen among the cheap queries so a timed run repeats each at least twice.
# The row-wise dictionary extractor reads its input through ``load_wide``,
# so the narrow-scan spread's guard runs here (and must leave the input be)
SPAN_QUERIES = ("extract_dict_rowwise", "adjacent_join", "iob_to_spans")

WORKLOADS = {
    "spans_corpus": lambda: BatchWorkload(n_docs=8000, n_files=16, queries=SPAN_QUERIES),
    "stream_ingest": lambda: StreamWorkload(n_files=3, docs_per_file=333),
}
