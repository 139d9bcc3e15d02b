#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 spanbench/run.py --workload spans_corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from the seed
(cached per seed under ``.spanbench/inputs``), sets the Spark session up
several times, runs checked warm-up rounds, then times rounds for
``--seconds``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` alternates untraced and traced rounds,
reports the per-layer metrics and writes one JSON line per operation to
``.spanbench/trace-<workload>-s<seed>.jsonl``.  Progress goes to stderr;
the last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``.  See ``README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "text_extensions_for_pandas_spark"
SETUP_CYCLES = 3
CORES = 4
SMOKE_SCALE = 0.05
# no new round starts past this, so a run ends well within three minutes
MAX_RUN_S = 120


def _environment(work: str) -> None:
    """Keep every file Spark, its workers and the package write under
    ``work``, and pin the session's shape.  Runs before pyspark loads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        SPARK_MASTER=f"local[{CORES}]",
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_SHUFFLE_PARTITIONS=str(CORES),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
                "--driver-java-options",
                shlex.quote(java_opts),
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None


def _inputs(wl, name: str, seed: int, smoke: bool, state: str) -> str:
    """The workload's inputs for ``seed``, generated once and cached under
    a name that changes with the workload's definition."""
    shape = hashlib.sha256(repr(wl).encode()).hexdigest()[:8]
    tag = f"{name}-{shape}-s{seed}" + ("-smoke" if smoke else "")
    path = os.path.join(state, "inputs", tag)
    if os.path.isdir(path):
        print(f"# inputs: cached {path}", file=sys.stderr)
        return path
    partial = f"{path}.{os.getpid()}"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    t0 = time.perf_counter()
    wl.write_inputs(partial, seed, SMOKE_SCALE if smoke else 1.0)
    os.rename(partial, path)
    print(f"# inputs: generated in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return path


def _storage_bytes(sc) -> tuple[int, int]:
    """Memory and disk bytes of persisted blocks, local checkpoints left
    out: those of a finished micro-batch stay until the JVM happens to
    collect its frame, so counting them would count garbage collections."""
    jsc = sc._jsc.sc()
    local = {
        rdd_id
        for rdd_id, rdd in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jsc.getPersistentRDDs()
        ).items()
        if rdd.isLocallyCheckpointed()
    }
    mem = disk = 0
    for info in jsc.getRDDStorageInfo():
        if info.id() not in local:
            mem += info.memSize()
            disk += info.diskSize()
    return mem, disk


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    import resource

    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _measure(wl, inputs: str, refs: dict, seconds: int, trace: bool, t_run: float):
    """Set up, warm up and time the workload; return the run's figures."""
    from text_extensions_for_pandas_spark import get_spark
    from tracing import Tracer

    spark = None
    fig: dict = {"setup": [], "session": [], "build": []}
    try:
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("spanbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            fig["build"].append(wl.setup(spark, inputs))
            fig["setup"].append(time.perf_counter() - t0)
            fig["session"].append(t1 - t0)
        sc = spark.sparkContext
        fig["matview"] = _storage_bytes(sc)
        print(f"# setup: {[round(s, 2) for s in fig['setup']]}", file=sys.stderr)

        warm = []
        for _ in range(wl.warmup_rounds):
            t0 = time.perf_counter()
            warm.append(wl.round(spark, inputs, refs, learn=True))
            print(f"# warm-up round: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        # after a fixed amount of work, so it does not depend on the rounds
        # a run has time for
        fig["cache"] = _storage_bytes(sc)
        rounds = []
        # a traced run alternates plain and traced rounds and never cuts one
        # short, so the counts of every traced round cover every operation
        tracer = Tracer(sc) if trace else None
        t0 = time.perf_counter()
        deadline = math.inf if tracer else t0 + seconds
        while True:
            traced = tracer is not None and len(rounds) % 2 == 1
            r = wl.round(spark, inputs, refs, tracer if traced else None,
                         deadline=deadline)
            rounds.append((traced, r))
            ops = " ".join(f"{op}={s:.2f}" for op, s in r.op_seconds.items())
            print(f"# round {len(rounds)}{' traced' if traced else ''}: "
                  f"{r.seconds:.2f}s {ops}", file=sys.stderr)
            enough = len(rounds) >= (2 if tracer else 1)
            now = time.perf_counter()
            if enough and (now - t0 >= seconds or now - t_run > MAX_RUN_S):
                break
        fig["rss_mb"] = _peak_rss_mb()
    finally:
        _shutdown(spark)
    fig["rounds"] = rounds
    checked = warm + [r for _, r in rounds]
    fig["attempted"] = sum(r.attempted for r in checked)
    fig["failed"] = sum(r.failed for r in checked)
    fig["tracer"] = tracer
    return fig


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(fig: dict, docs: int) -> dict[str, float]:
    """From the plain rounds: each operation's median time; one pass over
    the workload is the sum of those medians.  ``docs_per_s`` is the input
    documents over that pass.  A stream round is one drain made of
    micro-batches: ``geomean_query_s`` is taken over all of them,
    ``batch_p50_s`` over those after each drain's first, which starts the
    query on empty state.  A batch workload has no micro-batches: its
    batch is a whole round of queries, and ``batch_p50_s`` the median round
    time; a round the deadline cut short does not count."""
    plain = [r for traced, r in fig["rounds"] if not traced]
    ops: dict[str, list[float]] = {}
    for r in plain:
        for op, s in r.op_seconds.items():
            ops.setdefault(op, []).append(s)
    per_op = [statistics.median(v) for v in ops.values()]
    wall = sum(per_op)
    drains = [r.batch_seconds for r in plain if r.batch_seconds]
    if drains:
        geomean = _geomean([s for d in drains for s in d])
        p50 = _median(s for d in drains for s in d[1:])
    else:
        geomean = _geomean(per_op) if per_op else 0.0
        whole = max(len(r.op_seconds) for r in plain)
        p50 = _median(r.seconds for r in plain if len(r.op_seconds) == whole)
    return {
        "setup_s": _median(fig["setup"]),
        "wall_s": wall,
        "geomean_query_s": geomean,
        "docs_per_s": docs / wall if wall else 0.0,
        "batch_p50_s": p50,
        "cache_mb": sum(fig["cache"]) / 1e6,
    }


def per_layer(fig: dict) -> dict[str, float]:
    traced = [r for t, r in fig["rounds"] if t]
    plain = [r for t, r in fig["rounds"] if not t]
    keys = {k for r in traced for k in r.layers}
    out = {k: _median(r.layers.get(k, 0.0) for r in traced) for k in keys}
    out.update(
        {
            "session.start_s": _median(fig["session"]),
            "matview.build_s": _median(fig["build"]),
            "matview.mem_bytes": fig["matview"][0],
            "matview.disk_bytes": fig["matview"][1],
            "proc.peak_rss_mb": fig["rss_mb"],
            "trace.overhead_s": _median(r.seconds for r in traced)
            - _median(r.seconds for r in plain),
        }
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"spanbench: {PACKAGE}/ and BENCHMARK.json must sit in {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    state = os.path.join(ROOT, ".spanbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    wl = WORKLOADS[args.workload]()
    try:
        inputs = _inputs(wl, args.workload, args.seed, args.smoke, state)
        refs_path = os.path.join(inputs, "refs.json")
        refs = {}
        if os.path.exists(refs_path):
            with open(refs_path) as fh:
                refs = json.load(fh)
        known = dict(refs)
        fig = _measure(wl, inputs, refs, args.seconds, bool(args.trace), t_run)
        if refs != known and not fig["failed"]:
            with open(refs_path, "w") as fh:
                json.dump(refs, fh)
        docs = wl.docs(inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = per_layer(fig)
        path = os.path.join(state, f"trace-{args.workload}-s{args.seed}.jsonl")
        fig["tracer"].write(path)
        print(f"# trace records: {path}", file=sys.stderr)
        wanted = spec["per_layer"]
    else:
        values = end_to_end(fig, docs)
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": fig["failed"] == 0,
        "attempted": fig["attempted"],
        "failed": fig["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
