#!/usr/bin/env python
"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "errors": {name: msg}, "sf": ...}.

Usage: python bench.py [query ...]

With no names every registry query runs, and the line is also written to
$SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL_last.json).  Named queries run
alone, after the same matview warm-up, and the line is only printed, so a
subset run never overwrites the full-run record.  An unknown name exits
before Spark starts.  Each query's jobs carry the description
``bench:<name>``; $SPARK_GRAFT_BENCH_REPEATS sets the repeats per query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from text_extensions_for_pandas_spark import get_spark  # noqa: E402
from text_extensions_for_pandas_spark import queries as Q  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # >1 switches to the warm-median methodology BASELINE.md uses for
    # regression triage: the first run absorbs cache warm-up, the median is
    # the steady-state number.  The default is a single cold run.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    registry = entrymod.queries()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"bench.py: unknown queries: {', '.join(unknown)}")

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/parquet footers so per-query numbers measure the queries.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Materialize the session matviews up front, as their own timed line
    # item: otherwise whichever query first touches a view pays the whole
    # build inside its own timing and per-query attribution is skewed
    # (production materializes these once, not per query).  The build cost
    # still counts toward the benchmark total.
    try:
        t0 = time.time()
        # the three builds are independent jobs; running them from three
        # threads lets the scheduler overlap their stages on idle cores
        with ThreadPoolExecutor(3) as pool:
            builds = (Q._tokens, Q._shingles, Q._term_freqs)
            list(pool.map(lambda b: b(spark, sf_dir).count(), builds))
        timings["_matview_build"] = round(time.time() - t0, 3)
        print(f"# _matview_build: {timings['_matview_build']:.2f}s", file=sys.stderr)
    except Exception as e:  # noqa: BLE001
        errors["_matview_build"] = f"{type(e).__name__}: {str(e)[:200]}"
    for name in names or registry:
        fn = registry[name]
        # One broken query must not take down the whole benchmark: record
        # the error and keep going, so the JSON line always prints.
        runs = []
        try:
            for _ in range(repeats):
                spark.sparkContext.setJobDescription(f"bench:{name}")
                t0 = time.time()
                df = fn(spark, sf_dir)
                # Evaluate every column of every row JVM-side (xxhash64 over
                # the full row defeats projection pruning, which a bare
                # count() would allow), without the driver-side Python
                # deserialization cost of collect() — the engine's work is
                # what's being measured.
                n, _ = df.agg(
                    F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
                ).collect()[0]
                runs.append(time.time() - t0)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        print(f"# {name}: {timings[name]:.2f}s rows={n}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    line = json.dumps(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "errors": errors,
            "sf": float(sf) if sf else None,
        }
    )
    print(line)
    # A full run also persists the identical line to a file, so the record
    # survives a truncated terminal capture.
    if not names:
        out_path = os.environ.get(
            "SPARK_GRAFT_BENCH_OUT", os.path.join(ROOT, "BENCH_LOCAL_last.json")
        )
        try:
            with open(out_path, "w") as fh:
                fh.write(line + "\n")
        except OSError as e:
            print(f"# bench record write failed: {e}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
