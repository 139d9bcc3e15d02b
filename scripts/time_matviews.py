#!/usr/bin/env python
"""Time the three session matview builds in isolation, N repeats each.

Between repeats the built view is unpersisted and evicted from the
registry so every repeat pays the full build (scan + explode + aggregate),
not a cache hit.  Prints one JSON line {"builds": {name: {"median": s,
"runs": [...]}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from text_extensions_for_pandas_spark import get_spark
    from text_extensions_for_pandas_spark import queries as Q

    spark = get_spark("time_matviews")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    out: dict[str, dict] = {}
    for name, build in (
        ("tokens", Q._tokens),
        ("shingles", Q._shingles),
        ("term_freqs", Q._term_freqs),
    ):
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            df = build(spark, sf_dir)
            df.count()
            runs.append(round(time.time() - t0, 3))
            df.unpersist()
            Q._MATVIEWS.clear()
        med = sorted(runs)[len(runs) // 2]
        out[name] = {"median": med, "runs": runs}
        print(f"# {name}: {med:.2f}s runs={runs}", file=sys.stderr)
    print(json.dumps({"sf": sf_dir, "builds": out}))
    spark.stop()


if __name__ == "__main__":
    main()
