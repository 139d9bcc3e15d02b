"""Smoke test of the benchmark harness: ``bench.py`` with query names runs
only those (after the matview warm-up), prints one JSON line, and leaves
the full-run record untouched.  Runs as a subprocess with its own Spark
session, like the examples."""

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.join(os.path.dirname(__file__), "..")
RECORD = os.path.join(ROOT, "BENCH_LOCAL_last.json")


def _bench(*names, timeout=300):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_BENCH_OUT"}
    env["SPARK_GRAFT_SF_DIR"] = SF_DIR
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *names],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=ROOT,
        env=env,
    )


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"),
    reason="needs the sf0.001 testdata",
)
def test_bench_subset_runs_named_queries_only():
    with open(RECORD, "rb") as fh:
        before = fh.read()
    proc = _bench("consolidate", "iob_to_spans")
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])
    assert set(out["queries"]) == {"_matview_build", "consolidate", "iob_to_spans"}
    assert out["errors"] == {}
    with open(RECORD, "rb") as fh:
        assert fh.read() == before


def test_bench_rejects_unknown_query():
    proc = _bench("no_such_query", timeout=120)
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert proc.stdout == ""
