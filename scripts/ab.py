#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a parent revision against a change.

    python3 scripts/ab.py --workload spans_corpus --seed 2 [--pairs 10]
        [--parent REV] [--change REV] [--workdir DIR]

Exports the committed files of both revisions (``git archive``) into
``--workdir`` (default: a new directory under the system temp dir), then
runs ``spanbench/run.py`` in each for the ``run_seconds`` of
``BENCHMARK.json``, ``--pairs`` times, alternating which side runs first.
``--parent`` defaults to ``HEAD``; ``--change`` defaults to the working
tree's tracked files, staged new files included (``git stash create``), or
``HEAD`` when the tree is clean.  It stops if both revisions hold the same
tree, since that run would compare a revision with itself.

For every end-to-end metric, it prints each side's quartiles
(q1/median/q3), how many pairs the change won (in the direction
``BENCHMARK.json`` gives), the median gap, and ``resolved`` only when the
change's median is better by more than the parent's interquartile range;
otherwise ``unresolved``.  Each pair's values follow.  Progress goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _export(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def _run(checkout: str, args, seconds: int) -> dict:
    cmd = [
        sys.executable, "spanbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"ab: {' '.join(cmd)} failed in {checkout}")
    return json.loads(lines[-1])


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[str]:
    """One line per metric, then each pair's parent/change values."""
    out = []
    for name in pairs[0][0]["metrics"]:
        p = [a["metrics"][name]["value"] for a, _ in pairs]
        c = [b["metrics"][name]["value"] for _, b in pairs]
        sign = 1 if better.get(name, "lower") == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(p, c))
        pq, cq = _quartiles(p), _quartiles(c)
        gap = sign * (pq[1] - cq[1])
        verdict = "resolved" if gap > pq[2] - pq[0] else "unresolved"
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        out.append(
            f"{name}: parent {fmt(pq)}  change {fmt(cq)}  wins {wins}/{len(pairs)}"
            f"  gap {gap:+.4g} vs parent IQR {pq[2] - pq[0]:.4g}  {verdict}"
        )
        out.append("    pairs " + ", ".join(f"{x:.4g}/{y:.4g}" for x, y in zip(p, c)))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--change", default=None)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args(argv)

    change = args.change or _git("stash", "create") or "HEAD"
    revs = {"parent": _git("rev-parse", args.parent), "change": _git("rev-parse", change)}
    if len({_git("rev-parse", f"{rev}^{{tree}}") for rev in revs.values()}) == 1:
        raise SystemExit(
            f"ab: parent and change hold the same tree ({revs['parent'][:12]}); "
            "pass --parent/--change, or stage new files before running"
        )
    work = args.workdir or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(work, exist_ok=True)
    dirs = {}
    for side, rev in revs.items():
        dirs[side] = os.path.join(work, f"{side}-{rev[:12]}")
        if not os.path.isdir(dirs[side]):
            _export(rev, dirs[side])
    print(f"# parent {revs['parent'][:12]}  change {revs['change'][:12]}  in {work}",
          file=sys.stderr)

    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    pairs = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            t0 = time.perf_counter()
            got[side] = _run(dirs[side], args, spec["run_seconds"])
            print(f"# pair {i + 1} {side}: {time.perf_counter() - t0:.0f}s "
                  f"failed {got[side]['failed']}/{got[side]['attempted']}",
                  file=sys.stderr)
        pairs.append((got["parent"], got["change"]))

    ratio = lambda k: "{}/{}".format(  # noqa: E731
        sum(p[k]["failed"] for p in pairs), sum(p[k]["attempted"] for p in pairs))
    print(f"{args.workload} seed {args.seed}, {len(pairs)} pairs; failed/attempted "
          f"operations: parent {ratio(0)}, change {ratio(1)}")
    print("\n".join(summarize(pairs, better)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
