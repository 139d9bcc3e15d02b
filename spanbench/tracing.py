"""Per-layer accounting, taken from outside the package.

A :class:`Tracer` records a span around each call into a layer: the
registry function that builds a frame (``build``), forcing the frame's
executed plan (``plan``) and the final action (``action``).  Each span gets
its own Spark job group, so the jobs it launched, their stages and their
tasks are read back from the status tracker.  Jobs launched from threads
the package starts itself carry no group; they are attributed to the span
that was open when they appeared.  After the action, the adaptive final
plan is walked for its SQL metrics.

Spans stay in memory and are written as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# (node class, SQL metric) -> per-layer metric it adds to
PLAN_METRICS = {
    ("WholeStageCodegenExec", "pipelineTime"): "action.pipeline_s",
    ("SortExec", "sortTime"): "action.sort_s",
    ("HashAggregateExec", "aggTime"): "action.agg_s",
    ("ObjectHashAggregateExec", "aggTime"): "action.agg_s",
    ("ShuffleExchangeExec", "shuffleBytesWritten"): "action.shuffle_write_bytes",
    ("*", "spillSize"): "action.spill_bytes",
    ("*", "pythonTotalTime"): "action.python_total_s",
    ("*", "pythonBootTime"): "action.python_boot_s",
    ("*", "pythonNumRowsReceived"): "action.python_rows",
}
SCAN_NODES = ("FileSourceScanExec", "InMemoryTableScanExec")


def _metric_value(sql_metric) -> float:
    """A SQL metric in seconds when it is a time, else as counted."""
    kind = sql_metric.metricType()
    v = float(sql_metric.value())
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _scan_partitions(node) -> int:
    if node.getClass().getSimpleName() == "InMemoryTableScanExec":
        return node.relation().cacheBuilder().cachedColumnBuffers().getNumPartitions()
    return node.inputRDD().getNumPartitions()


def plan_metrics(jplan) -> dict[str, float]:
    """Sum the metrics of :data:`PLAN_METRICS` over an executed plan, and
    count its scan tasks, its matview scans and its repartitions to a fixed
    partition count (the exchange the narrow-scan spread adds when it
    fires).  A codegen stage that feeds another inside the same task is
    timed inside the outer one, so only the outermost ``pipelineTime`` of
    each stage counts."""
    out: dict[str, float] = {
        "action.scan_tasks": 0, "action.repartitions": 0, "matview.scans": 0,
    }
    stack = [(jplan, False)]
    while stack:
        node, in_codegen = stack.pop()
        name = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "pipelineTime" and in_codegen:
                continue
            key = PLAN_METRICS.get((name, kv._1())) or PLAN_METRICS.get(("*", kv._1()))
            if key:
                out[key] = out.get(key, 0.0) + _metric_value(kv._2())
        if name in SCAN_NODES:
            out["action.scan_tasks"] += _scan_partitions(node)
            if name == "InMemoryTableScanExec":
                out["matview.scans"] += 1
        if name == "ShuffleExchangeExec" and (
            node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            out["action.repartitions"] += 1
        if name.endswith("ExchangeExec"):
            in_codegen = False
        elif name == "WholeStageCodegenExec":
            in_codegen = True
        stack.extend((child, in_codegen) for child in _children(node))
    return out


class Tracer:
    """Spans and job accounting for one traced run of one workload."""

    def __init__(self, sc):
        self.sc = sc
        self.status = sc.statusTracker()
        self.records: list[dict] = []
        self._seq = 0

    def _untagged(self) -> set[int]:
        return set(self.status.getJobIdsForGroup(None))

    def _jobs(self, groups: list[str], untagged_before: set[int]) -> dict[str, int]:
        jobs = self._untagged() - untagged_before
        for group in groups:
            jobs.update(self.status.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.status.getStageInfo(s)
                # a stage whose shuffle output was reused runs no task
                if st and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    @contextmanager
    def op(self, name: str):
        """The span of one operation (a query, a stream drain).  Yields its
        record; :meth:`span` adds the phases, and the record keeps their
        total job count."""
        self._seq += 1
        rec = {"op": name, "id": self._seq, "phases": {}}
        rec["start"] = time.perf_counter()
        yield rec
        rec["end"] = time.perf_counter()
        rec["s"] = rec["end"] - rec["start"]
        rec["jobs"] = sum(p["jobs"] for p in rec["phases"].values())
        self.records.append(rec)

    @contextmanager
    def span(self, op: dict, phase: str):
        """Time ``phase`` of ``op`` in a job group of its own.  Jobs that
        run in other groups, such as a streaming query's, count when the
        caller adds those groups to the yielded record's ``groups``."""
        self._seq += 1
        group = f"spanbench-{self._seq}-{op['op']}-{phase}"
        rec = {"id": self._seq, "parent": op["id"], "groups": [group]}
        before = self._untagged()
        self.sc.setJobGroup(group, f"{op['op']} {phase}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec["s"] = rec["end"] - rec["start"]
            rec.update(self._jobs(rec["groups"], before))
            op["phases"][phase] = rec

    def write(self, path: str) -> None:
        """One JSON line per operation, its phases nested."""
        with open(path, "w") as fh:
            for rec in self.records:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")
