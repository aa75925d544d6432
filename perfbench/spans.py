"""Spans around the benchmark's calls into the program, plus Spark counts
read from outside between calls.

Nothing here runs inside a timed call: counters are snapshotted before a
span starts and after it ends (with the listener bus drained), so a span's
wall time is the call's own. Spans stay in memory and are written to the
run's sidecar file when the benchmark ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class SparkProbe:
    """Reads job, stage and executor counters of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event,
        so status-store totals include the work that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self) -> dict[str, float]:
        """Cumulative counters since the context started."""
        dag = self._jsc.dagScheduler()
        out = {
            "jobs": int(dag.nextJobId()),
            "stages": int(dag.nextStageId()),
            "tasks": 0,
            "executor_run_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "input_mb": 0.0,
        }
        execs = self._jsc.statusStore().executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["executor_run_s"] += e.totalDuration() / 1e3
            out["gc_s"] += e.totalGCTime() / 1e3
            out["shuffle_write_mb"] += e.totalShuffleWrite() / 1e6
            out["shuffle_read_mb"] += e.totalShuffleRead() / 1e6
            out["input_mb"] += e.totalInputBytes() / 1e6
        return out

    def group_jobs(self, group: str) -> tuple[int, int]:
        """(jobs, stages that ran) tagged with ``group`` by the status
        tracker. Jobs submitted from helper threads carry no group, which
        is why ``totals`` also counts jobs by scheduler id."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages.add(s)
        return len(jobs), len(stages)


def scan_metrics(df, path_suffix: str) -> dict[str, int]:
    """Files and rows read by the file scans of ``df``'s last executed
    plan whose root path ends with ``path_suffix``. Walks through adaptive
    query stages; returns zeros when no such scan ran."""
    out = {"files": 0, "rows": 0}
    seen = set()

    def visit(node) -> None:
        if node is None or node.id() in seen:
            return
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
            return
        if cls == "FileSourceScanExec" and str(
            node.relation().location().rootPaths().head()
        ).endswith(path_suffix):
            metrics = node.metrics()
            out["files"] += int(metrics.apply("numFiles").value())
            out["rows"] += int(metrics.apply("numOutputRows").value())
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return out


class Tracer:
    """Records one span per traced call with the Spark work it caused."""

    def __init__(self, spark):
        self.probe = SparkProbe(spark)
        self.spans: list[dict] = []
        # seconds spent in the hooks below, which run inside the ops' clocks
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str, **attrs):
        t_hook = time.perf_counter()
        group = f"perfbench-{len(self.spans)}"
        self.probe.drain()
        before = self.probe.totals()
        self.probe.sc.setJobGroup(group, layer)
        rec = {"layer": layer, **attrs}
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_hook
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self.probe.sc.setLocalProperty("spark.jobGroup.id", None)
            self.probe.drain()
            after = self.probe.totals()
            group_jobs, group_stages = self.probe.group_jobs(group)
            rec["wall_s"] = t1 - t0
            rec.update({k: after[k] - before[k] for k in after})
            rec["group_jobs"], rec["group_stages"] = group_jobs, group_stages
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1
