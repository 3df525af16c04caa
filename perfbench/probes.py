"""Measurement from outside the program: trace spans, Spark's own
counters per job group, SQL metrics of executed plans, and the driver
JVM's peak resident memory."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter()}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cursor = 0.0, lo
            for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
                a, b = max(k["start"], cursor), min(k["end"], hi)
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = hi - lo - covered
        return out

    def write(self, path: str) -> None:
        selft = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = []
        for s in self.spans:
            r = dict(s)
            r["start"] = round(s["start"] - t0, 6)
            r["end"] = round(s["end"] - t0, 6)
            r["self_s"] = round(selft[s["id"]], 6)
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=0)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def last_job_id(spark) -> int:
    """Highest job id submitted so far (-1 before the first job)."""
    jobs = _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def jobs_since(spark, last: int) -> list[int]:
    """Ids of the jobs submitted after job ``last`` — the jobs of one
    call when the client issues calls sequentially. Streaming queries
    run their micro-batches under their own job group, so maintainer
    calls are attributed this way."""
    jobs = _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return [j.jobId() for j in jobs if j.jobId() > last]


def job_counters(spark, job_ids) -> dict[str, float]:
    """Jobs, stages and tasks of ``job_ids``, with per-stage totals
    from the status store (time in seconds, bytes in MB)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "jobs",
            "stages",
            "skipped_stages",
            "tasks",
            "executor_run_s",
            "executor_cpu_s",
            "shuffle_write_mb",
            "shuffle_read_mb",
        ),
        0.0,
    )
    seen: set[int] = set()
    for jid in job_ids:
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                out["skipped_stages"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            ) / 1e6
    return out


#: SQL metrics summed over every node of an executed plan, keyed by
#: Spark's metric name.
PLAN_METRICS = (
    "numFiles",
    "filesSize",
    "scanTime",
    "pythonTotalTime",
    "pythonBootTime",
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
)


#: Divisors that turn Spark's timing metrics into seconds.
_UNIT = {"timing": 1e3, "nsTiming": 1e9}


def plan_metrics(df) -> dict[str, float]:
    """Sum :data:`PLAN_METRICS` over the executed plan of an action
    already run on ``df``, descending into adaptive query stages,
    reused exchanges and subqueries. Times are in seconds, sizes in
    bytes."""
    totals = dict.fromkeys(PLAN_METRICS, 0.0)
    root = df._jdf.queryExecution().executedPlan()
    stack, seen = [root], set()
    while stack:
        node = stack.pop()
        key = node.id() if hasattr(node, "id") else id(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = kv._1()
            if k in totals:
                metric = kv._2()
                totals[k] += metric.value() / _UNIT.get(metric.metricType(), 1)
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
        elif name == "ReusedExchange":
            stack.append(node.child())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return totals


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
