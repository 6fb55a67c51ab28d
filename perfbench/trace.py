"""Spans around the benchmark's calls into each layer, plus readers for
what Spark itself records at the same boundaries: the status store (jobs,
stages), the query-execution planning tracker and streaming progress.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

#: a job runs Python workers when one of its stages' RDD graph holds one of
#: these operators (PythonRDD for RDD jobs, the *Python/*Pandas/*Arrow exec
#: nodes for SQL jobs with Python UDFs or a Python data source)
_PYTHON_NODE = re.compile(r"Python|Pandas|MapInArrow")


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, trace);
    times are epoch seconds so they line up with Spark's epoch-ms records."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: int | str):
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "trace": trace, "start": time.time(),
             "end": None, "parent": self._stack[-1] if self._stack else None}
        )
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float, trace=None, parent=None) -> int:
        """Record a span measured elsewhere (a Spark job, a planning phase,
        a micro-batch). Without ``parent`` it is attached to the innermost
        benchmark span that contains its start."""
        if parent is None:
            parent = self._innermost(start)
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "trace": trace,
                           "start": start, "end": end, "parent": parent})
        return sid

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s["end"] is None or s["name"].startswith(("job", "plan.")):
                continue
            if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= self.spans[best]["start"]
            ):
                best = s["id"]
        return best

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, layer: str) -> float:
        """Time during which a span of ``layer`` (its name is ``layer`` or
        starts with ``layer.``) was open and none of its children was:
        the union over those spans of each span minus its children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        own: list[tuple[float, float]] = []
        for s in self.spans:
            if s["name"] != layer and not s["name"].startswith(layer + "."):
                continue
            cursor = s["start"]
            for a, b in _union((c["start"], c["end"]) for c in children.get(s["id"], [])):
                if a > cursor:
                    own.append((cursor, min(a, s["end"])))
                cursor = max(cursor, b)
            if cursor < s["end"]:
                own.append((cursor, s["end"]))
        return sum(b - a for a, b in _union(own))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


class PlanPhaseListener:
    """JVM ``QueryExecutionListener`` (through the py4j callback server)
    recording the planning phases of every execution that actually ran —
    a ``df.write`` plans under its own QueryExecution, not the DataFrame's."""

    def __init__(self) -> None:
        self.phases: list[tuple[str, float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            ph = kv._2()
            self.phases.append((kv._1(), ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_plan_listener(spark) -> PlanPhaseListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanPhaseListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def add_plan_spans(tracer: Tracer, listener: PlanPhaseListener) -> None:
    names = {"analysis": "plan.analysis", "optimization": "plan.optimization",
             "planning": "plan.physical"}
    for phase, start, end in listener.phases:
        if tracer._innermost(start) is not None:  # inside a measured span
            tracer.add(names.get(phase, "plan." + phase), start, end)


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _graph_names(cluster, out: list[str]) -> list[str]:
    it = cluster.childNodes().iterator()
    while it.hasNext():
        out.append(it.next().name())
    it = cluster.childClusters().iterator()
    while it.hasNext():
        c = it.next()
        out.append(c.name())
        _graph_names(c, out)
    return out


def job_stage_metrics(spark, tracer: Tracer, job_ids: list[int]) -> dict:
    """Engine-wide counters for ``job_ids`` from the status store; adds one
    ``job`` span per job to ``tracer``."""
    store = spark._jsc.sc().statusStore()
    wanted = set(job_ids)
    stage_ids: set[int] = set()
    n_python = 0
    for jid in sorted(wanted):
        job = store.job(jid)
        start, end = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
        if start is not None and end is not None:
            tracer.add("job", start, end)
        sids = []
        it = job.stageIds().iterator()
        while it.hasNext():
            sids.append(int(it.next()))
        stage_ids.update(sids)
        if any(
            _PYTHON_NODE.search(n)
            for sid in sids
            for n in _graph_names(store.operationGraphForStage(sid).rootCluster(), [])
        ):
            n_python += 1
    out = {"run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "shuffle_read": 0.0,
           "shuffle_write": 0.0, "spill": 0.0, "input": 0.0}
    gw = spark.sparkContext._gateway
    stages = store.stageList(None, False, False, gw.new_array(spark._jvm.double, 0), None)
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if int(s.stageId()) not in stage_ids:
            continue
        out["run_ms"] += s.executorRunTime()
        out["cpu_ns"] += s.executorCpuTime()
        out["gc_ms"] += s.jvmGcTime()
        out["shuffle_read"] += s.shuffleReadBytes()
        out["shuffle_write"] += s.shuffleWriteBytes()
        out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["input"] += s.inputBytes()
    return {
        "jobs.jvm": len(wanted) - n_python,
        "jobs.python": n_python,
        "stage.executor_run_s": out["run_ms"] / 1e3,
        "stage.executor_cpu_s": out["cpu_ns"] / 1e9,
        "stage.gc_s": out["gc_ms"] / 1e3,
        "shuffle.read_bytes": out["shuffle_read"],
        "shuffle.write_bytes": out["shuffle_write"],
        "spill.bytes": out["spill"],
        "input.bytes": out["input"],
    }


def job_floor_ms(spark, n: int = 15) -> float:
    """Scheduling floor of the job kind the workloads run: the median wall
    time of a one-row, one-partition SQL noop write (a JVM-only job)."""
    df = spark.range(0, 1, 1, 1)
    df.write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(n):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e3


def job_start(spark, job_id: int) -> float:
    """Submission time of a job, epoch seconds."""
    return _epoch_s(spark._jsc.sc().statusStore().job(job_id).submissionTime())


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
