"""Spans, Spark counters and host conditions, all read from outside the
engine.

A span is recorded by the benchmark around one call into the engine.
While a span is open, the Spark jobs its thread submits carry the
span's id as their job group (``spark.jobGroup.id``), so after the run
every job in the application status store maps to exactly one span.
Stage counters (tasks, executor CPU, input and shuffle bytes) come from
the same store, and the files and rows of each SQL plan node from the
SQL status store. Spans stay in memory; ``Tracer.harvest`` turns them into
per-span figures once the measured work is over.

With tracing off the span context manager only yields, so untraced
runs pay nothing for it.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    def attach(self, spark) -> None:
        """Bind the session (it may start inside the first span)."""
        self.spark = spark
        if self.enabled and self._stack:
            self._set_group(self._stack[-1].sid)

    def _set_group(self, sid: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", sid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb-{os.getpid()}-{self._n}", name, parent.sid if parent else None, time.time())
        self._set_group(sp.sid)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent.sid if parent else None)
            self.spans.append(sp)

    # -- post-run harvest ---------------------------------------------
    def harvest(self) -> dict[str, dict]:
        """Per-span-name figures, averaged over the span's occurrences:
        ``self_s`` (wall minus child spans), ``jobs``, ``tasks``,
        ``driver_gap_s`` (wall minus the union of its jobs' spans),
        ``cpu_s``, ``input_bytes``, ``shuffle_bytes``, and the
        ``files_read`` and ``scan_rows`` of its file scans. A span's jobs
        include its descendants' jobs."""
        if not self.enabled or not self.spans:
            return {}
        jobs = spark_jobs(self.spark)
        scans_by_job: dict[int, tuple[int, int]] = {}
        for e in sql_executions(self.spark):
            files, rows = scan_totals(e["nodes"])
            scans_by_job[min(e["jobs"])] = (files, rows)
        children = self._children()
        agg: dict[str, dict] = {}
        for s in self.spans:
            ids = self._subtree(s.sid, children)
            mine = [j for j in jobs if j["group"] in ids]
            wall = s.end - s.start
            job_iv = clip([(j["t0"], j["t1"]) for j in mine], s.start, s.end)
            child_iv = [(c.start, c.end) for c in children.get(s.sid, [])]
            row = {
                "n": 1,
                "wall_s": wall,
                "self_s": wall - union_length(child_iv),
                "jobs": len(mine),
                "tasks": sum(j["tasks"] for j in mine),
                "driver_gap_s": wall - union_length(job_iv),
                "cpu_s": sum(j["cpu_s"] for j in mine),
                "input_bytes": sum(j["input_bytes"] for j in mine),
                "shuffle_bytes": sum(j["shuffle_bytes"] for j in mine),
                "files_read": sum(scans_by_job.get(j["id"], (0, 0))[0] for j in mine),
                "scan_rows": sum(scans_by_job.get(j["id"], (0, 0))[1] for j in mine),
            }
            a = agg.setdefault(s.name, {k: 0.0 for k in row})
            for k, v in row.items():
                a[k] = a.get(k, 0.0) + v
        for name, a in agg.items():
            n = a.pop("n")
            for k in a:
                a[k] /= n
            a["occurrences"] = n
        return agg

    def _children(self) -> dict[str, list[Span]]:
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                children.setdefault(s.parent, []).append(s)
        return children

    def _subtree(self, sid: str, children: dict[str, list[Span]]) -> set[str]:
        out = {sid}
        for c in children.get(sid, []):
            out |= self._subtree(c.sid, children)
        return out

    def nodes(self, name: str) -> list[dict]:
        """Plan nodes of the SQL executions whose jobs ran inside a span
        called ``name`` (or inside its child spans)."""
        if not self.enabled:
            return []
        children = self._children()
        sids = set()
        for s in self.spans:
            if s.name == name:
                sids |= self._subtree(s.sid, children)
        group = {j["id"]: j["group"] for j in spark_jobs(self.spark)}
        return [
            n
            for e in sql_executions(self.spark)
            if any(group.get(j) in sids for j in e["jobs"])
            for n in e["nodes"]
        ]

    def tree(self) -> list[dict]:
        """The raw spans with parentage, for the trace file."""
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def spark_jobs(spark) -> list[dict]:
    """Every job in the application status store with its group, span
    and stage counters."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, comp, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
        if not sub.isDefined():
            continue
        t0 = sub.get().getTime() / 1e3
        t1 = comp.get().getTime() / 1e3 if comp.isDefined() else time.time()
        cpu = inp = shuf = 0
        sit = j.stageIds().iterator()
        while sit.hasNext():
            try:
                st = store.lastStageAttempt(int(str(sit.next())))
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            cpu += st.executorCpuTime()
            inp += st.inputBytes()
            shuf += st.shuffleWriteBytes()
        out.append(
            {
                "id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "t0": t0,
                "t1": t1,
                "tasks": j.numTasks(),
                "cpu_s": cpu / 1e9,
                "input_bytes": inp,
                "shuffle_bytes": shuf,
            }
        )
    return out


ROW_METRICS = ("number of output rows", "number of files read")


def sql_executions(spark) -> list[dict]:
    """Every SQL execution in the SQL status store that ran jobs: its
    job ids and its plan nodes, each with its name, description and
    row and file counts (``ROW_METRICS``)."""
    sq = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = sq.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        job_ids = [int(str(x)) for x in e.jobs().keys().mkString(",").split(",") if x]
        if not job_ids:
            continue
        eid = e.executionId()
        values = sq.executionMetrics(eid)
        nodes = []
        nit = sq.planGraph(eid).allNodes().iterator()
        while nit.hasNext():
            node = nit.next()
            metrics = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                pm = mit.next()
                if pm.name() in ROW_METRICS:
                    v = values.get(pm.accumulatorId())
                    metrics[pm.name()] = int(str(v.get()).replace(",", "") or 0) if v.isDefined() else 0
            nodes.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
        out.append({"jobs": job_ids, "nodes": nodes})
    return out


def scan_totals(nodes: list[dict]) -> tuple[int, int]:
    """Files and rows read by the file scans among ``nodes`` (a file
    scan is a node that counts files read)."""
    scans = [n["metrics"] for n in nodes if "number of files read" in n["metrics"]]
    return (
        sum(m["number of files read"] for m in scans),
        sum(m.get("number of output rows", 0) for m in scans),
    )


# ---------------------------------------------------------------------------
# host conditions: recorded beside every run, never used to drop one
# ---------------------------------------------------------------------------


def cpu_probe() -> float:
    """The pure-numpy ambient-CPU probe of bench.py: eight 512x512
    matmuls, about 0.05 s on an idle core."""
    a = np.random.default_rng(0).standard_normal((512, 512))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a / 512
    return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM from /proc (0 where /proc is absent)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
