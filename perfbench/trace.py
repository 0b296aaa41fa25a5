"""Spans around the engine's layer boundaries, and the Spark event log.

The tracer wraps the public functions of each layer (``session``,
``queries``, ``tables``, ``operators.sort``, ``sources.writers``) from the
outside, by rebinding module attributes, so no engine file changes. Spans
are kept in memory and written out once at the end of a run.

Times are wall-clock epoch seconds (``time.time()``), so spans line up
with the millisecond timestamps of the Spark event log.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import median


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans (one thread) and counts at the same
    boundaries. A disabled tracer records nothing and costs one branch."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self.run_id, dict(attrs))
        before = dict(self.counts)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            for k, v in self.counts.items():
                if v != before.get(k, 0):
                    sp.attrs[k] = v - before.get(k, 0)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans], f, indent=1
            )


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


def install(tracer: Tracer) -> None:
    """Rebind the layer entry points to traced wrappers (idempotent)."""
    import py4j.java_gateway as jg

    from hadoop_common_spark import queries, session, tables
    from hadoop_common_spark.operators import sort
    from hadoop_common_spark.sources import writers

    def rebind(mod, attr, name):
        fn = getattr(mod, attr)
        if not getattr(fn, "__wrapped_by_tracer__", False):
            setattr(mod, attr, tracer.wrap(name, fn))
        return getattr(mod, attr)

    configure = rebind(session, "configure_for_scale", "session.configure_for_scale")
    # the query wrappers call the names they imported into ``queries``
    queries.configure_for_scale = configure
    rebind(session, "get_spark", "session.get_spark")
    views = rebind(tables, "register_views", "tables.register_views")
    queries.register_views = views
    rebind(queries, "load_all", "queries.load_all")
    rebind(sort, "total_order_sort", "operators.total_order_sort")
    rebind(writers, "write_parquet", "sources.write_parquet")

    send = jg.GatewayClient.send_command
    if not getattr(send, "__wrapped_by_tracer__", False):

        def counted(self, *args, **kwargs):
            tracer.counts["py4j_calls"] += 1
            return send(self, *args, **kwargs)

        counted.__wrapped_by_tracer__ = True
        jg.GatewayClient.send_command = counted


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` arguments for a plain JSON-lines event log."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]


_MB = 1e6


def _metric_names(plan: dict, names: dict) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, names)


def read_event_log(path: str) -> tuple[dict, list]:
    """Summarise an uncompressed event log.

    Returns ``({description: totals}, scans)``. The totals of a job
    description hold job, stage and task counts, byte volumes, CPU/GC
    time, peak task execution memory, the worst stage's max/median task
    time, and job submission times (epoch seconds, for matching jobs to
    spans). ``scans`` lists ``(start, MB)`` per SQL execution: the
    scans' "size of files read", which counts only the files left after
    pruning. (Task input metrics are no substitute: with Spark 4.1's
    parquet reader they counted 2.9 KB of a 46 MB scan.)"""
    metric_names: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_mb: dict[int, float] = defaultdict(float)
    stage_desc: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_times: dict[str, list[float]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _metric_names(ev["sparkPlanInfo"], metric_names)
                if kind.endswith("SQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"] / 1000.0
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    if metric_names.get(acc_id) == "size of files read":
                        exec_mb[ev["executionId"]] += value / _MB
            elif kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                out[desc]["jobs"] += 1
                job_times[desc].append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_desc[sid] = (ev.get("Properties") or {}).get("spark.job.description", "")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                desc = stage_desc.get(sid, "")
                out[desc]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                desc = stage_desc.get(sid, "")
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                t = out[desc]
                t["tasks"] += 1
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
                t["peak_exec_mem_mb"] = max(t["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / _MB)
                t["write_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
    for sid, ms in task_ms.items():
        if len(ms) >= 2:
            t = out[stage_desc.get(sid, "")]
            t["task_skew"] = max(t["task_skew"], max(ms) / max(median(ms), 1))
    result = {k: dict(v) for k, v in out.items()}
    for k, times in job_times.items():
        result[k]["job_submit_times"] = times
    scans = [(exec_start[e], mb) for e, mb in exec_mb.items() if e in exec_start]
    return result, scans


def find_event_log(log_dir: str) -> str:
    """The one finished event log in ``log_dir``."""
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
