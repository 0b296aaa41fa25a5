"""Per-layer metrics of a traced run, from its spans and its event log.

Pass-level numbers are medians over the warm passes; set-up numbers
come from the run's one set-up. Spark work is attributed to a pass through the
job description ``<workload>/<query>#<pass>`` and split between build
and execution by job submission time.
"""

from __future__ import annotations

import glob
import os

from perfbench.stats import median

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.configure_s": "s",
    "session.configure_calls": "count",
    "session.peak_rss_mb": "MB",
    "queries.load_all_s": "s",
    "queries.build_s": "s",
    "queries.build_py4j_calls": "count",
    "queries.build_jobs": "count",
    "tables.setup_register_views_s": "s",
    "tables.register_views_s": "s",
    "tables.register_views_calls": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.task_skew": "ratio",
    "operators.peak_exec_mem_mb": "MB",
    "sources.scan_mb": "MB",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "sources.write_files": "count",
    "trace.cold_s": "s",
    "trace.warm_s": "s",
    "trace.unaccounted_frac": "ratio",
}

_EVENT_SUMS = (
    "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "executor_cpu_s", "gc_s", "write_mb",
)


def _inside(span, outer) -> bool:
    return outer.start <= span.start and span.end <= outer.end


def _total(spans) -> float:
    return sum(s.duration for s in spans)


def _pass_row(tracer, pass_span, label: str, events: dict, scans: list) -> tuple[dict, dict]:
    inside = [s for s in tracer.spans if s is not pass_span and _inside(s, pass_span)]
    named = lambda n: [s for s in inside if s.name == n]  # noqa: E731
    builds, execs = named("bench.build"), named("bench.exec")
    configure, views = named("session.configure_for_scale"), named("tables.register_views")
    ev = {k: 0.0 for k in (*_EVENT_SUMS, "peak_exec_mem_mb", "task_skew")}
    submits = []
    for desc, tot in events.items():
        if not desc.endswith(f"#{label}"):
            continue
        for k in _EVENT_SUMS:
            ev[k] += tot.get(k, 0.0)
        ev["peak_exec_mem_mb"] = max(ev["peak_exec_mem_mb"], tot.get("peak_exec_mem_mb", 0.0))
        ev["task_skew"] = max(ev["task_skew"], tot.get("task_skew", 0.0))
        submits.extend(tot.get("job_submit_times", []))
    build_jobs = sum(1 for t in submits if any(b.start <= t <= b.end for b in builds))
    row = {
        "session.configure_s": _total(configure),
        "session.configure_calls": len(configure),
        "queries.build_s": _total(builds),
        "queries.build_py4j_calls": sum(b.attrs.get("py4j_calls", 0) for b in builds),
        "queries.build_jobs": build_jobs,
        "tables.register_views_s": _total(views),
        "tables.register_views_calls": len(views),
        "operators.exec_s": _total(execs),
        "operators.jobs": len(submits) - build_jobs,
        "operators.stages": ev["stages"],
        "operators.tasks": ev["tasks"],
        "operators.shuffle_read_mb": ev["shuffle_read_mb"],
        "operators.shuffle_write_mb": ev["shuffle_write_mb"],
        "operators.spill_mb": ev["spill_mb"],
        "operators.executor_cpu_s": ev["executor_cpu_s"],
        "operators.gc_s": ev["gc_s"],
        "operators.task_skew": ev["task_skew"],
        "operators.peak_exec_mem_mb": ev["peak_exec_mem_mb"],
        "sources.scan_mb": sum(mb for t, mb in scans if pass_span.start <= t <= pass_span.end),
        "sources.write_s": _total(named("sources.write_parquet")),
        "sources.write_mb": ev["write_mb"],
        "trace.warm_s": pass_span.duration,
        "trace.unaccounted_frac": (pass_span.duration - _total(builds) - _total(execs))
        / pass_span.duration,
    }
    per_query = {}
    for b in builds:
        per_query.setdefault(b.attrs["query"], {})["build_s"] = b.duration
        per_query[b.attrs["query"]]["build_py4j_calls"] = b.attrs.get("py4j_calls", 0)
    for e in execs:
        per_query.setdefault(e.attrs["query"], {})["exec_s"] = e.duration
    return row, per_query


def layer_metrics(tracer, events: dict, scans: list, warm_labels: list[str], out_dir: str):
    """(metric values, per-query medians of build and exec time)."""
    passes = {s.attrs["label"]: s for s in tracer.spans if s.name == "bench.pass"}
    rows, per_query_rows = [], []
    for label in warm_labels:
        row, pq = _pass_row(tracer, passes[label], label, events, scans)
        rows.append(row)
        per_query_rows.append(pq)
    values = {k: median([r[k] for r in rows]) for k in rows[0]}

    setup = next(s for s in tracer.spans if s.name == "bench.setup")

    def first_in_setup(name):
        hits = [s for s in tracer.spans if s.name == name and _inside(s, setup)]
        return hits[0].duration if hits else 0.0

    values["session.get_spark_s"] = first_in_setup("session.get_spark")
    values["queries.load_all_s"] = first_in_setup("queries.load_all")
    values["tables.setup_register_views_s"] = first_in_setup("tables.register_views")
    values["sources.write_files"] = len(glob.glob(os.path.join(out_dir, "part-*")))

    per_query = {}
    for q in per_query_rows[0]:
        per_query[q] = {
            k: median([r[q][k] for r in per_query_rows if q in r and k in r[q]])
            for k in per_query_rows[0][q]
        }
    return values, per_query
