"""Self-tests of the benchmark: statistics, span arithmetic, failure
counting, output checks, input determinism, and one tiny-input run of
every workload (marked slow: each launches a driver JVM).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, stats, trace
from perfbench.run import count_outcomes
from perfbench.workloads import WORKLOADS, PassResult, same_result, teravalidate

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_quartiles_and_spread_follow_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartiles(vals) == (q1, q2, q3)
    assert stats.median(vals) == 5.5
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)
    with pytest.raises(ValueError):
        stats.median([])


def _span(i, start, end, parent=None):
    return trace.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0), _span(4, 9.5, 12.0, 0)]
    # covered: [1, 4] + [6, 7] + [9.5, 10] (clipped to the parent)
    assert trace.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert trace.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_attributes_counts():
    t = trace.Tracer("run-1")
    with t.span("outer") as outer:
        t.counts["py4j_calls"] += 2
        with t.span("inner", query="q") as inner:
            t.counts["py4j_calls"] += 3
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.attrs == {"query": "q", "py4j_calls": 3}
    assert outer.attrs["py4j_calls"] == 5
    assert t.self_time(outer) == pytest.approx(outer.duration - inner.duration)
    off = trace.Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_a_wrong_result_is_caught_and_counted():
    cols, rows = ["k", "v"], [(1, 2.5), (2, 3.5)]
    assert same_result(cols, rows, ["v", "k"], [(3.5, 2), (2.5, 1)])
    assert not same_result(cols, rows, cols, [(1, 2.5), (2, 3.6)])
    assert not same_result(cols, rows, cols, rows[:1])
    assert not same_result(cols, rows, ["k", "w"], rows)

    passes = [PassResult(1.0, kept={"a": 0, "b": 0}), PassResult(1.0, kept={"a": 0}, raised=["b"])]
    assert count_outcomes(passes, 2, set()) == (4, 1)
    assert count_outcomes(passes, 2, {"a"}) == (4, 3)


def _write_parts(out_dir, parts):
    os.makedirs(out_dir)
    for i, keys in enumerate(parts):
        pq.write_table(pa.table({"key": keys}), os.path.join(out_dir, f"part-{i:05d}-x.parquet"))


def test_teravalidate_checks_order_within_and_across_parts(tmp_path):
    _write_parts(str(tmp_path / "ok"), [["a", "b"], [], ["b", "c", "d"]])
    assert teravalidate(str(tmp_path / "ok")) == 5
    _write_parts(str(tmp_path / "inside"), [["a", "c", "b"]])
    with pytest.raises(ValueError):
        teravalidate(str(tmp_path / "inside"))
    _write_parts(str(tmp_path / "across"), [["a", "d"], ["c", "e"]])
    with pytest.raises(ValueError):
        teravalidate(str(tmp_path / "across"))


def test_event_log_summary_by_job_description(tmp_path):
    desc = {"spark.job.description": "w/q#w0"}
    task = lambda ms, cpu: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": 1,
        "Task Info": {"Launch Time": 0, "Finish Time": ms},
        "Task Metrics": {
            "Executor CPU Time": cpu, "JVM GC Time": 10, "Peak Execution Memory": 2e6,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3e6},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4e6},
        },
    }
    sql = "org.apache.spark.sql.execution.ui.SparkListener"
    plan = {"nodeName": "Scan parquet", "metrics": [{"name": "size of files read", "accumulatorId": 7}]}
    events = [
        {"Event": sql + "SQLExecutionStart", "executionId": 3, "time": 4000, "sparkPlanInfo": plan},
        {"Event": sql + "DriverAccumUpdates", "executionId": 3, "accumUpdates": [[7, 5e6], [8, 1]]},
        {"Event": "SparkListenerJobStart", "Submission Time": 5000, "Properties": desc},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": desc},
        task(100, 1e9), task(100, 1e9), task(400, 2e9),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    by_desc, scans = trace.read_event_log(str(path))
    assert scans == [(4.0, 5.0)]
    out = by_desc["w/q#w0"]
    assert (out["jobs"], out["stages"], out["tasks"]) == (1, 1, 3)
    assert out["executor_cpu_s"] == pytest.approx(4.0)
    assert out["gc_s"] == pytest.approx(0.03)
    assert out["task_skew"] == pytest.approx(4.0)
    assert out["shuffle_read_mb"] == pytest.approx(9.0)
    assert out["peak_exec_mem_mb"] == pytest.approx(2.0)
    assert out["job_submit_times"] == [5.0]


def _hashes(d):
    return {
        os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(d, "*.parquet")))
    }


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for kind, write in (
        ("base", lambda d, s: gen.write_base_tables(d, s, 0.001)),
        ("tera", lambda d, s: gen.write_teragen(d, s, 5000, 2)),
    ):
        a, b, c = (str(tmp_path / f"{kind}{i}") for i in range(3))
        write(a, 7)
        write(b, 7)
        write(c, 8)
        ha, hb, hc = _hashes(a), _hashes(b), _hashes(c)
        assert ha == hb and len(ha) >= 2
        assert all(ha[k] != hc[k] for k in ha if k not in ("region.parquet", "nation.parquet"))
    # another seed only reorders the fixture rows
    t7 = pq.read_table(str(tmp_path / "base0" / "lineitem.parquet")).sort_by("l_orderkey")
    t8 = pq.read_table(str(tmp_path / "base2" / "lineitem.parquet")).sort_by("l_orderkey")
    assert t7.num_rows == t8.num_rows
    assert sorted(t7.to_pylist(), key=str) == sorted(t8.to_pylist(), key=str)


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == list(layers.LAYER_UNITS)
    from perfbench.run import E2E_UNITS

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run_is_correct_and_reports_every_metric(workload, traced):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(traced), "--tiny"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if traced else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
