"""Unit pins for the bench regression gate and the stdout contract
(pure functions in bench.py), plus one Spark check that the plan
fingerprint is stable across builds and moves with the plan.

The gate is measurement infrastructure, but it is DRIVER-FACING: its
flags land verbatim in the archived BENCH_r{N}.json. It flags a row when
its physical-plan fingerprint differs from the previous archive's
("plan"), when its raw wall time is above 1.5x the archived one
("time"), or both — a number the host cannot move next to one it can.
Reference anchor: the SortValidator discipline
(JCT/mapred/SortValidator.java:54) — validate the measurement, not
just the output.

Runtime on 4 cores: 16 s for the file, nearly all of it the Spark
session and the four flagship plans of the fingerprint test; the pure
tests take about one second."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from types import SimpleNamespace

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


# Two builds of the same query in one session differ only in these
# counters: expression ids (with and without the L suffix), exchange
# plan ids, and the lambda-variable suffix of higher-order functions.
_BUILD_1 = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[n_name#12], functions=[sum(rev#40L)], output=[n_name#12, revenue#41L])
   +- Exchange hashpartitioning(n_name#12, 8), ENSURE_REQUIREMENTS, [plan_id=118]
      +- Project [transform(toks#7, lambdafunction(upper(lambda x_22#90), lambda x_22#90, false)) AS up#91]
         +- BroadcastHashJoin [o_custkey#3L], [c_custkey#5L], Inner, BuildRight, false
            :- Filter aggregate(v#8, 0, lambdafunction((lambda acc_3 + lambda y_4), lambda acc_3, lambda y_4, false))
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=97]"""
_BUILD_2 = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[n_name#212], functions=[sum(rev#240L)], output=[n_name#212, revenue#241L])
   +- Exchange hashpartitioning(n_name#212, 8), ENSURE_REQUIREMENTS, [plan_id=1018]
      +- Project [transform(toks#207, lambdafunction(upper(lambda x_57#290), lambda x_57#290, false)) AS up#291]
         +- BroadcastHashJoin [o_custkey#203L], [c_custkey#205L], Inner, BuildRight, false
            :- Filter aggregate(v#208, 0, lambdafunction((lambda acc_31 + lambda y_32), lambda acc_31, lambda y_32, false))
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=997]"""


def _fake_df(plan: str):
    qe = SimpleNamespace(executedPlan=lambda: SimpleNamespace(toString=lambda: plan))
    return SimpleNamespace(_jdf=SimpleNamespace(queryExecution=lambda: qe))


def test_normalizer_equates_two_builds_of_one_plan(bench):
    assert _BUILD_1 != _BUILD_2
    assert bench.normalize_plan(_BUILD_1) == bench.normalize_plan(_BUILD_2)
    assert bench.plan_fingerprint(_fake_df(_BUILD_1)) == bench.plan_fingerprint(_fake_df(_BUILD_2))
    norm = bench.normalize_plan(_BUILD_1)
    assert "#" not in norm and "plan_id=]" in norm
    assert "lambda x," in norm and "lambda acc +" in norm and "x_22" not in norm


def test_normalizer_keeps_an_operator_change_visible(bench):
    smj = _BUILD_2.replace("BroadcastHashJoin", "SortMergeJoin")
    assert bench.plan_fingerprint(_fake_df(_BUILD_1)) != bench.plan_fingerprint(_fake_df(smj))
    # a changed literal inside a lambda still differs: only the counter
    # suffix is stripped, not the body
    changed = _BUILD_1.replace("upper(lambda x_22#90)", "lower(lambda x_22#90)")
    assert bench.normalize_plan(changed) != bench.normalize_plan(_BUILD_1)


def test_gate_single_component_flags_are_labeled(bench):
    """A plan change at an unchanged time fires "plan"; a slower row with
    the same plan fires "time" — which says on its face that the plan
    did not move."""
    out = bench._regressions({"q": 1.0}, {"q": 1.0}, {"q": "new"}, {"q": "old"}, "BENCH_DETAIL_r13.json")
    assert out["q"] == {
        "prev": 1.0, "now": 1.0, "norm": 1.0, "fired": "plan", "base": "BENCH_DETAIL_r13.json",
    }
    out = bench._regressions({"q": 2.0}, {"q": 1.0}, {"q": "same"}, {"q": "same"}, "r13")
    assert out["q"]["fired"] == "time" and out["q"]["norm"] == 2.0


def test_gate_fires_when_both_regress_and_names_components(bench):
    out = bench._regressions({"q": 2.0}, {"q": 1.0}, {"q": "new"}, {"q": "old"}, "r13")
    assert out["q"]["fired"] == "plan+time"
    assert out["q"]["norm"] == 2.0


def test_gate_fingerprints_are_keyed_by_tier_prefix(bench):
    fps, prev_fps = {"scale/q": "new", "q": "same"}, {"scale/q": "old", "q": "same"}
    assert bench._regressions({"q": 1.0}, {"q": 1.0}, fps, prev_fps, "r13") == {}
    out = bench._regressions({"q": 1.0}, {"q": 1.0}, fps, prev_fps, "r13", "scale/")
    assert out["q"]["fired"] == "plan"


def test_gate_skips_missing_and_errored_baselines(bench):
    """No baseline, zero baseline, or an errored (-1) current timing
    never flags, even when the plan changed; a fingerprint missing on
    either side (an archive from before fingerprints) is no plan flag."""
    fps = {"new_q": "a", "err_q": "a", "zero_prev": "a", "no_prev_fp": "a"}
    prev_fps = {"new_q": "b", "err_q": "b", "zero_prev": "b"}
    out = bench._regressions(
        {"new_q": 50.0, "err_q": -1.0, "zero_prev": 1.0, "no_prev_fp": 1.0},
        {"err_q": 1.0, "zero_prev": 0.0, "no_prev_fp": 1.0},
        fps, prev_fps, "r13",
    )
    assert out == {}


def test_gate_boundary_is_strictly_above_1_5(bench):
    assert bench._regressions({"q": 1.5}, {"q": 1.0}, {}, {}, "r13") == {}
    assert "q" in bench._regressions({"q": 1.51}, {"q": 1.0}, {}, {}, "r13")


def test_regression_record_names_comparison_base(bench):
    out = bench._regressions({"q": 2.0}, {"q": 1.0}, {}, {}, "BENCH_DETAIL_r13.json")
    assert out["q"]["base"] == "BENCH_DETAIL_r13.json"


def test_prev_round_baseline_is_newest_archive_before_current_round(bench, tmp_path, monkeypatch):
    for n in (10, 11):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    for n, sf in ((10, 0.1), (11, 0.1), (12, 0.1), (9, 0.01)):
        (tmp_path / f"BENCH_DETAIL_r{n:02d}.json").write_text(
            json.dumps({"sf": sf, "queries": {"q": float(n)}})
        )
    monkeypatch.setattr(bench, "REPO_DIR", str(tmp_path))
    assert bench._current_round() == 12
    label, prev = bench._prev_round_baseline(0.1)
    assert label == "BENCH_DETAIL_r11.json" and prev["queries"] == {"q": 11.0}
    assert bench._prev_round_baseline(0.01)[0] == "BENCH_DETAIL_r09.json"
    assert bench._prev_round_baseline(1.0) == (None, {})


# The stdout line's top-level keys and the BENCH_DETAIL keys before the
# plan gate, frozen: whatever reads the bench parses both.
_LINE_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "n_errors", "scale_total",
    "scale_replicas", "n_scale", "scale100_total", "n_scale100", "tpch_total",
    "n_tpch", "dfsio", "cpu", "n_cpu_snapshots", "norm_headline", "norm_scale",
    "norm_headline_cpu", "vs_round", "host_slowdown", "regressions", "queries",
    "cpus",
}
_DETAIL_KEYS = {
    "cpu", "dfsio", "metric", "norm_headline_x_cpu_mrows_s",
    "norm_headline_x_write_mb_s", "norm_scale_x_cpu_mrows_s",
    "norm_scale_x_write_mb_s", "queries", "scale100_queries",
    "scale100_replicas", "scale100_total", "scale_queries", "scale_replicas",
    "scale_total", "sf", "skew_queries", "tpch_queries", "tpch_replicas",
    "tpch_total", "unit", "value", "vs_prev",
}
_VS_PREV_KEYS = {
    "prev_round", "band_rounds", "host_slowdown", "host_slowdown_write",
    "host_slowdown_cpu", "regressions", "scale_regressions",
    "scale100_regressions", "tpch_regressions", "skew_regressions", "skew_ratios",
}


def _synthetic_run(bench, slow: float):
    """Every tier timed (10-99 s per row, so inline timings are long),
    and a previous archive ``slow`` times faster with other plans."""
    timings = {
        t.prefix: {q: 10.0 + (i % 90) + 0.123 for i, q in enumerate(t.queries)}
        for t in bench.TIERS
    }
    skew = {"join_plain": 8.2, "join_salted": 3.9}
    fps = {t.prefix + q: "f" * 16 for t in bench.TIERS for q in t.queries}
    prev = {
        t.key("queries"): {q: v / slow for q, v in timings[t.prefix].items()}
        for t in bench.TIERS
    }
    prev.update(
        sf=0.1, skew_queries={k: v / slow for k, v in skew.items()},
        dfsio={"write_mb_s": 150.0}, fingerprints={k: "0" * 16 for k in fps},
    )
    return bench.build_detail(
        0.1, timings, skew, {"write_mb_s": 120.0, "read_mb_s": 900.0},
        fps, "BENCH_DETAIL_r13.json", prev,
    )


@pytest.mark.parametrize("cpus,bounded", [(4, True), (32, False)])
def test_stdout_line_contract(bench, cpus, bounded):
    detail = _synthetic_run(bench, slow=2.0)
    assert set(detail) == _DETAIL_KEYS | {"fingerprints"}
    assert set(detail["vs_prev"]) == _VS_PREV_KEYS
    assert detail["vs_prev"]["host_slowdown"] == 1.25
    line = bench.stdout_line(detail, cpus, bounded)
    assert len(line) <= 2000
    parsed = json.loads(line)
    assert set(parsed) == _LINE_KEYS | ({"bounded"} if bounded else set())
    assert parsed["cpus"] == cpus
    inline = [k for k in parsed["queries"] if k != "detail"]
    assert inline and inline == [
        p + n for p, n in bench.INLINE_QUERIES[: len(inline)]
    ], "inline timings follow the committed INLINE_QUERIES order"
    if bounded:
        assert parsed["regressions"] == {}
    else:
        assert len(parsed["regressions"]) == 8
        assert {v["fired"] for v in parsed["regressions"].values()} == {"plan+time"}


def test_inline_queries_name_real_bench_rows(bench):
    """Every INLINE_QUERIES entry must name a query its tier actually
    times — a typo'd or stale name silently shrinks the per-query map
    the driver's PERF comparison and the reduced-core scaling sweep
    parse from the stdout line (VERDICT r12 #2/#5)."""
    tiers = {t.prefix: set(t.queries) for t in bench.TIERS}
    assert set(tiers) == {"", "scale/", "scale100/", "tpch/"}
    bad = [(p, n) for p, n in bench.INLINE_QUERIES if n not in tiers[p]]
    assert not bad, f"INLINE_QUERIES entries not in their tier: {bad}"
    # deterministic across runs/core counts: no duplicates
    assert len(set(bench.INLINE_QUERIES)) == len(bench.INLINE_QUERIES)


def test_fingerprint_is_stable_across_builds_and_moves_with_the_plan(bench, spark, sf_dir):
    """Two builds of the flagship in one session hash the same; with
    broadcast joins disabled its dims go sort-merge and the hash moves."""
    from hadoop_common_spark.queries import load_all

    fn = load_all()["flagship_revenue_by_nation"].fn
    first = bench.plan_fingerprint(fn(spark, sf_dir))
    assert bench.plan_fingerprint(fn(spark, sf_dir)) == first
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        no_broadcast = bench.plan_fingerprint(fn(spark, sf_dir))
    finally:
        spark.conf.set(key, old)
    assert no_broadcast != first
    assert bench.plan_fingerprint(fn(spark, sf_dir)) == first
