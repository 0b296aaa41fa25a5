"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: generate the workload's inputs from the seed (in a child
process), then set the engine up in a fresh driver JVM
(``session.get_spark`` + ``queries.load_all`` + the first
``tables.register_views`` + a small warm-up job). It runs the workload's
untimed warm-up passes (the first is the cold pass) and then timed warm
passes for ``--seconds`` (at least the workload's ``min_warm``), one
client issuing operations one after another. It checks the last pass's
outputs, stops the JVM and every process below it, and prints one JSON
object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans around the engine's layer entry points and
from the Spark event log, which only a traced run turns on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import engine, layers, trace  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# warm passes beyond the workload's ``min_warm`` start only before this
# many seconds of run time, which keeps a run well inside its time limit
LATE_START_S = 120.0

E2E_UNITS = {
    "setup_s": "s",
    "warm_s": "s",
    "input_mb_s": "MB/s",
}


def warm_up(spark) -> None:
    """One small aggregation job, so the first timed pass does not pay for
    the JVM's first task launch and code generation."""
    (
        spark.range(200_000)
        .selectExpr("id % 97 AS k")
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _env_for_run(work: str) -> None:
    """Keep every file the engine and the JVMs write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )


def count_outcomes(passes, ops_per_pass: int, wrong: set) -> tuple[int, int]:
    """(operations attempted, operations failed). An operation fails when
    it raised, or when its query's checked result was wrong: results are
    deterministic, so every run of a wrong query counts."""
    attempted = len(passes) * ops_per_pass
    failed = sum(len(p.raised) for p in passes)
    failed += sum(1 for p in passes for q in p.kept if q in wrong)
    return attempted, failed


def run(workload_name: str, seed: int, seconds: float, traced: bool, tiny: bool = False) -> dict:
    wl = WORKLOADS[workload_name]
    t_run = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench", f"{wl.name}-s{seed}" + ("-trace" if traced else ""))
    shutil.rmtree(work, ignore_errors=True)
    data_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(work)
    _env_for_run(work)
    mods = engine.import_engine()
    subprocess.run(
        [sys.executable, "-m", "perfbench.gen", *wl.gen_argv(data_dir, seed, tiny)],
        cwd=ROOT, check=True, stdout=sys.stderr,
    )

    tracer = trace.Tracer(f"{wl.name}-s{seed}", enabled=traced)
    log_dir = os.path.join(work, "eventlog")
    extra = []
    if traced:
        os.makedirs(log_dir)
        extra = trace.event_log_conf(log_dir)
        trace.install(tracer)
    os.environ["PYSPARK_SUBMIT_ARGS"] = engine.spark_submit_args(os.environ["TMPDIR"], extra)
    with tracer.span("bench.setup"):
        t0 = time.perf_counter()
        spark = mods.session.get_spark("perfbench")
        registry = mods.queries.load_all()
        if wl.views:
            mods.tables.register_views(spark, data_dir)
        with tracer.span("bench.warm_up"):
            warm_up(spark)
        setup_s = time.perf_counter() - t0

    ctx = SimpleNamespace(
        spark=spark, registry=registry, mods=mods, tracer=tracer,
        data_dir=data_dir, out_dir=out_dir,
    )
    untimed = [wl.run_pass(ctx, f"u{i}") for i in range(wl.warmup_passes)]
    cold = untimed[0]
    input_mb = wl.input_mb(ctx, cold.kept)
    warm = []
    t_warm = time.perf_counter()
    while len(warm) < wl.min_warm or (
        time.perf_counter() - t_warm < seconds and time.perf_counter() - t_run < LATE_START_S
    ):
        warm.append(wl.run_pass(ctx, f"w{len(warm)}"))
    rss_mb = engine.peak_rss_mb()
    passes = [*untimed, *warm]
    spark.sparkContext.setJobDescription(f"{wl.name}/check")
    wrong = set(wl.check(ctx, warm[-1].kept))
    engine.shut_down(spark)

    attempted, failed = count_outcomes(passes, len(wl.queries), wrong)
    warm_s = median([p.seconds for p in warm])

    if traced:
        events, scans = trace.read_event_log(trace.find_event_log(log_dir))
        values, per_query = layers.layer_metrics(
            tracer, events, scans, [f"w{i}" for i in range(len(warm))], out_dir
        )
        values["session.peak_rss_mb"] = rss_mb
        values["trace.cold_s"] = cold.seconds
        tracer.dump(os.path.join(work, "spans.json"))
        with open(os.path.join(work, "per_query.json"), "w") as f:
            json.dump(per_query, f, indent=1)
        metrics = {k: {"value": v, "unit": layers.LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": setup_s,
            "warm_s": warm_s,
            "input_mb_s": input_mb / warm_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}

    print(
        f"perfbench: {wl.name} seed={seed} setup={setup_s:.2f} "
        f"warm-up={[round(p.seconds, 2) for p in untimed]} warm={[round(p.seconds, 2) for p in warm]} "
        f"input_mb={input_mb:.1f} peak_rss_mb={rss_mb:.0f} wrong={sorted(wrong)}",
        file=sys.stderr,
    )
    if traced:
        for sub in ("in", "out", "tmp"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    else:
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="generate tiny inputs (benchmark self-test)"
    )
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
