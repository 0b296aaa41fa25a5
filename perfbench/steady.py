"""Repeat the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--seconds 10] [--trace 0] [--out runs.jsonl]

Each run is a separate ``run.py`` process. Every run's result is printed
(and appended to ``--out`` as one JSON line). The summary gives, per
metric, the median, the quartiles of ``statistics.quantiles(n=4)`` and
their distance as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles, spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    results = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        summary = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench: ")]
        res.update(seed=seed, wall_s=wall, workload=args.workload, summary=summary[-1:])
        results.append(res)
        vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct={res['correct']} {vals}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    if len(results) >= 2:
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            q1, q2, q3 = quartiles(vals)
            rel = spread(vals) if q2 else float("nan")
            print(f"{name:32s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {rel:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
