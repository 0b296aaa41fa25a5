"""Standing round-close gate: the tpch-30x strict differential sweep.

VERDICT r11 #3: the at-scale differential triad (10x / 100x / tpch-30x
strict sweeps) is the only evidence class that has ever caught a
defect invisible at sf<=0.1 — r11's first tpch-30x sweep found the
DECIMAL->DOUBLE double-rounding divergence past 2**53 scaled units
(fixed via the dsum_sql STRING hop, functions/exact.py). At 7 queries
it is also the cheapest leg of the triad, so it runs at EVERY round
close; the 10x/100x sweeps re-run when the diff touches their query
sets (see the verify skill).

Usage: python tools/tpch30_sweep.py [--rebuild]

Builds /tmp/hcs_bench_tpch30x if absent (or --rebuild), then executes
tools/verify_local.py --strict over the 7 TPCH_SCALE_QUERIES against
it. Exit code = verify_local's (0 green, 1 any FAIL).

Reference anchor: the self-validating-job discipline
(JCT/mapred/SortValidator.java:54) — the validator must be correct at
every scale the job runs, so it must RUN at a scale where the defect
class is live.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

import bench  # noqa: E402


def main() -> None:
    tier = os.path.join("/tmp", f"hcs_bench_tpch{bench.TPCH_SCALE_REPLICAS}x")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rebuild = "--rebuild" in sys.argv[1:]
    if rebuild or not os.path.isdir(os.path.join(tier, "lineitem.parquet")):
        print(f"# building {tier} from {sf_dir} ...", flush=True)
        from hadoop_common_spark.session import get_spark

        spark = get_spark("tpch30_sweep_build")
        try:
            bench.build_tpch_scale_dir(spark, sf_dir)
        finally:
            # verify_local builds its own session — free this JVM's heap
            # before the sweep competes with the DuckDB oracles for RAM
            spark.stop()
    rc = subprocess.call(
        [
            sys.executable,
            os.path.join(REPO_DIR, "tools", "verify_local.py"),
            "--strict",
            tier,
            *bench.TPCH_SCALE_QUERIES,
        ]
    )
    sys.exit(rc)


if __name__ == "__main__":
    main()
