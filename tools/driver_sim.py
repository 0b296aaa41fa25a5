"""Driver-contract simulation with a HOSTILE host session.

The external harness imports __spark_entry__ with its OWN SparkSession —
not our tuned one. This script reproduces that: a bare session with a
non-UTC timezone and default confs, built from a non-repo cwd, then:

  1. entry(spark) at sf0.001 — must return rows with a stable schema;
  2. queries()/oracle_sql() surface check (every query has an oracle);
  3. a spot-check subset run end-to-end vs DuckDB at sf0.01.

Catches conf leakage (timezone-dependent results, missing
configure_for_scale coverage, module-import-time Column construction,
executor-side package imports). Run: python tools/driver_sim.py [names...]
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPOT_DEFAULT = [
    "flagship_revenue_by_nation",
    "window_tumbling_hourly",
    "events_multires_rollup",
    "corpus_quality_bins",
    "similarity_pq_topk",
    "text_token_cms_topk",
    "dedup_minhash_lsh",
]


def main() -> None:
    os.chdir("/tmp")  # hostile cwd: the repo must ship itself to executors
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("driver-sim")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sys.path.insert(0, REPO_DIR)
    import __spark_entry__ as e
    from hadoop_common_spark.tables import TABLE_NAMES
    from tools.verify_local import _rowset

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1, "entry() returned no rows"
    print(f"entry: {len(rows)} rows, schema {[f.name for f in df.schema.fields]}")

    qs, osql = e.queries(), e.oracle_sql()
    missing = [n for n in qs if n not in osql]
    print(f"queries: {len(qs)}, oracles: {len(osql)}, missing oracles: {missing}")

    import duckdb

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.01"
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    names = sys.argv[1:] or SPOT_DEFAULT
    failed = []
    for name in names:
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(osql[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok = sorted(scols) == sorted(dcols) and _rowset(scols, srows) == _rowset(
            dcols, drows
        )
        print(f"{'ok  ' if ok else 'FAIL'} {name}: spark={len(srows)} duck={len(drows)}")
        if not ok:
            failed.append(name)
    spark.stop()
    sys.exit(1 if failed or missing else 0)


if __name__ == "__main__":
    main()
