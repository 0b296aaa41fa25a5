"""Local differential verification: run every registry query on Spark AND
its oracle SQL on DuckDB over the same parquet, compare row count, column
names, and (rounded) values. A stricter local stand-in for the driver's
CORRECTNESS gate — run before committing new queries.

Usage: python tools/verify_local.py [--strict] [sf_dir] [name_filter...]

--strict renders values the way the external driver hashes them: the
DuckDB side is fetched through pandas (fetchdf — the path that collapses
DECIMAL(38,0) to float64), floats are full-precision repr (no 9-sig-digit
rounding), and Decimal is NOT normalized to float. Representation-level
divergence (DECIMAL-vs-DOUBLE, HUGEINT widening) fails here before it
fails at the driver. Default mode keeps the forgiving comparison for
semantic debugging.

Every result line carries ``plan=<fingerprint>``: bench.plan_fingerprint
of the query's physical plan, taken after the build and before the
collect (``-`` when the build itself failed), and ``oracle=<sha256[:16]>``
of the query's oracle SQL text (``-`` for a rows-only query). Diffing the
plan and oracle columns of two sweep logs shows which queries a change
re-planned or re-specified.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

import duckdb  # noqa: E402


def _norm(v):
    if v is None:
        return "\0NULL"  # sortable sentinel (rollup/cube emit NULL keys)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant-ish digits; exact-decimal outputs should
        # match bit-for-bit, this guards residual float formatting noise
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_strict(v):
    """Driver-style rendering: no 9-sig-digit rounding, no decimal→float
    forgiveness — a DECIMAL on one engine vs a float64 on the other is a
    mismatch (the class of the r03 teragen_checksum FAIL). Two observed
    driver tolerances ARE reproduced, because driver-green rounds prove
    them: SQL NULL fetched through pandas arrives as NaN (NULL == NaN
    here), and a bigint column with NULLs arrives as float64 (an
    integral float compares as its exact integer)."""
    import decimal

    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0NULL"  # pandas renders SQL NULL as NaN
        if v.is_integer() and abs(v) < 2**53:
            return f"i:{int(v)}"  # pandas widens nullable bigint to float64
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value() and abs(v) < 2**53:
            return f"i:{int(v)}"  # exactly float64-representable either way
        return f"d:{v}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if v != v:  # pandas NaT (datetime NULL); NaN float handled above
        return "\0NULL"
    if hasattr(v, "isoformat"):
        # pandas widens DATE to midnight datetime64 — driver-green rounds
        # show DATE vs midnight-timestamp hash equal, so fold them here
        t = getattr(v, "time", None)
        if t is not None and getattr(v, "tzinfo", None) is None and not any(
            (v.hour, v.minute, v.second, v.microsecond)
        ):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_strict(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rowset(cols, rows, norm=_norm):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def _duck_rows_pandas(res):
    """Fetch DuckDB results the way the driver does — through pandas —
    so DECIMAL→float64 collapse and numpy widening are reproduced, then
    unbox numpy scalars to Python natives."""
    pdf = res.fetchdf()
    out = []
    for tup in pdf.itertuples(index=False, name=None):
        out.append(tuple(x.item() if hasattr(x, "item") else x for x in tup))
    return out


def main():
    argv = [a for a in sys.argv[1:]]
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    filters = argv[1:]
    norm = _norm_strict if strict else _norm

    from bench import plan_fingerprint
    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.session import get_spark
    from hadoop_common_spark.tables import TABLE_NAMES

    registry = load_all()
    spark = get_spark("verify-local")

    def fresh_con():
        """One DuckDB connection per ORACLE (not per sweep): a single
        heavyweight oracle (the containment join at the 10x tier ran
        24 min) can exhaust the shared connection's buffer pool in a way
        that poisons every later query — observed as cascading
        'Failed to allocate block of 8 bytes' OOMs on trivially small
        oracles after one 1400s monster. Views are stateless and
        re-registering them costs ~ms; a spill directory lets big
        oracles page instead of dying."""
        c = duckdb.connect()
        try:
            c.execute("SET temp_directory='/tmp/hcs_duckdb_spill'")
        except Exception:
            pass  # older duckdb: no temp_directory setting — fine
        for t in TABLE_NAMES:
            # testdata ships single-file tables; Spark-written tiers (the
            # bench scale dirs) are part-file DIRECTORIES — glob those so
            # the oracle can run at 10x/100x scale too
            p = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, qd in sorted(registry.items()):
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        plan = "-"
        oracle = hashlib.sha256(qd.oracle.encode()).hexdigest()[:16] if qd.oracle is not None else "-"
        try:
            sdf = qd.fn(spark, sf_dir)
            scols = sdf.columns
            plan = plan_fingerprint(sdf)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: plan={plan} oracle={oracle} spark error: {type(e).__name__}: {e}")
            continue
        if qd.oracle is None:
            n_rowsonly += 1
            print(f"rows  {name}: plan={plan} oracle={oracle} {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            con = fresh_con()
            # close on the failure path too: an oracle that dies mid-sweep
            # (the at-scale OOM case) must not leak its buffer pool into
            # the next 200 oracles
            try:
                res = con.execute(qd.oracle)
                dcols = [d[0] for d in res.description]
                drows = _duck_rows_pandas(res) if strict else res.fetchall()
            finally:
                con.close()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: plan={plan} oracle={oracle} duckdb error: {type(e).__name__}: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            ok = False
            print(f"FAIL  {name}: plan={plan} oracle={oracle} columns spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL  {name}: plan={plan} oracle={oracle} rowcount spark={len(srows)} duck={len(drows)}")
        else:
            s, d = _rowset(scols, srows, norm), _rowset(dcols, drows, norm)
            if s != d:
                ok = False
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                print(f"FAIL  {name}: plan={plan} oracle={oracle} value mismatch; first diffs: {diff}")
        if ok:
            n_pass += 1
            print(f"ok    {name}: plan={plan} oracle={oracle} {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} FAILED" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
