"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow (and DuckDB for TeraGen records), so
inputs exist before the engine's JVM starts and cost no Spark time. The
same seed gives byte-identical parquet files; another seed gives other
bytes.

- ``write_base_tables``: the star schema plus ``events``, ``documents``
  and ``embeddings``, in the column types of the engine's test fixtures.
  Table contents come from a fixed base seed, so every run sees the same
  rows and therefore the same query results; the run seed only permutes
  the row order of each file.
- ``write_teragen``: 100-byte TeraGen records (10-char key, 90-char
  payload), the formula of ``operators.synthgen.TERAGEN_SQL``, with the
  id range offset by the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Rows per unit of scale factor (sf 0.1 -> 600k lineitems).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DIM = 64


def _n(name: str, sf: float) -> int:
    return max(int(round(_ROWS_PER_SF[name] * sf)), 10)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, n_days, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate of an earlier document: one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, _DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * _DIM, _DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
            "label": pa.array(labels),
        }
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``, from BASE_SEED."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_ord, n_li, n_ev = _n("orders", sf), _n("lineitem", sf), _n("events", sf)
    n_users = max(n_cust // 10, 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        }
    )
    t["documents"] = _documents(rng, _n("documents", sf))
    t["embeddings"] = _embeddings(rng, _n("embeddings", sf))
    return t


def write_base_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``, each in
    a row order permuted by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    for name, table in base_tables(sf).items():
        order = perm_rng.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))


def teragen_table(first_id: int, n_records: int) -> pa.Table:
    """TeraGen records for ids ``[first_id, first_id + n_records)``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        return con.execute(
            "SELECT substr(md5(CAST(i AS VARCHAR)), 1, 10) AS key, "
            "rpad(md5(CAST(i AS VARCHAR) || '_p'), 90, 'x') AS payload "
            # insertion order is preserved (DuckDB's default), so the row
            # order and the file bytes do not depend on the thread count
            f"FROM range({int(first_id)}, {int(first_id) + int(n_records)}) t(i)"
        ).arrow()
    finally:
        con.close()


def write_teragen(out_dir: str, seed: int, n_records: int, n_files: int) -> None:
    """Write ``n_records`` TeraGen records as ``n_files`` parquet parts;
    the id range starts at ``seed * n_records``."""
    os.makedirs(out_dir, exist_ok=True)
    table = teragen_table(seed * n_records, n_records)
    step = -(-n_records // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


def main(argv: list[str]) -> None:
    """``python -m perfbench.gen base <dir> <seed> <sf>`` or
    ``python -m perfbench.gen teragen <dir> <seed> <n_records> <n_files>``."""
    kind, out_dir, seed = argv[0], argv[1], int(argv[2])
    if kind == "base":
        write_base_tables(out_dir, seed, float(argv[3]))
    elif kind == "teragen":
        write_teragen(out_dir, seed, int(argv[3]), int(argv[4]))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
