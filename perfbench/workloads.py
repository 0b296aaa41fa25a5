"""The benchmark's workloads: the inputs each one generates, what one
timed pass runs, and how its outputs are checked.

A pass returns the wall time it took, the DataFrames it produced (the
last pass's are checked after timing ends) and the names of the
operations that raised.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass
class PassResult:
    seconds: float
    kept: dict = field(default_factory=dict)
    raised: list = field(default_factory=list)


def _report(op: str, exc: BaseException) -> None:
    print(f"perfbench: {op} raised:", file=sys.stderr)
    traceback.print_exception(exc, file=sys.stderr)


def _file_mb(paths) -> float:
    total = 0
    for p in paths:
        path = p[len("file:"):] if p.startswith("file:") else p
        total += os.path.getsize(path)
    return total / 1e6


def same_result(scols, srows, dcols, drows) -> bool:
    """Registry-oracle comparison: same column names, same row count and
    the same order-insensitive set of normalised values."""
    from tools.verify_local import _norm, _rowset

    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return False
    return _rowset(scols, srows, _norm) == _rowset(dcols, drows, _norm)


@dataclass(frozen=True)
class QueryWorkload:
    """Registry queries over the generated fixture tables, each built with
    ``QueryDef.fn`` and executed through the noop sink."""

    name: str
    sf: float
    tiny_sf: float
    queries: tuple[str, ...]
    why: str
    # set-up registers the fixture tables as temp views
    views = True
    # untimed passes before timing starts: the JIT compiler is still at
    # work on the driver-side code through the third pass
    warmup_passes = 3
    # timed passes at the least, however long they take
    min_warm = 4

    def gen_argv(self, data_dir: str, seed: int, tiny: bool) -> list[str]:
        return ["base", data_dir, str(seed), str(self.tiny_sf if tiny else self.sf)]

    def run_pass(self, ctx, label: str) -> PassResult:
        sc = ctx.spark.sparkContext
        res = PassResult(0.0)
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.pass", label=label):
            for q in self.queries:
                sc.setJobDescription(f"{self.name}/{q}#{label}")
                try:
                    with ctx.tracer.span("bench.build", query=q):
                        df = ctx.registry[q].fn(ctx.spark, ctx.data_dir)
                    with ctx.tracer.span("bench.exec", query=q):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted as a failed operation
                    _report(q, e)
                    res.raised.append(q)
                else:
                    res.kept[q] = df
        res.seconds = time.perf_counter() - t0
        return res

    def input_mb(self, ctx, kept: dict) -> float:
        """On-disk MB of the tables each query reads, as its DuckDB oracle
        names them: ``DataFrame.inputFiles()`` of these queries' results
        lists no files."""
        import duckdb

        return sum(
            _file_mb(
                os.path.join(ctx.data_dir, f"{t}.parquet")
                for t in duckdb.get_table_names(ctx.registry[q].oracle)
            )
            for q in kept
        )

    def check(self, ctx, kept: dict) -> list[str]:
        """Names of the queries whose result differs from the DuckDB
        oracle over the same parquet files."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ctx.mods.tables.TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data_dir}/{t}.parquet')"
                )
            wrong = []
            for q, df in kept.items():
                oracle = ctx.registry[q].oracle
                rows = [tuple(r) for r in df.collect()]
                res = con.execute(oracle)
                dcols = [d[0] for d in res.description]
                if not same_result(df.columns, rows, dcols, res.fetchall()):
                    wrong.append(q)
            return wrong
        finally:
            con.close()


def teravalidate(out_dir: str) -> int:
    """TeraValidate's ordering check: keys sorted inside each part file and
    across part files in name order. Returns the record count, or raises
    ValueError on the first out-of-order key."""
    n, prev = 0, None
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.parquet"))):
        keys = pq.read_table(path, columns=["key"]).column("key")
        if len(keys) == 0:
            continue
        if len(keys) > 1 and not pc.all(pc.less_equal(keys[:-1], keys[1:])).as_py():
            raise ValueError(f"keys out of order inside {os.path.basename(path)}")
        if prev is not None and keys[0].as_py() < prev:
            raise ValueError(f"{os.path.basename(path)} starts below the previous part's last key")
        prev = keys[-1].as_py()
        n += len(keys)
    return n


@dataclass(frozen=True)
class TeraSortWorkload:
    """TeraSort over pre-written TeraGen records: read, range-partitioned
    total-order sort, parquet write through the Hadoop commit protocol."""

    name: str
    n_records: int
    tiny_n_records: int
    n_files: int
    why: str
    queries: tuple[str, ...] = ("terasort",)
    views = False
    warmup_passes = 1
    min_warm = 3

    def gen_argv(self, data_dir: str, seed: int, tiny: bool) -> list[str]:
        n = self.tiny_n_records if tiny else self.n_records
        return ["teragen", data_dir, str(seed), str(n), str(self.n_files)]

    def run_pass(self, ctx, label: str) -> PassResult:
        ctx.spark.sparkContext.setJobDescription(f"{self.name}/terasort#{label}")
        res = PassResult(0.0)
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.pass", label=label):
            try:
                with ctx.tracer.span("bench.build", query="terasort"):
                    df = ctx.spark.read.parquet(ctx.data_dir)
                    ordered = ctx.mods.sort.total_order_sort(df, ["key"])
                with ctx.tracer.span("bench.exec", query="terasort"):
                    ctx.mods.writers.write_parquet(ordered, ctx.out_dir)
            except Exception as e:  # counted as a failed operation
                _report("terasort", e)
                res.raised.append("terasort")
            else:
                res.kept["terasort"] = df
        res.seconds = time.perf_counter() - t0
        return res

    def input_mb(self, ctx, kept: dict) -> float:
        return _file_mb(glob.glob(os.path.join(ctx.data_dir, "*.parquet")))

    def check(self, ctx, kept: dict) -> list[str]:
        """TeraValidate: output globally ordered, and its record count and
        checksum equal to the input's (``synthgen.teragen_checksum``)."""
        if "terasort" not in kept:
            return []
        checksum = ctx.mods.synthgen.teragen_checksum
        try:
            n = teravalidate(ctx.out_dir)
        except ValueError as e:
            print(f"perfbench: teravalidate: {e}", file=sys.stderr)
            return ["terasort"]
        got = checksum(ctx.spark.read.parquet(ctx.out_dir)).collect()[0]
        want = checksum(ctx.spark.read.parquet(ctx.data_dir)).collect()[0]
        if n != want["n_records"] or tuple(got) != tuple(want):
            return ["terasort"]
        return []


WORKLOADS = {
    w.name: w
    for w in (
        QueryWorkload(
            name="sf01-driver",
            sf=0.01,
            tiny_sf=0.001,
            queries=(
                "entity_link_clusters",
                "dedup_minhash_lsh",
            ),  # the two largest driver-bound builds (ROADMAP item 3)
            why="driver-side query build (Python, py4j, Catalyst, eager jobs) is most of each pass",
        ),
        TeraSortWorkload(
            name="terasort-write",
            n_records=1_000_000,
            tiny_n_records=20_000,
            n_files=4,
            why="range-partitioned sort and the parquet writer's commit do the work; build is ~0",
        ),
    )
}
