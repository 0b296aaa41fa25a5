"""Query registry: the driver-facing catalog of implemented operators.

Every operator family from SURVEY.md §2 registers one or more named
queries here. A query is a callable ``(spark, sf_dir) -> DataFrame`` plus
(optionally) an ANSI-SQL oracle string DuckDB runs on the same parquet
tables. ``__spark_entry__.queries()`` / ``oracle_sql()`` read this
registry through ``load_all``, which returns it in registration order:
the order of ``_QUERY_MODULES``, then definition order within a module.
Nothing ranks queries; callers that need an order sort by name.

Column names in the Spark result and the oracle MUST match (the driver
sorts columns by name before hashing).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hadoop_common_spark.session import configure_for_scale
from hadoop_common_spark.tables import register_views


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query. The wrapped fn gets a prepared
    session (UTC tz, AQE on) and pre-registered temp views."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_for_scale(spark)
            register_views(spark, sf_dir)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY and REGISTRY[name].fn.__name__ != fn.__name__:
            # same-name re-registration from a module reload is fine;
            # two DIFFERENT functions claiming one name is a bug
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return wrapped

    return deco


_QUERY_MODULES = [
    "hadoop_common_spark.queries.tpch",
    "hadoop_common_spark.queries.examples",
    "hadoop_common_spark.queries.aggregates",
    "hadoop_common_spark.queries.rowops",
    "hadoop_common_spark.queries.sortpart",
    "hadoop_common_spark.queries.joins",
    "hadoop_common_spark.queries.setops",
    "hadoop_common_spark.queries.windows",
    "hadoop_common_spark.queries.dedup",
    "hadoop_common_spark.queries.similarity",
    "hadoop_common_spark.queries.textstats",
    "hadoop_common_spark.queries.multimodal",
    "hadoop_common_spark.queries.synthetic",
    "hadoop_common_spark.queries.olap",
    "hadoop_common_spark.queries.subqueries",
    "hadoop_common_spark.queries.pipeline",
    "hadoop_common_spark.queries.graph",
]


def load_all() -> dict[str, QueryDef]:
    """Import every query module (idempotent) and return the registry,
    in the order the modules registered their queries."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return REGISTRY
