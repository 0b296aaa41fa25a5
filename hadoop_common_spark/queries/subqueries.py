"""Subquery-shaped relational queries: scalar, correlated, EXISTS/IN.

The reference can only express these as hand-chained jobs (compute
aggregate → ship via DistributedCache → filter in a second job — the
idiom behind EX/WordMedian's driver-side scan). Catalyst decorrelates
them into joins automatically; each query here pins one decorrelation
shape and is oracle-checked against DuckDB.

Scale: every subquery below decorrelates to a broadcast or shuffle join
— no per-row re-execution anywhere (verify with .explain: no
SubqueryExec inside loops, only *Join nodes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_common_spark.functions.exact import dsum_sql
from hadoop_common_spark.queries import query


_ABOVE_AVG_BALANCE_SQL = """
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """


@query("above_avg_balance", oracle=_ABOVE_AVG_BALANCE_SQL)
def above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery → broadcast of one value (the
    reference's compute-then-DistributedCache two-job idiom, fused).
    AVG over DECIMAL(12,2) is exact in both engines."""
    return spark.sql(_ABOVE_AVG_BALANCE_SQL)


_ABOVE_NATION_AVG_BALANCE_SQL = """
    SELECT c.c_custkey, c.c_nationkey
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """


@query("above_nation_avg_balance", oracle=_ABOVE_NATION_AVG_BALANCE_SQL)
def above_nation_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — decorrelates to groupBy(nation) +
    equi-join (one shuffle), never per-row re-execution."""
    return spark.sql(_ABOVE_NATION_AVG_BALANCE_SQL)


_NO_URGENT_ORDERS_SQL = """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """


@query("customers_without_urgent_orders", oracle=_NO_URGENT_ORDERS_SQL)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (the DataJoin absent-tag idiom);
    the priority predicate keeps the result non-empty on the synthetic
    data so the oracle check is non-vacuous."""
    return spark.sql(_NO_URGENT_ORDERS_SQL)


_URGENT_PARTS_SQL = """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (
      SELECT l_partkey FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
    )
    """


@query("parts_in_urgent_orders", oracle=_URGENT_PARTS_SQL)
def parts_in_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → left-semi join over a join subtree."""
    return spark.sql(_URGENT_PARTS_SQL)


_BRANDS_WITH_MANY_PARTS_SQL = """
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part GROUP BY p_brand HAVING COUNT(*) > 50
    """


@query("brands_with_many_parts", oracle=_BRANDS_WITH_MANY_PARTS_SQL)
def brands_with_many_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — filter over the aggregate (free in Spark; the reference
    needs a second filtering job after the reduce)."""
    return spark.sql(_BRANDS_WITH_MANY_PARTS_SQL)


_IMPORTANT_PARTS_SQL = f"""
    SELECT l_partkey,
           {dsum_sql('l_extendedprice * l_quantity')} AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6)))
         > 0.0002 * (SELECT SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) FROM lineitem)
"""


@query("important_parts_share", oracle=_IMPORTANT_PARTS_SQL)
def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING against a global scalar subquery (TPC-H Q11 shape): parts
    whose total traded value exceeds a fraction of the whole market.
    The global sum computes once (one extra pass over the already-grouped
    partials, not over the fact); the HAVING compares decimal-exact sums
    so the cut is engine-independent."""
    return spark.sql(_IMPORTANT_PARTS_SQL)


_WAITING_SUPPLIERS_SQL = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@query("waiting_suppliers", oracle=_WAITING_SUPPLIERS_SQL)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-correlated EXISTS + NOT EXISTS on the same fact (TPC-H Q21
    shape, 'returned' standing in for 'late' — the synthetic lineitem has
    no receipt/commit dates): suppliers who were the sole returning
    supplier on a finished multi-supplier order. Catalyst decorrelates
    both predicates into a semi and an anti join on l_orderkey; all three
    lineitem scans share the parquet read, and the top-20 plans as
    TakeOrderedAndProject."""
    return spark.sql(_WAITING_SUPPLIERS_SQL)


_MIN_COST_SUPPLIER_SQL = """
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
           l_extendedprice / l_quantity AS unit_cost
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size BETWEEN 1 AND 3
      AND l_extendedprice / l_quantity = (
        SELECT MIN(l2.l_extendedprice / l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey
    LIMIT 100
"""


@query("min_cost_supplier", oracle=_MIN_COST_SUPPLIER_SQL)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated MIN + join-back (TPC-H Q2 shape, unit price from
    lineitem standing in for ps_supplycost): the supplier(s) offering
    each small part at its minimum unit cost. Decorrelates to a per-part
    MIN aggregate joined back to the fact — the min computes over the
    full fact while the outer side is pruned by the part-size filter.
    Unit-cost equality compares identically in both engines (same IEEE
    division on the same doubles)."""
    return spark.sql(_MIN_COST_SUPPLIER_SQL)
