"""Core relational query set over the star schema.

These exercise the reference's whole-job "query" trio — scan + filter +
multi-way join (EX/Join.java), partitioned aggregation with partial
aggregates (lib/aggregate, combiner semantics MapTask.java:1009), and
global sort (EX/Sort.java) — as single declarative plans that Catalyst
optimizes (pushdown, pruning, join selection, partial/final HashAggregate).

Scale notes (100 TB): `region`/`nation` are broadcast (map-side join —
the reference's DistributedCache idiom, filecache/DistributedCache.java:134);
fact-fact joins shuffle on their keys and rely on AQE for skew; aggregates
use exact decimal sums (see functions/exact.py) so results are stable
under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum, dsum_sql
from hadoop_common_spark.queries import query

def REVENUE() -> "F.Column":
    # lazy: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


REVENUE_SQL = "l_extendedprice * (1 - l_discount)"


@query(
    "flagship_revenue_by_nation",
    oracle=f"""
    SELECT n_name AS nation,
           {dsum_sql(REVENUE_SQL)} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation (ASIA, 1996): the flagship 4-way join + agg + filter.

    Reference parity: EX/Join.java (map-side join) + lib/aggregate sums +
    EX/Sort.java ordering, in one Catalyst plan. Dims are broadcast.
    """
    lineitem = spark.table("lineitem")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = spark.table("customer")
    nation = spark.table("nation")
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(REVENUE()).alias("revenue"))
    )


@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql(REVENUE_SQL)} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           ({dsum_sql('l_quantity')} / COUNT(l_quantity)) AS avg_qty,
           ({dsum_sql('l_extendedprice')} / COUNT(l_extendedprice)) AS avg_price,
           ({dsum_sql('l_discount')} / COUNT(l_discount)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: partial+final aggregation over the
    big fact (reference combiner semantics, MapTask.java:1009)."""
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(REVENUE()).alias("sum_disc_price"),
        dsum(REVENUE() * (1 + F.col("l_tax"))).alias("sum_charge"),
        (dsum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        (dsum("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
        (dsum("l_discount") / F.count("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top_unshipped_orders",
    oracle=f"""
    SELECT l_orderkey, {dsum_sql(REVENUE_SQL)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style top-k: join + agg + TakeOrderedAndProject (the
    reference's single-reducer top-k idiom, EX/Grep.java:87)."""
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = spark.table("lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(REVENUE()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "order_priority_count",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style semi-join (EXISTS) → left_semi: the reference's
    Bloom-filter semi-join idiom (HC/util/bloom/BloomFilter.java:83) as a
    first-class join type."""
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = spark.table("lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "nation_trade_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           {dsum_sql(REVENUE_SQL)} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_1','NATION_2','NATION_3')
      AND sn.n_name IN ('NATION_1','NATION_2','NATION_3')
    GROUP BY cust_nation, supp_nation
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bi-dimensional join (customer nation × supplier
    nation): the reference's N-source CompositeInputFormat join
    (lib/join/CompositeInputFormat.java:59) generalized."""
    nations = ["NATION_1", "NATION_2", "NATION_3"]
    cn = spark.table("nation").filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = spark.table("nation").filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        spark.table("lineitem")
        .join(spark.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(spark.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(spark.table("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(dsum(REVENUE()).alias("volume"))
    )


@query(
    "top_returning_customers",
    oracle=f"""
    SELECT c_custkey, c_name, {dsum_sql(REVENUE_SQL)} AS revenue, n_name AS nation
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: returned-item revenue per customer, top 20."""
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    return (
        spark.table("customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(spark.table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(REVENUE()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "customer_order_distribution",
    oracle="""
    SELECT order_count, COUNT(*) AS num_customers
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS order_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY order_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: left outer join + two-level aggregation (orders per
    customer including zero, then histogram of those counts — the
    reference's ValueHistogram shape, lib/aggregate/ValueHistogram.java)."""
    per_cust = (
        spark.table("customer")
        .join(spark.table("orders"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(F.count(F.lit(1)).alias("num_customers"))


@query(
    "brand_part_stats",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS part_count,
           ({dsum_sql('p_retailprice')} / COUNT(p_retailprice)) AS avg_price,
           MAX(p_size) AS max_size, MIN(p_size) AS min_size
    FROM part
    GROUP BY p_brand
    """,
)
def brand_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-table aggregate: count/avg/max/min per brand (the
    reference's LongValueMax/Min + DoubleValueSum aggregators,
    lib/aggregate/LongValueMax.java)."""
    return spark.table("part").groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("part_count"),
        (dsum("p_retailprice") / F.count("p_retailprice")).alias("avg_price"),
        F.max("p_size").alias("max_size"),
        F.min("p_size").alias("min_size"),
    )


@query(
    "returnflag_priority_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def returnflag_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot (TPC-H Q12 shape): CASE-WHEN counts
    per return flag (the synthetic schema has no l_shipmode) — the reference needs a tagged-key MapReduce; here one
    join + one agg, filter pushed to the lineitem scan."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    return (
        spark.table("orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE) * promo / total AS promo_pct
    FROM (
      SELECT {dsum_sql("CASE WHEN p_type LIKE 'PROMO%' THEN " + REVENUE_SQL + " ELSE 0 END")} AS promo,
             {dsum_sql(REVENUE_SQL)} AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
    )
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio metric over a conditional aggregate (TPC-H Q14 shape):
    promo revenue percentage for one month; both sums in one pass."""
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    j = li.join(spark.table("part"), F.col("l_partkey") == F.col("p_partkey"))
    promo = dsum(F.when(F.col("p_type").like("PROMO%"), REVENUE()).otherwise(F.lit(0)))
    return j.agg(
        (F.lit(100.0) * promo / dsum(REVENUE())).alias("promo_pct")
    )


@query(
    "market_share_by_year",
    oracle=f"""
    SELECT o_year,
           {dsum_sql("CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END")}
             / {dsum_sql('volume')} AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             {REVENUE_SQL} AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share ratio per year (TPC-H Q8 shape): NATION_1 suppliers'
    share of ASIA-customer revenue, one conditional + one total aggregate
    in a single pass over a 6-way join. Both nation dims and region are
    broadcast; the year extraction stays JVM-side (`F.year`)."""
    cn = spark.table("nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    sn = spark.table("nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    j = (
        spark.table("lineitem")
        .join(spark.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(spark.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_rkey") == F.col("r_regionkey"))
        .join(spark.table("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            REVENUE().alias("volume"),
            "supp_nation",
        )
    )
    nat1 = dsum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(F.lit(0)))
    return j.groupBy("o_year").agg((nat1 / dsum("volume")).alias("mkt_share"))


@query(
    "nation_profit_by_year",
    oracle=f"""
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           {dsum_sql("l_extendedprice * (1 - l_discount) - l_quantity * p_retailprice * 0.1")} AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    """,
)
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit attribution by supplier nation and order year (TPC-H Q9
    shape, supply cost adapted to 10% of retail price — the synthetic
    schema has no partsupp). The part-name LIKE filter prunes the fact
    via the broadcast part join before the wide orders join."""
    part = spark.table("part").filter(F.col("p_name").like("%red%"))
    profit = REVENUE() - F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.1)
    return (
        spark.table("lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(spark.table("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(spark.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(spark.table("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


@query(
    "top_supplier_by_revenue",
    oracle=f"""
    WITH sup_rev AS (
      SELECT l_suppkey AS suppkey, {dsum_sql(REVENUE_SQL)} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN sup_rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM sup_rev)
    """,
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-over-aggregate (TPC-H Q15 shape): revenue view + scalar-
    subquery max — the view computes once, Catalyst reuses it."""
    return spark.sql(
        f"""
        WITH sup_rev AS (
          SELECT l_suppkey AS suppkey,
                 {dsum_sql(REVENUE_SQL)} AS total_rev
          FROM lineitem
          WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev
        FROM supplier JOIN sup_rev ON s_suppkey = suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM sup_rev)
        """
    )


@query(
    "quantity_band_revenue",
    oracle=f"""
    SELECT p_type,
           {dsum_sql(REVENUE_SQL)} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity BETWEEN 5 AND 15
      AND p_size BETWEEN 1 AND 10
    GROUP BY p_type
    """,
)
def quantity_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-predicate band filters (TPC-H Q19 shape): brand + quantity
    band + size band, every predicate pushed/pruned before the join."""
    li = spark.table("lineitem").filter(F.col("l_quantity").between(5, 15))
    pt = spark.table("part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10))
    )
    return (
        li.join(pt, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(dsum(REVENUE()).alias("revenue"))
    )


_SMALL_QUANTITY_REVENUE_SQL = f"""
    SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * ({dsum_sql('l2.l_quantity')} / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
      )
    """


@query("small_quantity_revenue", oracle=_SMALL_QUANTITY_REVENUE_SQL)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-average subquery against the fact table (TPC-H Q17
    shape): lineitems below 20% of their part's mean quantity. Catalyst
    decorrelates to a per-part aggregate + join — one extra shuffle, not
    one subquery per row (the reference would need a self-join MapReduce
    pass, lib/join). Exact decimal mean so the threshold comparison is
    engine-independent."""
    return spark.sql(_SMALL_QUANTITY_REVENUE_SQL)


@query(
    "large_volume_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM (
      SELECT l_orderkey AS big_okey, {dsum_sql('l_quantity')} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 300
    ) big
    JOIN orders   ON o_orderkey = big_okey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join-back (TPC-H Q18 shape): orders whose total
    quantity exceeds a threshold, decorated with customer data. The
    HAVING prunes the fact to a sliver BEFORE the dimension joins, so
    the joins are cheap at any scale; top-20 plans as
    TakeOrderedAndProject (no global sort materialization)."""
    big = (
        spark.table("lineitem")
        .groupBy(F.col("l_orderkey").alias("big_okey"))
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.sum(F.col("l_quantity").cast("decimal(30,6)")) > 300)
    )
    return (
        big.join(spark.table("orders"), F.col("o_orderkey") == F.col("big_okey"))
        .join(spark.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


_INACTIVE_RICH_CUSTOMERS_SQL = f"""
    SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
           {dsum_sql('c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT {dsum_sql('c_acctbal')} / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01'
      )
    GROUP BY c_mktsegment
    """


@query("inactive_rich_customers", oracle=_INACTIVE_RICH_CUSTOMERS_SQL)
def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join + scalar subquery (TPC-H Q22 shape): above-average-
    balance customers with no recent orders, counted per market segment.
    The NOT EXISTS plans as a left-anti join on the date-pruned orders
    scan; the global average is one scalar subquery computed once."""
    return spark.sql(_INACTIVE_RICH_CUSTOMERS_SQL)


@query(
    "disjunctive_bracket_revenue",
    oracle=f"""
    SELECT {dsum_sql(REVENUE_SQL)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjunctions predicate spanning both join sides (TPC-H Q19
    shape). Catalyst extracts the common single-side residuals (brand
    set, quantity superset-range) as pushed scan filters and keeps the
    full disjunction as the join filter — the reference has no planner
    and would evaluate everything in the reducer."""
    li = spark.table("lineitem")
    pt = spark.table("part")
    j = li.join(pt, F.col("l_partkey") == F.col("p_partkey"))
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(bracket).agg(dsum(REVENUE()).alias("revenue"))


_SUPPLIER_DIVERSITY_SQL = """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """


@query("supplier_diversity_by_part", oracle=_SUPPLIER_DIVERSITY_SQL)
def supplier_diversity_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count over an excluded-supplier NOT IN (TPC-H Q16 shape):
    the NOT IN plans as a null-aware anti join against the (tiny,
    broadcast) negative supplier list; COUNT(DISTINCT) expands to a
    two-phase aggregate — both safe at any fact size."""
    return spark.sql(_SUPPLIER_DIVERSITY_SQL)


_BULK_SUPPLIERS_SQL = """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#2'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 100
    )
    """


@query("bulk_suppliers_of_brand", oracle=_BULK_SUPPLIERS_SQL)
def bulk_suppliers_of_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN over an aggregated-with-HAVING subquery (TPC-H Q20 shape):
    the qualifying-supplier set reduces on the fact first (brand filter
    pushed to the part scan, partial-agg before the HAVING), then the IN
    plans as a semi join — supplier rows never multiply."""
    return spark.sql(_BULK_SUPPLIERS_SQL)


@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name AS nation, {dsum_sql(REVENUE_SQL)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, nation
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper (local supplier volume): the flagship's 4-way
    join PLUS the supplier leg with the LOCAL constraint — the customer
    and the line's supplier must share a nation (c_nationkey =
    s_nationkey rides the supplier join, not a post-filter, so Catalyst
    keeps it in the join condition). Completes the Q1-Q22 shape
    inventory together with forecast_revenue_change (Q6). Dims
    broadcast; the fact-side joins shuffle on their keys."""
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.table("lineitem")
    cust = spark.table("customer")
    supp = spark.table("supplier")
    nation = spark.table("nation")
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(REVENUE()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan benchmark —
    SUM(extendedprice * discount) under tight range predicates, no join,
    no groupBy key. This is the pushdown showcase: all three predicates
    reach the parquet scan (PushedFilters) and only the four referenced
    columns are read (ReadSchema) — at 100 TB the query's cost IS the
    pruned scan. Exact decimal sum keeps the single output row
    hash-stable under any partitioning."""
    li = spark.table("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# Referential-integrity audit — the first query a MIGRATION runs after
# landing data in the new engine (the reference world's fsck for
# relational layout): orphan-FK counts across the TPC-H join graph in
# one pass of left-anti joins. A non-zero row here explains every
# downstream inner-join undercount.
_FK_ORACLE = """
SELECT fk, CAST(n_orphans AS BIGINT) AS n_orphans FROM (
  SELECT 'lineitem.l_orderkey' AS fk,
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey',
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey',
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders.o_custkey',
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer.c_nationkey',
         (SELECT COUNT(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
  UNION ALL
  SELECT 'supplier.s_nationkey',
         (SELECT COUNT(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
  UNION ALL
  SELECT 'nation.n_regionkey',
         (SELECT COUNT(*) FROM nation n
          WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
)
ORDER BY fk
"""


@query("tpch_fk_integrity", oracle=_FK_ORACLE)
def tpch_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan count per FK edge of the TPC-H schema (7 edges), via
    left-anti joins unioned into one report. Scale: each edge is ONE
    hash anti-join keyed on the FK (Spark injects bloom/DPP runtime
    filters on the build side); dimension edges broadcast; the report
    is 7 rows. The post-migration data-quality gate."""
    edges = [
        ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for name, child, fk, parent, pk in edges:
        orphans = (
            spark.table(child)
            .select(F.col(fk))
            .join(
                spark.table(parent).select(F.col(pk).alias(fk)),
                fk,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out.orderBy("fk")
