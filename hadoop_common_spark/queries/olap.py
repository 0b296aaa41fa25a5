"""OLAP superset queries: cube / rollup / grouping sets.

The reference has none of these (SURVEY.md §2.5: "Grouping sets / cube /
rollup — not implemented"); they are free capability supersets in Spark
and part of what a replacement engine must offer. All are single-shuffle
aggregations (Spark expands the grouping sets before the exchange, with
partial aggregation per set)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum, dsum_sql
from hadoop_common_spark.queries import query


@query(
    "rollup_region_nation_revenue",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region → nation → grand total via rollup;
    NULL marks the rolled-up levels (ANSI semantics, same as DuckDB)."""
    orders, customer = spark.table("orders"), spark.table("customer")
    nation, region = spark.table("nation"), spark.table("region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 grouping combinations over order status × priority."""
    return (
        spark.table("orders")
        .cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_GROUPING_SETS_EVENTS_SQL = """
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY GROUPING SETS ((user_id), (event_type))
    """


@query("grouping_sets_events", oracle=_GROUPING_SETS_EVENTS_SQL)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: per-user totals and per-type totals in one
    aggregation pass (one shuffle instead of a union of two groupBys)."""
    return spark.sql(_GROUPING_SETS_EVENTS_SQL)


# CAST(... AS BIGINT): DuckDB types SUM(int) as HUGEINT, Spark's pivot
# count is BIGINT — same hash-normalization fix as returnflag_priority_pivot
# (queries/tpch.py) and join_semi_anti.
_PIVOT_ORACLE = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'    THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
FROM orders
GROUP BY o_orderstatus
"""


@query("pivot_status_priority", oracle=_PIVOT_ORACLE)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot (long→wide): order counts by status × priority. The
    explicit value list keeps the plan a single pass (no extra distinct
    job to discover columns) — at scale, always pass pivot values."""
    pr = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", pr)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


_UNPIVOT_ORACLE = f"""
SELECT measure,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('value')} AS total,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM (
  UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
  ON l_quantity, l_extendedprice, l_discount, l_tax
  INTO NAME measure VALUE value
)
GROUP BY measure
"""


@query("lineitem_unpivot_measures", oracle=_UNPIVOT_ORACLE)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native unpivot/melt (wide→long, the inverse of pivot_status_
    priority): four lineitem measure columns stacked into (measure,
    value) rows, then per-measure stats. One scan; the stack is a
    narrow 4× row fan-out, no shuffle before the final aggregation.
    Exact decimal sums (dsum) keep totals bit-stable vs DuckDB."""
    li = spark.table("lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot(
        ids=[], values=measures, variableColumnName="measure", valueColumnName="value"
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum("value").alias("total"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# RFM customer segmentation (recency / frequency / monetary quintiles) —
# the classic marketing-analytics cube, done WITHOUT the single-
# partition NTILE funnel: each dimension's global rank comes from the
# pinned two-bounded-shuffle enumeration (operators/sort.
# global_row_number), and the quintile is pure BIGINT arithmetic over
# (rank, N) — ((rn-1)*5) div N + 1 — identical on both engines.
_RFM_ORACLE = f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(FLOOR(epoch(MAX(o_orderdate))) AS BIGINT) AS last_s,
         CAST(COUNT(*) AS BIGINT) AS freq,
         {dsum_sql('o_totalprice')} AS mon
  FROM orders GROUP BY o_custkey
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM cust),
r AS (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY -last_s, o_custkey) AS rn FROM cust),
f AS (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY -freq, o_custkey) AS rn FROM cust),
m AS (SELECT o_custkey, ROW_NUMBER() OVER (ORDER BY -mon, o_custkey) AS rn FROM cust)
SELECT CAST(((r.rn - 1) * 5) // n_cust + 1 AS INT) AS r_score,
       CAST(((f.rn - 1) * 5) // n_cust + 1 AS INT) AS f_score,
       CAST(((m.rn - 1) * 5) // n_cust + 1 AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {dsum_sql('mon')} AS segment_revenue
FROM cust
JOIN r USING (o_custkey) JOIN f USING (o_custkey) JOIN m USING (o_custkey)
CROSS JOIN n
GROUP BY 1, 2, 3
"""


@query("customers_rfm_segments", oracle=_RFM_ORACLE)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(R,F,M)-quintile segment sizes and revenue. Scale: one
    orders groupBy builds the per-customer triple; each of the three
    global ranks is the block-parallel global_row_number (two bounded
    shuffles, global window only over the per-block count aggregate —
    NEVER a customer-sized single partition); quintile scores are exact
    integer arithmetic; the three rank joins are hash joins on
    o_custkey; N attaches as a broadcast one-row scalar; the final
    rollup is 125 rows max. Revenue sums are exact decimal (dsum)."""
    from hadoop_common_spark.operators.sort import global_row_number

    cust = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            # NTZ-safe epoch: o_orderdate may read back TIMESTAMP_NTZ;
            # NTZ -> timestamp under the UTC session == the instant,
            # matching the oracle's epoch()
            F.max(F.col("o_orderdate").cast("timestamp").cast("long")).alias("_last"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            dsum("o_totalprice").alias("mon"),
        )
        .withColumn("_kr", -F.col("_last"))
        .withColumn("_kf", -F.col("freq"))
        .withColumn("_km", -F.col("mon"))
    )
    n = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    ranked = {}
    for tag, key, blk in (
        ("_pr", "_kr", F.floor(F.col("_kr") / (30 * 86400))),
        ("_pf", "_kf", F.col("_kf")),
        ("_pm", "_km", F.floor(F.col("_km") / 1000.0)),
    ):
        ranked[tag] = global_row_number(
            cust.select("o_custkey", key), [key, "o_custkey"], blk, pos_col="pos"
        ).select("o_custkey", F.col("pos").alias(tag))
    scored = (
        cust.join(ranked["_pr"], "o_custkey")
        .join(ranked["_pf"], "o_custkey")
        .join(ranked["_pm"], "o_custkey")
        .crossJoin(F.broadcast(n))
    )

    def quint(p: str):
        return (F.expr(f"(({p} - 1) * 5) div n_cust") + 1).cast("int")

    return (
        scored.select(
            quint("_pr").alias("r_score"),
            quint("_pf").alias("f_score"),
            quint("_pm").alias("m_score"),
            "mon",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            dsum("mon").alias("segment_revenue"),
        )
    )


# Period-over-period (r6) — the month-over-month BI primitive: monthly
# revenue with previous-month delta and percent change. The LAG runs
# over the MONTH AGGREGATE (dozens of rows — whitelisted single
# partition), never over orders.
_MOM_ORACLE = f"""
WITH m AS (
  SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
         {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta,
       (revenue - LAG(revenue) OVER (ORDER BY month))
         / LAG(revenue) OVER (ORDER BY month) AS mom_pct
FROM m
"""


@query("orders_revenue_mom", oracle=_MOM_ORACLE)
def orders_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue + month-over-month delta/percent. Scale: one
    partial-aggregated shuffle to |months| rows; the lag window sorts
    only that bounded aggregate. Revenue is the exact-decimal dsum
    (order-independent); delta and pct are fixed IEEE ops on the
    already-identical doubles."""
    from hadoop_common_spark.functions.exact import dsum

    from pyspark.sql import Window

    m = (
        spark.table("orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        (F.col("revenue") - prev).alias("mom_delta"),
        ((F.col("revenue") - prev) / prev).alias("mom_pct"),
    )


# Gini concentration (r6) — the inequality/concentration dashboard
# number ("what share of revenue sits in the top customers" as one
# scalar): G = 2*sum(i*x_(i)) / (n*sum(x)) - (n+1)/n over rank-ordered
# per-customer revenue. DETERMINISM: revenue has exactly 2 decimals, so
# cents are EXACT BIGINTs; the rank comes from the pinned block-parallel
# global_row_number (no single-partition funnel over customers); W =
# sum(i * cents) stays below 2^63 through ~sf1 (docstring bound) and
# reaches double through single correctly-rounded BIGINT conversions.
_GINI_ORACLE = """
WITH cr AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM cr
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(i * cents) AS BIGINT) AS weighted_cents
  FROM r
)
SELECT n, total_cents,
       2.0 * CAST(weighted_cents AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM s
"""


@query("customers_revenue_gini", oracle=_GINI_ORACLE)
def customers_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue. Scale: one
    groupBy to customers, the block-parallel global rank (two bounded
    shuffles, no single-partition sort of customer rows), one partial
    aggregate to a single row. Exactness: cents are exact BIGINTs;
    W = sum(i*cents) < 2^63 through ~sf1 (1.5e5 customers x 1.5e5 rank
    x 1e7 cents ~ 2e17) — past that, switch W to decimal(38,0) and keep
    the same single-conversion story."""
    from hadoop_common_spark.operators.sort import global_row_number

    cr = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # block = coarse monotone prefix of the order key (cents div 1e6 ~
    # hundreds of blocks), the global_row_number contract
    ranked = global_row_number(
        cr,
        [F.col("cents"), F.col("o_custkey")],
        F.floor(F.col("cents") / F.lit(1_000_000)),
        pos_col="i",
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("weighted_cents"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "n",
        "total_cents",
        (
            F.lit(2.0) * F.col("weighted_cents").cast("double")
            / (n * F.col("total_cents").cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


# Contribution / share-of-parent (r6) — the percent-of-total BI shape
# at two hierarchy levels: each nation's revenue as a share of its
# region's. Unlike rollup (which emits the subtotals), this RELATES the
# child row to its parent total — one broadcast join of the bounded
# region aggregate back onto nations.
_SHARE_ORACLE = f"""
WITH nat AS (
  SELECT r_name AS region, n_name AS nation,
         {dsum_sql('o_totalprice')} AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
reg AS (
  SELECT region, {dsum_sql('revenue')} AS region_revenue
  FROM nat GROUP BY region
)
SELECT nation, n.region, revenue, region_revenue,
       revenue / region_revenue AS share_of_region
FROM nat n JOIN reg USING (region)
"""


@query("nation_share_of_region", oracle=_SHARE_ORACLE)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue and its share of the region total. Scale: the
    fact table aggregates ONCE to |nations| rows; the parent level
    re-aggregates that bounded result (never re-scanning orders) and
    broadcasts back. Exact-decimal sums at both levels; the share is a
    single division of identical doubles."""
    from hadoop_common_spark.functions.exact import dsum

    orders, customer = spark.table("orders"), spark.table("customer")
    nation, region = spark.table("nation"), spark.table("region")
    nat = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    reg = nat.groupBy("region").agg(dsum("revenue").alias("region_revenue"))
    return nat.join(F.broadcast(reg), "region").select(
        "nation",
        "region",
        "revenue",
        "region_revenue",
        (F.col("revenue") / F.col("region_revenue")).alias("share_of_region"),
    )
