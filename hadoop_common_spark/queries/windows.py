"""Time-window queries over `events` — batch formulations of the
streaming operators (SURVEY.md §2.10).

The reference is batch-only (no watermarks/windows/state anywhere in
MapReduce); these queries define the window *semantics* on the batch
path, and hadoop_common_spark.streaming re-exposes the same windows via
Structured Streaming (readStream + withWatermark). Keeping the oracle on
the batch form is exactly the §2.10 plan: every streaming op has a
batch-equivalent formulation DuckDB can check.

Window keys are epoch-second bigints (not timestamps): integer bucket
math is identical in every engine and timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum, dsum_over_sql, dsum_sql
from hadoop_common_spark.queries import query

EPOCH = "CAST(ts AS LONG)"  # spark: seconds, floor
EPOCH_SQL = "CAST(floor(epoch(ts)) AS BIGINT)"


@query(
    "window_tumbling_hourly",
    oracle=f"""
    SELECT ({EPOCH_SQL} // 3600) * 3600 AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window per event_type (streaming:
    ``groupBy(window(ts, '1 hour'), event_type)`` — see streaming/jobs.py)."""
    df = spark.table("events")
    bucket = (F.expr(f"{EPOCH} div 3600") * 3600).alias("window_start")
    return df.groupBy(bucket, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


@query(
    "window_sliding_10m_5m",
    oracle=f"""
    SELECT window_start, COUNT(*) AS n_events
    FROM (
      SELECT unnest([
               ({EPOCH_SQL} // 300) * 300 - 300,
               ({EPOCH_SQL} // 300) * 300
             ]) AS window_start
      FROM events
    )
    GROUP BY window_start
    """,
)
def window_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window, 10 min size / 5 min slide: each event lands in the
    two windows covering it (explode of window starts — exactly Spark's
    streaming `window(ts, '10 minutes', '5 minutes')` expansion)."""
    df = spark.table("events")
    s1 = F.expr(f"({EPOCH} div 300) * 300")
    return (
        df.select(F.explode(F.array(s1 - 300, s1)).alias("window_start"))
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# Gap sessions (30 min) of each user's events, grouped per session: the
# FROM/GROUP BY both sessionization oracles aggregate.
_SESSIONS_SQL = f"""    FROM (
      SELECT user_id, e,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY e, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, event_id, e,
               CASE WHEN e - lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id) > 1800
                    OR lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM (SELECT user_id, event_id, {EPOCH_SQL} AS e FROM events)
      )
    )
    GROUP BY user_id, session_id
    """


def _sessions(spark: SparkSession) -> DataFrame:
    """Spark side of _SESSIONS_SQL: events as (user_id, event_id, e)
    with `session_id`, the running count of 30-minute gaps per user."""
    df = spark.table("events").select(
        "user_id", "event_id", F.expr(EPOCH).alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    flagged = df.withColumn("_prev", F.lag("e").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("_prev").isNull() | (F.col("e") - F.col("_prev") > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@query(
    "window_sessionize",
    oracle=f"""
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MAX(e) - MIN(e) AS duration_s
{_SESSIONS_SQL}""",
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min gap): lag → new-session flag →
    running sum = session id → per-session stats. The batch equivalent of
    streaming ``session_window(ts, '30 minutes')``; one shuffle on
    user_id, everything else window functions."""
    return _sessions(spark).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e") - F.min("e")).alias("duration_s"),
    )


@query(
    "stream_session_expiry_batch",
    oracle=f"""
    SELECT user_id,
           MIN(e) AS session_start,
           MAX(e) AS session_end,
           COUNT(*) AS n_events
{_SESSIONS_SQL}""",
)
def stream_session_expiry_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the transformWithState timer-driven session-expiry
    maintainer (streaming/stateful.py::session_expiry_tws): gap-based
    sessions (30 min) emitting the exact row the streaming operator
    emits when a session's timer fires — (user_id, session_start,
    session_end, n_events) in epoch seconds. The drain≡batch pin in
    tests/test_streaming_pipe_dag.py holds the two faces together; this
    face carries the DuckDB oracle. One shuffle on user_id; per-user
    window sort is user-bounded."""
    return _sessions(spark).groupBy("user_id", "session_id").agg(
        F.min("e").alias("session_start"),
        F.max("e").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("session_id")


@query(
    "stream_topk_per_user_batch",
    oracle="""
    SELECT user_id, event_id, value, rnk
    FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rnk
      FROM events
    )
    WHERE rnk <= 3
    """,
)
def stream_topk_per_user_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the transformWithState ListState bounded top-k
    maintainer (streaming/stateful.py::topk_events_tws, k=3): per-user
    top 3 events by (value desc, event_id asc). The streaming face keeps
    at most k rows of state per user however long the stream runs; this
    face is the one-window batch form carrying the oracle. The
    drain≡batch pin asserts the maintainer's final emission per user
    equals these rows."""
    df = spark.table("events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "stream_distinct_types_batch",
    oracle="""
    SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def stream_distinct_types_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the transformWithState MapState distinct-type
    counter (streaming/stateful.py::distinct_event_types_tws): per-user
    distinct event-type count — the maintainer's final emission after an
    availableNow drain over the same rows. The drain≡batch pin in
    tests/test_streaming_pipe_dag.py holds the two faces together; this
    face carries the DuckDB oracle (VERDICT r10 #5 — the one TWS
    operator whose batch twin had no driver row; session-expiry and
    top-k already carry theirs). Distinct-aggregate form: partial
    per-(user, type) dedup map-side, then one shuffle on user_id — the
    same per-user state partitioning the streaming face keeps in the
    state store."""
    return (
        spark.table("events")
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").cast("bigint").alias("n_types"))
    )


@query(
    "window_user_running_total",
    oracle=f"""
    SELECT event_id, user_id,
           {dsum_over_sql(
               'value',
               f'''OVER (
             PARTITION BY user_id ORDER BY {EPOCH_SQL}, event_id
             ROWS UNBOUNDED PRECEDING
           )''',
           )} AS running_value
    FROM events
    """,
)
def window_user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total ordered by time — the cumulative-state shape
    of a stateful streaming operator, as a batch window (exact decimal
    accumulation so every prefix matches bit-for-bit)."""
    df = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr(EPOCH), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias("running_value"),
    )


_ANALYTICS_ORACLE = """
SELECT user_id, event_id,
       lag(value)  OVER w_ts AS prev_value,
       lead(value) OVER w_ts AS next_value,
       dense_rank()   OVER w_val AS value_rank,
       ntile(4)       OVER w_ts  AS quartile,
       percent_rank() OVER w_val AS pct_rank
FROM events
WHERE user_id < 50
WINDOW w_ts  AS (PARTITION BY user_id ORDER BY ts, event_id),
       w_val AS (PARTITION BY user_id ORDER BY value DESC, event_id)
"""


@query("window_user_analytics", oracle=_ANALYTICS_ORACLE)
def window_user_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function family (lag/lead/dense_rank/ntile/
    percent_rank) over per-user event history — the reference's
    secondary-sort idiom (composite key + grouping comparator,
    EX/SecondarySort.java:103) generalized to ranked/offset access.
    Both orderings share ONE exchange on user_id (two in-partition
    sorts); every ordering is tie-broken by event_id so ranks are
    deterministic."""
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        spark.table("events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.lag("value").over(w_ts).alias("prev_value"),
            F.lead("value").over(w_ts).alias("next_value"),
            F.dense_rank().over(w_val).alias("value_rank"),
            F.ntile(4).over(w_ts).alias("quartile"),
            F.percent_rank().over(w_val).alias("pct_rank"),
        )
    )


_ATTRIBUTION_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id
 AND v.ts >= c.ts - INTERVAL 10 MINUTE
 AND v.ts <= c.ts
"""


@query("view_click_attribution", oracle=_ATTRIBUTION_ORACLE)
def view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join (click→view attribution over a 10-minute
    lookback): the batch twin of the stream-stream watermarked join in
    streaming/jobs.py::view_click_attribution_stream. Equi key (user_id)
    + range predicate: Spark shuffles both sides on user_id once and the
    range filter runs post-join inside the same stage — no cross join,
    no quadratic blow-up beyond per-user fan-out, at any scale."""
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    return (
        clicks.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("v_ts") <= F.col("c_ts")),
        )
        .select(
            "user_id",
            "click_id",
            "view_id",
            # unix_seconds over an explicit to-instant cast: parquet event
            # timestamps infer as TIMESTAMP_NTZ, and ANSI mode (Spark 4
            # default) rejects a direct NTZ -> BIGINT cast. Session tz is
            # pinned to UTC, so NTZ -> instant is unambiguous and matches
            # the oracle's epoch(ts).
            F.unix_seconds(F.col("c_ts").cast("timestamp")).alias("click_epoch"),
            F.unix_seconds(F.col("v_ts").cast("timestamp")).alias("view_epoch"),
        )
    )


_MULTIRES_ORACLE = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket,
         COUNT(*) AS n_events, MIN(value) AS min_value, MAX(value) AS max_value
  FROM events GROUP BY 1
),
hour AS (
  SELECT date_trunc('hour', bucket) AS bucket,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         MIN(min_value) AS min_value, MAX(max_value) AS max_value
  FROM minute GROUP BY 1
),
day AS (
  SELECT date_trunc('day', bucket) AS bucket,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         MIN(min_value) AS min_value, MAX(max_value) AS max_value
  FROM hour GROUP BY 1
)
SELECT '1m' AS resolution, * FROM minute
UNION ALL SELECT '1h' AS resolution, * FROM hour
UNION ALL SELECT '1d' AS resolution, * FROM day
"""


@query("events_multires_rollup", oracle=_MULTIRES_ORACLE)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the event stream downsampled
    to 1-minute, 1-hour, and 1-day resolutions in ONE pass. Each event
    explodes into its three (resolution, bucket) cells before a single
    groupBy — the union-of-three-rollups formulation scans the raw table
    three times (exchange reuse does not fire across union branches;
    measured), while here the 3x row fan-out collapses in the map-side
    partial aggregate to at most |distinct buckets| rows per task, so the
    shuffle is tiny at any scale. All measures are re-aggregable
    (count/min/max), so a production pipeline can persist the minute tier
    and fold increments upward — the oracle states that hierarchical
    form; explode-then-group computes the identical result."""
    from hadoop_common_spark.streaming.jobs import multires_partial

    return multires_partial(spark.table("events"))


_ROLLING_ORACLE = f"""
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       MIN(value) OVER w AS min_1h,
       MAX(value) OVER w AS max_1h,
       {dsum_over_sql('value', 'OVER w')} AS sum_1h
FROM (SELECT event_id, user_id, value, {EPOCH_SQL} AS e FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY e
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@query("events_rolling_1h_stats", oracle=_ROLLING_ORACLE)
def events_rolling_1h_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour features (the time-decayed feature shape
    every fraud/abuse/engagement model consumes): RANGE frame over epoch
    seconds, so events sharing a second are all in-frame regardless of
    tie order — deterministic where a ROWS frame would not be. One
    shuffle on user_id; the value sum is an exact decimal fold
    (functions/exact.py) so every prefix matches the oracle
    bit-for-bit."""
    df = spark.table("events").select(
        "event_id", "user_id", "value", F.expr(EPOCH).alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("e").rangeBetween(-3600, 0)
    return df.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.min("value").over(w).alias("min_1h"),
        F.max("value").over(w).alias("max_1h"),
        # not dsum(...).over(w): dsum wraps the aggregate in a cast, so
        # .over would attach to the cast — apply the frame to the SUM
        # itself, then cast
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias("sum_1h"),
    )


_PERCENTILE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.9)  AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""


@query("events_value_percentiles", oracle=_PERCENTILE_ORACLE)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact latency-style percentiles (p50/p90/p99) per event type —
    the reference's WordMedian driver-side scan (EX/WordMedian.java:121)
    generalized to true linear-interpolated quantiles, matching Spark's
    `percentile` and DuckDB's `quantile_cont` bit-for-bit: both
    interpolate at pos = p*(n-1) with (hi-pos)*v_lo + (pos-lo)*v_hi
    (probed; the formula below mirrors Percentile.scala's getPercentile
    term order so the doubles are the same IEEE ops). The two bracketing
    values per percentile come from histogram selection
    (skew.grouped_rank_select) — the builtin `percentile` aggregate
    buffers every value of a group in ONE aggregation value, the same
    corpus-sized-state class as a collected-history fold, and a hot
    type's buffer IS the corpus at 100 TB; equality with the builtin is
    pinned in test_percentiles_interpolation_equals_builtin."""
    from hadoop_common_spark.operators.skew import grouped_percentiles_interpolated

    ev = spark.table("events").select("event_type", "value", "event_id")
    pct = grouped_percentiles_interpolated(
        ev, ["event_type"], "value", ["event_id"],
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # left join: a group whose values are all NULL keeps its count and
    # NULL percentiles, as the builtin does
    return counts.join(pct, "event_type", "left").select(
        "event_type", "n_events", "p50", "p90", "p99"
    )


_FUNNEL_ORACLE = f"""
WITH pe AS (SELECT user_id, event_type, {EPOCH_SQL} AS e FROM events),
v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN e END) AS v_ts
  FROM pe GROUP BY user_id
),
c AS (
  SELECT pe.user_id, MIN(CASE WHEN pe.event_type = 'click' AND pe.e >= v.v_ts
                              THEN pe.e END) AS c_ts
  FROM pe JOIN v ON pe.user_id = v.user_id GROUP BY pe.user_id
),
p AS (
  SELECT pe.user_id, MIN(CASE WHEN pe.event_type = 'purchase' AND pe.e >= c.c_ts
                              THEN pe.e END) AS p_ts
  FROM pe JOIN c ON pe.user_id = c.user_id GROUP BY pe.user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN v.v_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN c.c_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM v JOIN c ON v.user_id = c.user_id JOIN p ON v.user_id = p.user_id
"""


@query("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click-after-view -> purchase-
    after-click), the product-analytics staple: stage k counts users
    whose earliest stage-k event follows their earliest completed stage
    k-1. Three unbounded per-user windows CHAINED IN ONE SELECT pipeline
    share a single exchange on user_id (no orderBy needed — min over the
    whole partition); the final count is a 4-number global fold. At 100
    TB this is one shuffle of (user, type, ts) triples, nothing else."""
    pe = spark.table("events").select(
        "user_id", "event_type", F.expr(EPOCH).alias("e")
    )
    w = Window.partitionBy("user_id")
    v = F.min(F.when(F.col("event_type") == "view", F.col("e"))).over(w)
    staged = pe.withColumn("v_ts", v)
    c = F.min(
        F.when((F.col("event_type") == "click") & (F.col("e") >= F.col("v_ts")), F.col("e"))
    ).over(w)
    staged = staged.withColumn("c_ts", c)
    p = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("e") >= F.col("c_ts")), F.col("e")
        )
    ).over(w)
    staged = staged.withColumn("p_ts", p)
    per_user = staged.groupBy("user_id").agg(
        F.first("v_ts").alias("v_ts"),
        F.first("c_ts").alias("c_ts"),
        F.first("p_ts").alias("p_ts"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("v_ts").isNotNull().cast("int")).cast("bigint").alias("n_view"),
        F.sum(F.col("c_ts").isNotNull().cast("int")).cast("bigint").alias("n_view_click"),
        F.sum(F.col("p_ts").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_view_click_purchase"),
    )


_COHORT_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, d.day) AS INT) AS day_offset,
       COUNT(*) AS n_users
FROM days d JOIN firsts f ON d.user_id = f.user_id
GROUP BY f.cohort_day, day_offset
"""


@query("events_cohort_retention", oracle=_COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active day, and
    for each (cohort, day-offset) the count of cohort members active
    that day. (user, day) pairs are pre-deduped, so the join fans out
    only per active-day; cohort assignment is a min-aggregate re-joined
    on user_id (broadcast-sized per cohort at any corpus — it is one row
    per user... the join key is user_id so both sides co-partition in
    one shuffle). COUNT(*) after the dedup IS distinct users."""
    days = (
        spark.table("events")
        .select("user_id", F.to_date(F.col("ts")).alias("day"))
        .distinct()
    )
    firsts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SCD2_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_orderdate AS DATE) AS valid_from,
       CAST(LEAD(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS DATE) AS valid_to
FROM orders WHERE o_custkey < 200
"""


@query("orders_scd2_intervals", oracle=_SCD2_ORACLE)
def orders_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction: each
    customer's order history becomes [valid_from, valid_to) rows, the
    open interval (valid_to null) marking the current record — the
    snapshot-to-history transform every warehouse maintains. One lead()
    window per customer; point-in-time lookup is then a pushed-down
    range filter, and the as-of join (asof_join_last_purchase) is its
    query-side twin."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        spark.table("orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.to_date("o_orderdate").alias("valid_from"),
            F.to_date(F.lead("o_orderdate").over(w)).alias("valid_to"),
        )
    )


_OUTLIER_ORACLE = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                       OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE e.event_type IS NOT NULL
GROUP BY e.event_type
"""


@query("events_outlier_counts", oracle=_OUTLIER_ORACLE)
def events_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screening per event type (the data-quality
    tripwire before values feed a model): exact q1/q3 (bit-identical
    interpolation, see events_value_percentiles), fences at 1.5 IQR,
    counts only — so the result is integer-stable across engines. The
    bounds side is histogram-selected (grouped_percentiles_interpolated
    — the builtin `percentile` would buffer every value of a type in
    one aggregation value) and broadcast back onto the stream; the
    fence pass is one full scan with partial aggregation. The bounds
    join is LEFT and the fence flag coalesces to 0, so an event_type
    whose values are all NULL (the selector omits the group) still
    surfaces with n_outliers = 0 — matching the oracle, where
    quantile_cont keeps the group with NULL q1/q3 and the CASE's ELSE
    counts every row as a non-outlier. A NULL event_type is excluded
    EXPLICITLY on both engines (the selector's non-NULL group-key
    contract; without the filter the left join would keep a NULL-type
    group the oracle's null-unsafe inner join drops)."""
    from hadoop_common_spark.operators.skew import grouped_percentiles_interpolated

    bounds = grouped_percentiles_interpolated(
        spark.table("events").select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        ["event_id"],
        {"q1": 0.25, "q3": 0.75},
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        spark.table("events")
        .filter(F.col("event_type").isNotNull())
        .join(F.broadcast(bounds), "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(out.cast("int"), F.lit(0)))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


_GAPFILL_ORACLE = f"""
WITH m AS (
  SELECT ({EPOCH_SQL} // 60) * 60 AS minute_start, COUNT(*) AS n_events
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
bounds AS (SELECT MIN(minute_start) AS lo, MAX(minute_start) AS hi FROM m),
grid AS (
  SELECT unnest(generate_series(lo, hi, 60)) AS minute_start FROM bounds
)
SELECT g.minute_start,
       CAST(COALESCE(m.n_events, 0) AS BIGINT) AS n_events,
       COALESCE(m.n_events, 0) = 0 AS gap_filled
FROM grid g LEFT JOIN m ON g.minute_start = m.minute_start
"""


@query("events_gapfill_minutes", oracle=_GAPFILL_ORACLE)
def events_gapfill_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled minute series (the hypertable `time_bucket_gapfill`
    shape): purchase counts per minute with EVERY minute between the
    observed min and max present, zero-filled and flagged — downstream
    models and dashboards need the dense grid, not the sparse one. The
    grid generates from a 1-row bounds aggregate (sequence() explode —
    grid size is (hi-lo)/step regardless of event count), then one
    left join back; with the rollup bucketed/partitioned by time the
    join is co-located."""
    m = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(((F.expr(EPOCH) / 60).cast("bigint") * 60).alias("minute_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bounds = m.agg(
        F.min("minute_start").alias("lo"), F.max("minute_start").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(60).cast("bigint"))
        ).alias("minute_start")
    )
    return grid.join(m, "minute_start", "left").select(
        "minute_start",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        (F.coalesce("n_events", F.lit(0)) == 0).alias("gap_filled"),
    )


_HEATMAP_ORACLE = f"""
SELECT CAST((({EPOCH_SQL} // 86400) + 4) % 7 AS INT) AS dow,
       CAST(({EPOCH_SQL} % 86400) // 3600 AS INT) AS hour,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY dow, hour
"""


@query("events_weekday_heatmap", oracle=_HEATMAP_ORACLE)
def events_weekday_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (the usage-pattern
    dashboard staple). dow/hour derive from PURE epoch integer math
    ((days + 4) % 7: epoch day 0 was a Thursday) — engine day-numbering
    conventions (Spark's Sunday=1 vs DuckDB's ISO Mon=1) never enter,
    and the bucketing is timezone-proof. One scan, one partial-agg
    shuffle over at most 168 groups."""
    e = F.expr(EPOCH)
    return (
        spark.table("events")
        .groupBy(
            (((e / 86400).cast("bigint") + 4) % 7).cast("int").alias("dow"),
            ((e % 86400) / 3600).cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


_NTILE_ORACLE = """
SELECT event_type, decile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       MIN(pct_rank) AS min_pct_rank,
       MAX(pct_rank) AS max_pct_rank
FROM (
  SELECT event_type, value,
         CAST(NTILE(10) OVER w AS INT) AS decile,
         PERCENT_RANK() OVER w AS pct_rank
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
)
GROUP BY event_type, decile
"""


@query("events_value_ntile_deciles", oracle=_NTILE_ORACLE)
def events_value_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count decile banding per event type — the ntile(10) +
    percent_rank surface the reference's secondary sort cannot express.
    Ordering carries event_id as the tiebreaker so the tiling is
    total-order deterministic; ntile's floor-split semantics (earlier
    tiles get the extras) match across engines. A literal per-type
    ntile window ranks every row with parallelism bounded by the TYPE
    count, so the rewrite exploits that the tiebroken order is
    tie-FREE: rank == row_number == percent_rank*(n-1)+1, every decile
    boundary is pure rank arithmetic in n, and the 20 boundary VALUES
    are histogram-selected (skew.grouped_rank_select, r8) — per-decile
    count and pct_rank edges are computed, not aggregated; equality
    with the ntile window form is pinned in
    test_ntile_deciles_rank_arithmetic_equals_window."""
    from hadoop_common_spark.operators.skew import grouped_rank_select

    ev = spark.table("events").select("event_type", "value", "event_id")
    K = 10

    def start_rank(d):
        # tile d covers ranks [start_d, end_d]; first (n mod K) tiles
        # get one extra row (the SQL-standard floor split)
        def fn(n, _d=d):
            base = F.floor(n / K).cast("bigint")
            extra = F.pmod(n, F.lit(K))
            return (_d - 1) * base + F.least(F.lit(_d - 1), extra) + 1

        return fn

    def end_rank(d):
        def fn(n, _d=d):
            base = F.floor(n / K).cast("bigint")
            extra = F.pmod(n, F.lit(K))
            return _d * base + F.least(F.lit(_d), extra)

        return fn

    ranks = {f"_s{d}": start_rank(d) for d in range(1, K + 1)}
    ranks.update({f"_e{d}": end_rank(d) for d in range(1, K + 1)})
    sel = grouped_rank_select(
        ev, ["event_type"], "value", ["event_id"], ranks, n_col="_n"
    )

    n = F.col("_n")
    nm1 = (n - 1).cast("double")
    pct = lambda rk: F.when(n == 1, F.lit(0.0)).otherwise(
        (rk - 1).cast("double") / nm1
    )
    tiles = F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("decile"),
                (end_rank(d)(n) - start_rank(d)(n) + 1)
                .cast("bigint")
                .alias("n_events"),
                F.col(f"_s{d}").alias("min_value"),
                F.col(f"_e{d}").alias("max_value"),
                pct(start_rank(d)(n)).alias("min_pct_rank"),
                pct(end_rank(d)(n)).alias("max_pct_rank"),
            )
            for d in range(1, K + 1)
        ]
    )
    return (
        sel.select("event_type", F.explode(tiles).alias("_t"))
        .select("event_type", "_t.*")
        .filter(F.col("n_events") > 0)
    )


_SAMPLED_PCT_ORACLE = """
WITH s AS (
  SELECT event_type, value, event_id
  FROM events
  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 16 = 0
    AND value IS NOT NULL AND event_type IS NOT NULL
),
rk AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM s
)
SELECT event_type,
       CAST(MAX(cnt) AS BIGINT) AS n_sampled,
       MIN(CASE WHEN rn >= ceil(0.5 * cnt) THEN value END) AS p50,
       MIN(CASE WHEN rn >= ceil(0.9 * cnt) THEN value END) AS p90,
       MIN(CASE WHEN rn >= ceil(0.99 * cnt) THEN value END) AS p99
FROM rk
GROUP BY event_type
"""


@query("events_value_percentiles_sampled", oracle=_SAMPLED_PCT_ORACLE)
def events_value_percentiles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from a DETERMINISTIC 1/16 sample — the 100 TB path
    next to events_value_percentiles' exact form (exact quantiles sort
    every row; the sampled estimator sorts n/16 with error O(1/sqrt(n/16))
    per stratum). md5-hash sampling, not rand(): the sample — hence the
    estimate — is identical across engines, runs, and partitionings. The
    order statistic is the 'lower' method (value at rank ceil(q*n)),
    pure ordering with no float interpolation; ceil(0.9*n) is the same
    IEEE double in both engines. NULL values are filtered BEFORE
    ranking on both sides (and n_sampled counts non-null sampled
    values), so the rank pick targets a non-null value by construction
    — without the filter, an exact-rank pick landing in a NULL prefix
    and the oracle's MIN-over-suffix (which skips NULLs) would
    diverge. The rank pick is histogram selection
    (skew.grouped_quantile_select, r8) — even at 1/16, a per-TYPE
    ranking window's parallelism is the type count, and 1/16 of 100 TB
    is still 6 TB per reducer."""
    from hadoop_common_spark.operators.skew import grouped_quantile_select

    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # NULL event_type is excluded on both engines too: the selector's
    # group-key joins are null-unsafe (documented contract), so a NULL
    # group would silently vanish on the Spark side only
    s = (
        spark.table("events")
        .filter(
            (h % 16 == 0)
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("event_type", "value", "event_id")
    )
    sel = grouped_quantile_select(
        s,
        ["event_type"],
        "value",
        ["event_id"],
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        n_col="n_sampled",
    )
    return sel.select("event_type", "n_sampled", "p50", "p90", "p99")


_TRANSITION_ORACLE = """
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS prev_type
  FROM events
)
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@query("events_transition_matrix", oracle=_TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (the session-flow / funnel-discovery primitive): lag()
    within (user, time) order pairs each event with its predecessor, one
    shuffle on user_id, then a transition rollup. event_id tiebreak
    makes simultaneous events order-deterministic; each user's first
    event has no predecessor and drops out (same in the oracle)."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = spark.table("events").select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


_ENRICH_ORACLE = f"""
SELECT e.event_type, c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       {dsum_sql('e.value')} AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.event_type, segment
"""


@query("events_enrich_segment", oracle=_ENRICH_ORACLE)
def events_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.jobs.enrich_stream_static (stream-static
    broadcast enrichment, the DistributedCache map-side join of the join
    matrix) — runs the SAME operator function on the batch frames, then
    rolls up per (event_type, segment). Unmatched users keep their
    events with a NULL segment (left join semantics — the streaming form
    must never drop facts on a dimension miss). Dim side is explicitly
    broadcast; the rollup is one map-side-combined shuffle."""
    from hadoop_common_spark.streaming.jobs import enrich_stream_static

    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = enrich_stream_static(spark.table("events"), dim, "user_id")
    return enriched.groupBy("event_type", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        dsum("value").alias("sum_value"),
    )


# Binned range self-join (r6): the interval-join class Spark plans as a
# nested loop unless you bin it — see operators/joins.range_self_join_binned.
_CLOSE_PAIRS_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       CAST(a.sec AS DOUBLE) AS value_a, CAST(b.sec AS DOUBLE) AS value_b
FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
WHERE ABS(a.sec - b.sec) <= 300
"""


@query("events_close_pairs", oracle=_CLOSE_PAIRS_ORACLE)
def events_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-user event pairs within 5 minutes of each other — the
    range self-join done as a BINNED equi-join (floor(sec/300) buckets,
    3-bin probe explode, exact |Δ| filter) instead of the
    BroadcastNestedLoopJoin a bare theta predicate would plan. The
    burst-detection primitive (rapid-fire actions, fraud windows,
    co-occurring telemetry) at any scale: fan-out is 3× one side plus
    bin occupancy, never N² — the same binning idea the stream-stream
    interval join applies in time. Plan-pinned: no nested loop."""
    from hadoop_common_spark.operators.joins import range_self_join_binned

    e = spark.table("events").select(
        # CAST(ts AS LONG) floors to seconds exactly like the oracle's
        # floor(epoch(ts)) — the module-wide EPOCH convention
        "event_id", "user_id", F.col("ts").cast("long").alias("sec")
    )
    return range_self_join_binned(
        e, "event_id", "sec", width=300.0, block_cols=["user_id"]
    )


# Per-user EWMA (alpha = 0.25) of event values in time order — the
# time-decayed activity feature of fraud/engagement models (recent
# behavior outweighs history at a fixed decay). DETERMINISM: a left
# fold over the per-user (ts, event_id)-ordered value array with the
# SAME association order on both engines (Spark F.aggregate seeded by
# the first element == DuckDB list_reduce); 0.25/0.75 are exact binary
# doubles and *, + are IEEE-correctly-rounded, so the fold is
# bit-identical — ordered-reduce determinism comes from fixing the
# order, not from avoiding floats.
_EWMA_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                   (acc, x) -> acc * 0.75 + x * 0.25) AS ewma_value
FROM events
GROUP BY user_id
"""


@query("events_user_ewma", oracle=_EWMA_ORACLE)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of `value` per user in (ts, event_id) order. Scale: ONE
    hash-partitioned groupBy on user_id; the fold is a map-side array
    expression over each user's collected history. Per-user state is
    that history array — bounded by per-user event volume, not corpus
    size (the unbounded-history streaming twin is the stateful
    running-total job, streaming/stateful.py). No window, no second
    shuffle."""
    vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
        ),
        lambda s: s["value"].cast("double"),
    )
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * 0.75 + x * 0.25,
    )
    return (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            ewma.alias("ewma_value"),
        )
    )


# Skew-proof EWMA (the scale path of events_user_ewma): the segmented
# parallel-scan form, driver-checkable because the ORACLE renders the
# SAME reassociated fold. Each value x contributes the linear map
# y -> 0.75*y + 0.25*x, i.e. the pair (a, b) = (0.75, x*0.25); maps
# compose as (a2, b2)∘(a1, b1) = (a2*a1, a2*b1 + b2). Folding element
# maps left-to-right from the identity reproduces the operator's
# per-segment recurrence TERM FOR TERM (a' = 0.75*acc.a and
# b' = 0.75*acc.b + x*0.25 — IEEE * is commutative and correctly
# rounded, so mp.a*acc.a ≡ acc.a*0.75 bitwise), and the per-key
# combine over segment maps is the same composition with init (1, 0):
# its B-track IS the operator's zero-seeded y fold and its A-track the
# atot product. Final = B + x1*A (the y1 = x1 seed propagated
# linearly). Order is event-arrival (event_id) — UNIQUE, so the fold
# order is total by construction at any SF (ts carries second-level
# ties at sf>=0.1 which would make min_by/arg_min picks and the fold
# engine-unspecified).
#
# ONE segment-count constant for both engines (ADVICE r9): the fold
# grouping — and therefore the reassociation the hash-exactness rests
# on — is a function of the segment count, so the oracle SQL and the
# segmented_ewma call MUST interpolate the same value.
# (token substitution, not an f-string: the SQL's {'a': ...} struct
# literals would read as format fields)
_EWMA_N_SEG = 64
_EWMA_SEG_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v FROM events
),
bounds AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM e),
seg AS (
  SELECT user_id,
         (event_id - b.lo) // GREATEST((b.hi - b.lo + 1) // __NSEG__, 1) AS seg,
         event_id, v
  FROM e, bounds b
),
segmap AS (
  SELECT user_id, seg,
         COUNT(*) AS m,
         list_reduce(
           list_prepend({'a': CAST(1.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
             list({'a': CAST(0.75 AS DOUBLE), 'b': v * 0.25} ORDER BY event_id)),
           (acc, mp) -> {'a': mp.a * acc.a, 'b': mp.a * acc.b + mp.b}
         ) AS ab,
         arg_min(v, event_id) AS first_v,
         MIN(event_id) AS first_o
  FROM seg GROUP BY user_id, seg
),
perkey AS (
  SELECT user_id,
         SUM(m) AS n_events,
         list_reduce(
           list_prepend({'a': CAST(1.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
             list(ab ORDER BY seg)),
           (acc, mp) -> {'a': mp.a * acc.a, 'b': mp.a * acc.b + mp.b}
         ) AS tot,
         arg_min(first_v, first_o) AS x1
  FROM segmap GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       tot.b + x1 * tot.a AS ewma_value
FROM perkey
""".replace("__NSEG__", str(_EWMA_N_SEG))


@query("events_user_ewma_segmented", oracle=_EWMA_SEG_ORACLE)
def events_user_ewma_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of `value` per user in event-arrival (event_id) order via
    the skew-proof parallel scan (skew.segmented_ewma) — the 100 TB
    form of events_user_ewma, now with a hash-exact driver oracle
    (see _EWMA_SEG_ORACLE's linear-map rendering). The sequential twin
    collects each key's ENTIRE history into one aggregation value — a
    90%-hot key folds 9M values in one task (fixture: 115.7s plain vs
    3.7s segmented); here the hot key spreads over 64 order-aligned
    segments, one (key, seg) shuffle plus a per-key combine over a
    <=64-row aggregate. event_id order makes the fold total by
    construction (unique), so the result is bit-deterministic across
    engines, runs, and partitionings."""
    from hadoop_common_spark.operators.skew import segmented_ewma

    return segmented_ewma(
        spark.table("events").select("user_id", "event_id", "value"),
        ["user_id"],
        order_col="event_id",
        value_col="value",
        alpha=0.25,
        out_col="ewma_value",
        n_segments=_EWMA_N_SEG,
    )


# CDC merge — the lakehouse MERGE INTO / upsert primitive, driven by a
# real op log: events become keyed mutations (signup=I, error=D, other
# types=U carrying `value`), a snapshot is the log folded up to a split
# point, and the query MERGES the post-split batch into it. The result
# must equal folding the whole log at once (the fold-equivalence
# contract pinned in tests) — that equality is what makes incremental
# snapshot maintenance safe against replays and retries.
_CDC_SPLIT = "2024-01-15 00:00:00"
_CDC_OPS = """
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS seq_ts,
         event_id,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error' THEN 'D'
                         ELSE 'U' END AS op,
         value
  FROM events
"""


def _cdc_ops(spark: SparkSession) -> DataFrame:
    """Spark side of _CDC_OPS: the events as a keyed op log."""
    return spark.table("events").select(
        "user_id",
        F.expr(EPOCH).alias("seq_ts"),
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )


_CDC_ORACLE = f"""
WITH log AS ({_CDC_OPS}),
snap AS (
  SELECT user_id, seq_ts, event_id, op, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY seq_ts DESC, event_id DESC) AS rk
    FROM log WHERE seq_ts < CAST(floor(epoch(TIMESTAMP '{_CDC_SPLIT}')) AS BIGINT)
  ) WHERE rk = 1
),
batch AS (
  SELECT user_id, seq_ts, event_id, op, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY seq_ts DESC, event_id DESC) AS rk
    FROM log WHERE seq_ts >= CAST(floor(epoch(TIMESTAMP '{_CDC_SPLIT}')) AS BIGINT)
  ) WHERE rk = 1
)
SELECT user_id,
       COALESCE(b.seq_ts, s.seq_ts) AS version_epoch,
       COALESCE(b.value, s.value) AS state_value
FROM (SELECT * FROM snap WHERE op <> 'D') s
FULL OUTER JOIN batch b USING (user_id)
WHERE b.op IS NULL OR b.op <> 'D'
"""


@query("events_cdc_merge", oracle=_CDC_ORACLE)
def events_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the post-2024-01-15 CDC batch (latest op per user_id,
    ordered by (epoch, event_id)) onto the snapshot folded from the
    pre-split log: deletes drop the key, inserts/updates upsert
    `value`, untouched users pass through. Spark-first: the per-key
    latest op is ONE struct-max aggregate (partial-aggregated — no
    window sort, the relational secondary-sort-keep-last), and apply
    is one full-outer join; the batch side is small vs the snapshot,
    so at scale it broadcasts and the snapshot rewrites exactly once
    per merge. See operators/cdc.py for the contract."""
    from hadoop_common_spark.operators.cdc import cdc_merge, materialize_log

    ops = _cdc_ops(spark)
    # literal UTC epoch, NOT unix_timestamp(lit) — that parses in the
    # SESSION timezone, so a non-UTC driver session would shift the
    # snapshot/batch split by the UTC offset relative to the oracle's
    # epoch(TIMESTAMP '...') (timezone-proof epoch math convention)
    split = F.lit(1705276800).cast("bigint")  # 2024-01-15 00:00:00 UTC
    snapshot = materialize_log(
        ops.filter(F.col("seq_ts") < split),
        "user_id",
        ("seq_ts", "event_id"),
        payload_cols=("value",),
    )
    merged = cdc_merge(
        snapshot,
        ops.filter(F.col("seq_ts") >= split),
        "user_id",
        ("seq_ts", "event_id"),
        payload_cols=("value",),
    )
    return merged.select(
        "user_id",
        F.col("seq_ts").alias("version_epoch"),
        F.col("value").alias("state_value"),
    )


# CDC -> SCD2 history (r6): the third CDC-family member (merge = latest
# state, snapshot = streaming maintenance, THIS = the full versioned
# history). Every insert/update in the op log opens a [valid_from,
# valid_to) interval; the next op on the same key closes it; a delete
# closes without opening. The dimension-table time-travel shape
# (orders_scd2_intervals builds SCD2 from an append-only fact stream;
# this builds it from a MUTATION log with tombstones).
_SCD2_CDC_ORACLE = f"""
WITH log AS ({_CDC_OPS}),
seq AS (
  SELECT user_id, seq_ts, event_id, op, value,
         LEAD(seq_ts) OVER w AS next_ts,
         ROW_NUMBER() OVER w AS rn
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY seq_ts, event_id)
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY seq_ts, event_id) AS INT) AS version,
       seq_ts AS valid_from,
       next_ts AS valid_to,
       value,
       CAST(next_ts IS NULL AS INT) AS is_current
FROM seq WHERE op <> 'D'
"""


@query("events_cdc_scd2_history", oracle=_SCD2_CDC_ORACLE)
def events_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 version history folded from the CDC op log: one
    [valid_from, valid_to) row per surviving insert/update, closed by
    the next op on the key (deletes close without emitting). Scale: ONE
    hash shuffle on user_id with a per-key (seq_ts, event_id) sort —
    per-key history is user-bounded, never corpus-bounded, and the
    total order makes LEAD/version deterministic on both engines. The
    struct-max keep-last idiom can't produce a HISTORY (every version
    survives), so the window sort is the honest cost here; `value`
    passes through untouched (no float accumulation)."""
    w = Window.partitionBy("user_id").orderBy("seq_ts", "event_id")
    hist = _cdc_ops(spark).withColumn("next_ts", F.lead("seq_ts").over(w)).filter(
        F.col("op") != "D"
    )
    return hist.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("version"),
        F.col("seq_ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
        "value",
        F.col("next_ts").isNull().cast("int").alias("is_current"),
    )


# OHLC bars (r6) — the financial/telemetry candlestick rollup: per
# (type, hour) the first, highest, lowest, and last value. Open/close
# are the keep-first/keep-last idiom as ONE struct-min/struct-max
# partial aggregate over the (sec, event_id, value) tuple (the
# relational secondary sort — no window, no per-bucket sort); the
# oracle's ROW_NUMBER rendering is the semantic spec, not the plan.
_OHLC_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         {EPOCH_SQL} // 3600 AS hour_bucket,
         value, {EPOCH_SQL} AS sec, event_id
  FROM events
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_bucket
                            ORDER BY sec, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_bucket
                            ORDER BY sec DESC, event_id DESC) AS rd
  FROM b
)
SELECT event_type, hour_bucket,
       MAX(CASE WHEN ra = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rd = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM r GROUP BY event_type, hour_bucket
"""


@query("events_value_ohlc_hourly", oracle=_OHLC_ORACLE)
def events_value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars of `value` per event type. Scale: ONE
    partial-aggregated shuffle on (type, hour); open/close ride
    struct-min/struct-max keyed by the tie-free (sec, event_id) order,
    so each map task contributes one candidate tuple per bucket and no
    bucket ever sorts its rows. Values pass through untouched (no float
    accumulation); epoch-integer hour math (timezone-proof)."""
    from hadoop_common_spark.operators.aggregate import (
        ohlc_aggregate,
        ohlc_finalize,
    )

    b = spark.table("events").select(
        "event_type",
        F.expr(f"({EPOCH}) div 3600").alias("hour_bucket"),
        F.expr(EPOCH).alias("sec"),
        "event_id",
        "value",
    )
    state = ohlc_aggregate(
        b, ["event_type", "hour_bucket"], "sec", "event_id", "value"
    )
    return ohlc_finalize(state)


# Rolling 7-day active users (r6) — the DAU/WAU engagement dashboard:
# for each active day, distinct users in the trailing 7-day window.
# A bare windowed COUNT(DISTINCT) can't partial-aggregate; the
# relational form EXPLODES each (day, user) fact to the <=7 future days
# it is visible to (the binning idea from the range joins, applied in
# time) and then runs the ordinary two-level exact count-distinct —
# linear in facts x 7, no per-day re-scan of history.
_WAU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT {EPOCH_SQL} // 86400 AS day, user_id FROM events
),
vis AS (
  SELECT day + d AS vis_day, user_id
  FROM du, LATERAL (SELECT unnest(generate_series(0, 6)) AS d) ds
),
days AS (SELECT DISTINCT day FROM du)
SELECT v.vis_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM vis v JOIN days dy ON dy.day = v.vis_day
GROUP BY v.vis_day
"""


@query("events_wau_rolling_7d", oracle=_WAU_ORACLE)
def events_wau_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per active day. Scale: one
    distinct over (day, user), a 7-way map-side explode, a semi join
    against the (bounded, broadcast) active-day list, then the
    two-level exact count-distinct — every pass partial-aggregates;
    nothing re-reads history per output day, which is what kills the
    naive per-day subquery at corpus scale."""
    du = (
        spark.table("events")
        .select(
            F.expr(f"({EPOCH}) div 86400").alias("day"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("day").distinct()
    vis = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("vis_day"),
        "user_id",
    )
    return (
        vis.join(
            F.broadcast(days.select(F.col("day").alias("vis_day"))), "vis_day"
        )
        .groupBy("vis_day", "user_id")
        .agg(F.lit(1).alias("_one"))
        .groupBy(F.col("vis_day").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )


# Sketched rolling WAU (r6) — the KMV form of events_wau_rolling_7d:
# one 64-hash signature per DAY, each window's estimate computed by
# MERGING the trailing 7 daily signatures (bottom-k of the union is
# computable from the parts). This is sketch algebra over TIME — the
# production shape when per-window distinct counts are too large to
# re-aggregate: daily signatures persist once; any window (7d, 28d,
# quarter) folds them without touching raw events.
_WAUK_K = 64


def _wau_kmv_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'wau:' || CAST(user_id AS VARCHAR)")
    num = repr(float((_WAUK_K - 1) * (1 << 60)))
    est = (
        f"CASE WHEN cnt < {_WAUK_K} THEN CAST(cnt AS DOUBLE) "
        f"ELSE {num} / CAST(hkk AS DOUBLE) END"
    )
    return f"""
WITH du AS (
  SELECT DISTINCT {EPOCH_SQL} // 86400 AS day, user_id FROM events
),
daysig AS (
  SELECT day, user_id, hk FROM (
    SELECT day, user_id, {h} AS hk,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY {h}, user_id) AS r
    FROM du
  ) WHERE r <= {_WAUK_K}
),
vis AS (
  SELECT day + d AS vis_day, user_id, hk
  FROM daysig, LATERAL (SELECT unnest(generate_series(0, 6)) AS d) ds
),
days AS (SELECT DISTINCT day FROM du),
merged AS (
  SELECT vis_day, user_id, hk FROM (
    SELECT v.vis_day, v.user_id, v.hk,
           ROW_NUMBER() OVER (PARTITION BY v.vis_day
                              ORDER BY v.hk, v.user_id) AS r
    FROM (SELECT DISTINCT vis_day, user_id, hk FROM vis) v
    JOIN days dy ON dy.day = v.vis_day
  ) WHERE r <= {_WAUK_K}
)
SELECT vis_day AS day,
       CAST(COUNT(*) AS BIGINT) AS n_signature,
       (SELECT {est} FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                                  MAX(hk) AS hkk
                           FROM merged mm WHERE mm.vis_day = m.vis_day))
         AS wau_estimate
FROM merged m GROUP BY vis_day
"""


@query("events_wau_rolling_kmv", oracle=_wau_kmv_oracle())
def events_wau_rolling_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active-user ESTIMATE per day from merged daily
    KMV signatures ((k-1)*2^60/h_(k), exact below k). Scale: raw events
    are touched exactly once (distinct + per-day two-phase bottom-k);
    the visibility explode, the per-window re-merge, and the estimate
    all run on signature rows (<= 7k per window) — the exact twin
    (events_wau_rolling_7d) explodes EVERY fact x 7, this explodes 64
    rows per day. The signatures themselves are the persistable
    artifact: any other window size folds the same daily sketches."""
    from pyspark.sql import Window as W

    from hadoop_common_spark.operators.sketches import (
        kmv_cardinality,
        kmv_signature,
    )

    du = (
        spark.table("events")
        .select(F.expr(f"({EPOCH}) div 86400").alias("day"), "user_id")
        .distinct()
    )
    daysig = kmv_signature(du, ["day"], "user_id", _WAUK_K, "wau:")
    days = du.select("day").distinct()
    vis = daysig.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("vis_day"),
        "_id",
        "_hk",
    ).dropDuplicates(["vis_day", "_id"])
    w = W.partitionBy("vis_day").orderBy("_hk", "_id")
    merged = (
        vis.join(F.broadcast(days.select(F.col("day").alias("vis_day"))), "vis_day")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _WAUK_K)
        .drop("_r")
    )
    return kmv_cardinality(merged, ["vis_day"], _WAUK_K).select(
        F.col("vis_day").alias("day"),
        "n_signature",
        F.col("kmv_estimate").alias("wau_estimate"),
    )


# First-3-event journeys (r6) — the onboarding/path-analysis shape:
# each user's first three events (by time) as a '>'-joined path, counted
# across users. The per-user "first k" is a sorted-array slice inside
# ONE aggregate — no window, no per-user sort job; per-user state is
# that user's events, and only the first 3 survive the projection.
_JOURNEY_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY {EPOCH_SQL}, event_id) AS rn
  FROM events
),
j AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ordered WHERE rn <= 3 GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM j GROUP BY path
"""


@query("events_first3_journeys", oracle=_JOURNEY_ORACLE)
def events_first3_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count of users per first-three-events path. Scale: one
    hash-partitioned groupBy on user_id whose aggregate sorts each
    user's collected (sec, event_id, type) tuples and keeps 3 (array
    expression, map-side combinable only at the collect level — the
    per-user array is user-bounded); the path rollup is a second
    partial aggregate over |paths| <= |types|^3 groups. The oracle's
    ROW_NUMBER form is the spec, not the plan."""
    tup = F.struct(
        F.expr(EPOCH).alias("s"), F.col("event_id").alias("i"),
        F.col("event_type").alias("t"),
    )
    first3 = F.slice(F.array_sort(F.collect_list(tup)), 1, 3)
    path = F.array_join(
        F.transform(first3, lambda x: x["t"]), ">"
    )
    j = (
        spark.table("events")
        .groupBy("user_id")
        .agg(path.alias("path"))
    )
    return j.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# Conversion latency (r6) — time-to-event analysis: days from a user's
# first signup to their first purchase AT OR AFTER it, as a histogram
# (-1 = signed up, never converted). The funnel family's "how fast", to
# events_funnel's "how many".
_CONV_LATENCY_ORACLE = f"""
WITH s AS (
  SELECT user_id, MIN({EPOCH_SQL}) AS s_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN({EPOCH_SQL}) AS p_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND {EPOCH_SQL} >= s.s_ts
  GROUP BY e.user_id
),
lat AS (
  SELECT s.user_id,
         CASE WHEN p.p_ts IS NULL THEN -1
              ELSE CAST((p.p_ts - s.s_ts) // 86400 AS INT) END AS latency_days
  FROM s LEFT JOIN p ON s.user_id = p.user_id
)
SELECT latency_days, CAST(COUNT(*) AS BIGINT) AS n_users
FROM lat GROUP BY latency_days
"""


@query("events_signup_conversion_latency", oracle=_CONV_LATENCY_ORACLE)
def events_signup_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users per signup→first-purchase latency day bucket (-1 = never
    converted). Scale: two per-user min-aggregates; the only join keys
    on user_id with per-user purchase fan-out (the >= filter rides the
    join, not a theta plan); the histogram is a bounded final
    aggregate. Epoch-integer day math (timezone-proof)."""
    e = F.expr(EPOCH)
    ev = spark.table("events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(e).alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", e.alias("p_ts"))
        .join(s, "user_id")
        .filter(F.col("p_ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    lat = s.join(p, "user_id", "left").select(
        F.when(F.col("p_ts").isNull(), F.lit(-1))
        .otherwise(F.expr("(p_ts - s_ts) div 86400"))
        .cast("int")
        .alias("latency_days")
    )
    return lat.groupBy("latency_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
