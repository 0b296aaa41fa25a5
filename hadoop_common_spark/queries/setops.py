"""Set-operation queries (SURVEY.md §2.7): union, distinct, intersect,
except. The reference only has union (multi-path input) and
distinct-by-reduce; intersect/except are its join idioms, built-in here."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.queries import query


@query(
    "union_distinct_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two sources + distinct (multi-path FileInputFormat input
    + identity-reduce dedup)."""
    c = spark.table("customer").select(F.col("c_nationkey").alias("nationkey"))
    s = spark.table("supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect (reference idiom: inner join on key + dedup)."""
    c = spark.table("customer").select(F.col("c_nationkey").alias("nationkey"))
    s = spark.table("supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "except_nations",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Except (reference idiom: DataJoin with absent tag → anti join)."""
    n = spark.table("nation").select(F.col("n_nationkey").alias("nationkey"))
    s = (
        spark.table("supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return n.exceptAll(s.distinct())


@query(
    "distinct_user_event_pairs",
    oracle="""
    SELECT COUNT(*) AS n_pairs FROM (
      SELECT DISTINCT user_id, event_type FROM events
    )
    """,
)
def distinct_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates (identity emit-once reduce, §2.7)."""
    return (
        spark.table("events")
        .select("user_id", "event_type")
        .dropDuplicates()
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# Audience overlap (r6) — set similarity at the GROUP level: exact
# Jaccard between the activity FOOTPRINTS of every event-type pair,
# where a footprint is the set of (user, hour-of-day) cells the type
# was seen in. The product-analytics / audience-segmentation shape
# ("how much do clickers and purchasers overlap, and when"), and the
# set-op family's aggregate member: intersect/except compare two fixed
# relations, this compares ALL pairs of grouped sets in one plan.
# (Plain user-id sets are degenerate on this dataset — every user hits
# every type — so the cell grain is what makes the metric informative;
# the shape is identical for any element definition.)
# Each event type's distinct (user, hour-of-day) cells `tu`: the footprint
# both audience-overlap oracles compare (Spark side: _overlap_cells).
_OVERLAP_CELLS_CTE = """WITH tu AS (
  SELECT DISTINCT event_type,
         user_id * 24
           + (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS cell
  FROM events
),
"""

_OVERLAP_ORACLE = f"""
{_OVERLAP_CELLS_CTE}sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM tu a JOIN tu b ON a.cell = b.cell AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_common, sa.n AS n_a, sb.n AS n_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def _overlap_cells(spark: SparkSession):
    e = F.expr("CAST(ts AS LONG)")
    return (
        spark.table("events")
        .select(
            "event_type",
            (F.col("user_id") * 24 + ((e % 86400) / 3600).cast("bigint")).alias(
                "cell"
            ),
        )
        .distinct()
    )


@query("events_audience_overlap", oracle=_OVERLAP_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact Jaccard of per-event-type (user, hour) activity
    cells. Scale: ONE distinct over (type, cell) — the only pass that
    touches raw rows; the intersection self-join keys on the cell with
    fan-out bounded by each cell's type count squared (<= |types|²,
    tiny and data-independent); sizes and intersections are
    partial-aggregated to at most |types|² rows before the final joins.
    The jaccard double is a single division of exact BIGINTs —
    bit-identical on both engines. The KMV-sketched twin
    (events_audience_overlap_kmv) estimates the same matrix from 64
    hashes per type; at millions of groups THAT is the plan you run.
    Hour math is pure epoch integers (timezone-proof)."""
    tu = _overlap_cells(spark)
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "cell")
    b = tu.select(F.col("event_type").alias("type_b"), "cell")
    inter = (
        a.join(b, "cell")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a", "type_b", "n_common", "n_a", "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# KMV-sketched audience overlap (r6) — the approximate twin of
# events_audience_overlap: per type keep only the 64 smallest-hash
# cells (a bottom-k / KMV signature), estimate Jaccard as the match
# rate within the bottom-k OF THE UNION. Losslessness of the algebra:
# bottom-k(A ∪ B) ⊆ bottom-k(A) ∪ bottom-k(B), and any union-bottom-k
# element of A necessarily appears in bottom-k(A) — so the estimate is
# computable from the signatures alone. THAT is the 100 TB story: the
# exact query ships every cell once per pair; this ships 64 hashes per
# group, merges by min, and the pairwise matrix runs on sample-sized
# data (the same reason MinHash replaced exact Jaccard in the dedup
# tier — this is its bottom-k cousin at the set-algebra level).
_KMV_K = 64


def _overlap_kmv_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    h = hash60_sql("'ao:' || CAST(cell AS VARCHAR)")
    return f"""
{_OVERLAP_CELLS_CTE}hashed AS (SELECT event_type, cell, {h} AS hk FROM tu),
samp AS (
  SELECT event_type, cell, hk,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hk, cell) AS hr
  FROM hashed
),
sk AS (SELECT event_type, cell, hk FROM samp WHERE hr <= {_KMV_K}),
g AS (SELECT cell, hk, list(DISTINCT event_type) AS ts FROM sk GROUP BY cell, hk),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM sk) a
  JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
),
cand AS (
  SELECT type_a, type_b, cell, hk,
         CAST(list_contains(ts, type_a) AS INT) AS in_a,
         CAST(list_contains(ts, type_b) AS INT) AS in_b
  FROM g CROSS JOIN pairs
  WHERE list_contains(ts, type_a) OR list_contains(ts, type_b)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                               ORDER BY hk, cell) AS r
  FROM cand
)
SELECT type_a, type_b,
       CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
       CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(SUM(in_a * in_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS jaccard_est
FROM ranked WHERE r <= {_KMV_K}
GROUP BY type_a, type_b
"""


@query("events_audience_overlap_kmv", oracle=_overlap_kmv_oracle())
def events_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated pairwise Jaccard of the per-type activity footprints
    from 64-hash KMV signatures. Scale: the corpus-touching work is ONE
    distinct + the skew-proof two-phase bottom-k (per-partition heaps);
    everything pairwise runs on <= |types|*64 signature rows — the
    plan a million-group overlap matrix actually runs. Deterministic
    md5 hashing makes the sketch oracle-reproducible (the HLL
    precedent); the exact twin measures this estimator's error."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.dedup import hash60
    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase

    tu = _overlap_cells(spark)
    hk = hash60(F.concat(F.lit("ao:"), F.col("cell").cast("string")))
    hashed = tu.select("event_type", "cell", hk.alias("hk"))
    sk = top_k_per_group_two_phase(
        hashed, ["event_type"], _KMV_K, [F.col("hk"), F.col("cell")]
    )
    g = sk.groupBy("cell", "hk").agg(F.collect_set("event_type").alias("ts"))
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(F.broadcast(types.select(F.col("event_type").alias("type_b"))))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    in_a = F.array_contains("ts", F.col("type_a"))
    in_b = F.array_contains("ts", F.col("type_b"))
    cand = g.crossJoin(F.broadcast(pairs)).filter(in_a | in_b)
    w = Window.partitionBy("type_a", "type_b").orderBy("hk", "cell")
    ranked = cand.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _KMV_K
    )
    both = (in_a & in_b).cast("int")
    return ranked.groupBy("type_a", "type_b").agg(
        F.sum(both).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        (F.sum(both).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "jaccard_est"
        ),
    )
