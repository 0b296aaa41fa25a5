"""Join queries (SURVEY.md §2.4): inner/full-outer/override N-way joins,
semi/anti, theta, and the as-of join extension."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum_sql
from hadoop_common_spark.operators.joins import (
    anti_join,
    asof_join,
    multiway_join,
    override_join,
    semi_join,
    theta_join,
)
from hadoop_common_spark.queries import query


@query(
    "join_inner_pairs",
    oracle="""
    SELECT c_nationkey AS nationkey, COUNT(*) AS pair_count
    FROM customer JOIN supplier ON c_nationkey = s_nationkey
    GROUP BY c_nationkey
    """,
)
def join_inner_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InnerJoinRecordReader (:54): per-key cross product of matching
    sources (the TupleWritable iteration), counted per key."""
    c = spark.table("customer").select(F.col("c_nationkey").alias("nationkey"))
    s = spark.table("supplier").select(F.col("s_nationkey").alias("nationkey"))
    return multiway_join([c, s], "nationkey", "inner").groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("pair_count")
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, cust_cnt, supp_cnt
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS cust_cnt FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS supp_cnt FROM supplier GROUP BY 1) s
    ON c.nationkey = s.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OuterJoinRecordReader: full outer with empty tuple slots → NULLs
    (TupleWritable.has(), TupleWritable.java:73)."""
    c = (
        spark.table("customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )
    s = (
        spark.table("supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("supp_cnt"))
    )
    return multiway_join([c, s], "nationkey", "full")


@query(
    "join_override",
    oracle="""
    SELECT COALESCE(s1.nationkey, s2.nationkey) AS nationkey,
           CASE WHEN s2.nationkey IS NOT NULL THEN s2.val ELSE s1.val END AS val
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS val FROM customer GROUP BY 1) s1
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS val FROM supplier
          WHERE s_acctbal > 5000 GROUP BY 1) s2
    ON s1.nationkey = s2.nationkey
    """,
)
def join_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """override(S1,S2): rightmost source wins per key
    (OverrideRecordReader.java:35-36,53,77); S2 is deliberately sparse so
    both arms are exercised."""
    s1 = (
        spark.table("customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("val"))
    )
    s2 = (
        spark.table("supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("val"))
    )
    return override_join([s1, s2], "nationkey", "val")


@query(
    "join_semi_anti",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(has_order) AS BIGINT) AS with_orders,
           CAST(SUM(1 - has_order) AS BIGINT) AS without_orders
    FROM (
      SELECT c_mktsegment,
             CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                  THEN 1 ELSE 0 END AS has_order
      FROM customer
    )
    GROUP BY c_mktsegment
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi/left_anti (the Bloom-filter membership idiom,
    HC/util/bloom/BloomFilter.java:83): customers with vs without orders
    per segment, from one pair of joins."""
    cust = spark.table("customer")
    orders = spark.table("orders")
    on = F.col("o_custkey") == F.col("c_custkey")
    with_orders = (
        semi_join(cust, orders, on)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    without = (
        anti_join(cust, orders, on)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return (
        with_orders.join(without, "c_mktsegment", "full")
        .select(
            "c_mktsegment",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
        )
    )


@query(
    "theta_join_acctbal",
    oracle="""
    SELECT s_nationkey AS nationkey, COUNT(*) AS dominated_pairs
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    GROUP BY s_nationkey
    """,
)
def theta_join_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataJoin-style theta join (DataJoinReducerBase.joinAndCollect
    :174-214): equi-prefix on nation + inequality predicate; Catalyst
    keeps the equi-part as the shuffle key and applies the rest as a
    post-join filter — same regroup-then-nested-loop shape, automatic."""
    s = spark.table("supplier")
    c = spark.table("customer")
    pred = (F.col("s_nationkey") == F.col("c_nationkey")) & (
        F.col("s_acctbal") > F.col("c_acctbal")
    )
    return (
        theta_join(s, c, pred)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("dominated_pairs"))
    )


@query(
    "asof_join_last_purchase",
    oracle="""
    SELECT e.event_id, p.value AS purchase_value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine extension — the reference has no temporal joins,
    SURVEY §2.4): for each click, the latest purchase value by the same
    user at or before the click. Union + conditional-window LOCF — one
    shuffle, no range cross product. The right side is deduped per
    (user, ts) (keep max event_id) so ties are deterministic."""
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    w = F.row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    )
    purchases = purchases.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn", "event_id")
    joined = asof_join(
        clicks.select("event_id", "user_id", "ts"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["value"],
    )
    return joined.select("event_id", F.col("value_asof").alias("purchase_value_asof"))


_E_C = "CAST(floor(epoch(c.ts)) AS BIGINT)"
_E_P = "CAST(floor(epoch(p.ts)) AS BIGINT)"
_NEXT_PURCHASE_SUB = f"""FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
       AND {_E_P} >= {_E_C} AND {_E_P} <= {_E_C} + 3600
     ORDER BY {_E_P}, p.event_id LIMIT 1"""


@query(
    "asof_join_next_purchase",
    oracle=f"""
    SELECT c.event_id,
           (SELECT p.event_id {_NEXT_PURCHASE_SUB}) AS next_purchase_id,
           (SELECT p.value {_NEXT_PURCHASE_SUB}) AS next_purchase_value
    FROM events c WHERE c.event_type = 'click'
    """,
)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (the conversion-attribution
    shape): each click matches the EARLIEST purchase by the same user at
    or after the click, nulled if more than 1 hour later — pandas
    merge_asof(direction='forward', tolerance=1h) semantics, expressed
    as the union + first(ignorenulls) window (one shuffle on user_id, no
    range cross-product). Equal-ts purchases tie-break by event_id, so
    the match is deterministic under any partitioning."""
    from hadoop_common_spark.operators.joins import asof_join

    ev = spark.table("events")
    e = F.expr("CAST(ts AS LONG)")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", e.alias("e")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        e.alias("e"),
        F.col("event_id").alias("pid"),
        "value",
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="e",
        right_ts="e",
        right_value_cols=["pid", "value"],
        direction="forward",
        tolerance=3600,
        right_tie_col="pid",
    )
    return out.select(
        "event_id",
        F.col("pid_asof").alias("next_purchase_id"),
        F.col("value_asof").alias("next_purchase_value"),
    )


# Fuzzy-key record linkage (r6): link customers to suppliers whose
# 9-digit account-number strings differ by at most one character — the
# dirty-data entity-resolution shape (the same entity registered twice
# with a typo'd id). The ORACLE is the naive quadratic levenshtein
# theta join; the Spark side uses SymSpell deletion-neighborhood
# blocking (operators/dedup.deletion1_keys — LOSSLESS for lev<=1), so
# candidate generation is O(len+1) keys per row and the exact
# levenshtein verify runs only on key-collision candidates, never on
# |customer| x |supplier|.
_LINK_ORACLE = """
SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey,
       CAST(levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) AS INT)
         AS edit_dist
FROM customer c JOIN supplier s
ON levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) <= 1
"""


@query("entity_link_fuzzy_ids", oracle=_LINK_ORACLE)
def entity_link_fuzzy_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by fuzzy id: all (customer, supplier) pairs whose
    zero-padded numeric id strings are within Levenshtein distance 1.
    Scale: each side emits len+1 deletion-neighborhood keys (bounded,
    map-side), the candidate join is a hash equi-join on the key, pairs
    dedup on (custkey, suppkey), and F.levenshtein verifies exactly —
    output is true match cardinality. A naive fuzzy join is a
    BroadcastNestedLoopJoin over every pair; this is the SymSpell
    blocking that makes linkage linear in input + matches. Candidate
    dedup BEFORE the verify keeps the (cheap but per-pair) levenshtein
    off duplicate key collisions."""
    from hadoop_common_spark.operators.dedup import deletion1_keys_sparksql as d1

    c = spark.table("customer").selectExpr(
        "c_custkey AS custkey",
        "substring(c_name, 10, 9) AS _ca",
        f"explode({d1('substring(c_name, 10, 9)')}) AS _k",
    )
    s = spark.table("supplier").selectExpr(
        "s_suppkey AS suppkey",
        "substring(s_name, 10, 9) AS _cb",
        f"explode({d1('substring(s_name, 10, 9)')}) AS _k",
    )
    return (
        c.join(s, "_k")
        .selectExpr("custkey", "suppkey", "_ca", "_cb")
        .distinct()
        .withColumn("edit_dist", F.expr("levenshtein(_ca, _cb)"))
        .filter("edit_dist <= 1")
        .selectExpr("custkey", "suppkey", "CAST(edit_dist AS INT) AS edit_dist")
    )


# Point-in-interval lookup join (r6): customers probing supplier balance
# bands within their nation — the two-table generalization of
# events_close_pairs' binned range join (IP-range lookup, price-band
# match, interval overlap). Spark plans the bare BETWEEN as a nested
# loop; operators/joins.interval_lookup_join_binned turns it into one
# hash equi-join on (nation, bin).
def _band_oracle(half_width: float) -> str:
    return f"""
SELECT s.s_suppkey AS suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       {dsum_sql('c.c_acctbal')} AS sum_matched_bal
FROM supplier s JOIN customer c
  ON c.c_nationkey = s.s_nationkey
 AND c.c_acctbal >= s.s_acctbal - {half_width}
 AND c.c_acctbal <= s.s_acctbal + {half_width}
GROUP BY s.s_suppkey
"""


def _band_match(spark: SparkSession, half_width: float, bin_width: float) -> DataFrame:
    """Spark side of _band_oracle: customer balances (points) binned
    against supplier balance +-half_width (intervals) within a nation."""
    from hadoop_common_spark.functions.exact import dsum
    from hadoop_common_spark.operators.joins import interval_lookup_join_binned

    pts = spark.table("customer").select(
        F.col("c_nationkey").alias("nationkey"), "c_acctbal"
    )
    iv = spark.table("supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_suppkey").alias("suppkey"),
        (F.col("s_acctbal") - half_width).alias("_lo"),
        (F.col("s_acctbal") + half_width).alias("_hi"),
    )
    return (
        interval_lookup_join_binned(
            pts, iv, "c_acctbal", "_lo", "_hi", bin_width=bin_width,
            block_cols=["nationkey"],
        )
        .groupBy("suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            dsum("c_acctbal").alias("sum_matched_bal"),
        )
    )


@query("supplier_balance_band_match", oracle=_band_oracle(100.0))
def supplier_balance_band_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: same-nation customers whose account balance falls
    inside the supplier's ±100 band — count and exact-decimal balance
    sum. The interval side explodes to the bins its span covers
    (fan-out ~2 at bin_width=200), the point side keeps one bin, and
    the exact BETWEEN filter prunes bin-edge candidates — one shuffle
    per side, output bounded by true matches. dsum keeps the double
    aggregate order-independent (bit-stable at any partitioning)."""
    return _band_match(spark, 100.0, bin_width=200.0)


@query("supplier_balance_wide_band_match", oracle=_band_oracle(1000.0))
def supplier_balance_wide_band_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval lookup join's OTHER width regime (VERDICT r10 #5):
    ±1000 bands probed at bin_width=100 — every interval explodes to
    ~21 bins (vs the ~2 of supplier_balance_band_match, where
    bin_width == span). This is the fan-out-heavy configuration a
    caller picks when points are dense and bins must stay small to keep
    per-bin occupancy bounded: interval duplication is the price, point
    rows still keep exactly one bin, and a qualifying pair still matches
    on only the point's own bin, so no post-join dedup exists to hide
    double counting — the driver row proves the fan-out arithmetic
    (sequence over 21 bins, edge pruning at both ends) at a width ratio
    the narrow row never exercises. dsum keeps the double aggregate
    order-independent."""
    return _band_match(spark, 1000.0, bin_width=100.0)


# Bloom false-positive-rate eval (r6) — the measured-error member for
# the membership sketch (the recall/accuracy evals cover LSH, MinHash,
# PQ, kNN, HLL, KMV; Bloom's figure of merit is FPR). The filter is
# deliberately undersized (m=2^14 for ~3k members at sf0.01) so the
# false-positive rate is visible and the oracle must reproduce the BIT
# ARRAY exactly — positions, words, and probes are the same
# Kirsch-Mitzenmacher double-hash arithmetic on both engines.
_BLOOM_M = 1 << 14
_BLOOM_K = 5


def _bloom_fpr_oracle() -> str:
    from hadoop_common_spark.operators.dedup import hash60_sql

    base = hash60_sql("CAST(o_orderkey AS VARCHAR)")
    h1 = f"({base} % 1073741824)"
    h2 = f"({base} // 1073741824)"
    pos = [
        f"(({h1} + {i} * {h2} + {i * i}) % {_BLOOM_M})" for i in range(_BLOOM_K)
    ]
    # engine divergence: DuckDB's << is range-checked (1<<63 raises)
    # while Spark's shiftleft wraps into the sign bit — bit 63 needs the
    # explicit LONG_MIN literal on the DuckDB side
    return f"""
WITH members AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
mbits AS (
  SELECT unnest([{', '.join(pos)}]) AS b FROM members
),
words AS (
  SELECT b // 64 AS widx,
         bit_or(CASE WHEN b % 64 = 63 THEN -9223372036854775808
                     ELSE 1::BIGINT << CAST(b % 64 AS INT) END) AS word
  FROM mbits GROUP BY 1
),
probes AS (
  SELECT o_orderkey,
         o_orderpriority = '1-URGENT' AS is_member,
         unnest([{', '.join(pos)}]) AS b
  FROM orders
),
checked AS (
  SELECT o_orderkey, is_member,
         bool_and((COALESCE(w.word, 0)
                   & (CASE WHEN p.b % 64 = 63 THEN -9223372036854775808
                           ELSE 1::BIGINT << CAST(p.b % 64 AS INT) END))
                  <> 0) AS may
  FROM probes p LEFT JOIN words w ON w.widx = p.b // 64
  GROUP BY o_orderkey, is_member
)
SELECT CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN may AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(SUM(CASE WHEN NOT may AND is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg,
       CAST(SUM(CASE WHEN may AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
         AS fpr
FROM checked
"""


@query("bloom_fpr_eval", oracle=_bloom_fpr_oracle())
def bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured false-positive rate of the relational Bloom filter
    (operators/bloom.py) over urgent-order keys, probed with every
    order key: n_false_neg MUST be 0 (the no-false-negative guarantee,
    here hash-checked on both engines rather than asserted), and fpr
    tracks (1-e^(-kn/m))^k for the deliberately undersized m. Scale:
    the build is one explode + map-side-combined bit_or (<= m/64 rows);
    the probe is one narrow broadcast pass over orders; the eval
    aggregate is one partial-agg row."""
    from hadoop_common_spark.operators.bloom import bloom_build, bloom_flag

    orders = spark.table("orders")
    members = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bloom = bloom_build(members, "o_orderkey", m_bits=_BLOOM_M, k=_BLOOM_K)
    probes = orders.select(
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("is_member"),
    )
    flagged = bloom_flag(
        probes, "o_orderkey", bloom, "_may", m_bits=_BLOOM_M, k=_BLOOM_K
    )
    fp = (F.col("_may") & ~F.col("is_member")).cast("int")
    fn = (~F.col("_may") & F.col("is_member")).cast("int")
    return flagged.agg(
        F.sum(F.col("is_member").cast("int")).cast("bigint").alias("n_members"),
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(fp).cast("bigint").alias("n_false_pos"),
        F.sum(fn).cast("bigint").alias("n_false_neg"),
        (
            F.sum(fp).cast("double")
            / F.sum((~F.col("is_member")).cast("int")).cast("double")
        ).alias("fpr"),
    )


# Entity-resolution clusters (r6) — the END-TO-END record-linkage
# pipeline: fuzzy-id candidate pairs (SymSpell blocking + levenshtein
# verify, as entity_link_fuzzy_ids) become edges of a bipartite typo
# graph, connected components resolve transitive matches (A~B, B~C =>
# one entity even when A!~C), and each cluster reports its composition.
# Customers and suppliers share the integer key space, so nodes are
# disambiguated as 2*custkey / 2*suppkey+1. Matching additionally
# requires the SAME NATION (attribute blocking, the standard ER move):
# without it the dense digit space chains transitively into one giant
# cluster — blocking is what keeps clusters meaningful AND bounds the
# closure's component sizes at scale. It also makes the pair graph a
# disjoint union of per-nation subgraphs, so components are computed per
# nation (blocked operator: no driver loop of checkpoint jobs).
_LINK_CLUSTER_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT c.c_custkey * 2 AS u, s.s_suppkey * 2 + 1 AS v
  FROM customer c JOIN supplier s
  ON c.c_nationkey = s.s_nationkey
 AND levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) <= 1
),
sym AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lbl AS (
  SELECT u AS node, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM lbl GROUP BY cluster_id
"""


@query("entity_link_clusters", oracle=_LINK_CLUSTER_ORACLE)
def entity_link_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved entity clusters over the fuzzy-id typo graph: component
    id (min node) with member counts per side. Scale: candidate pairs
    come from the lossless deletion-neighborhood blocking (linear in
    input + matches, no nested loop), and the transitive closure is the
    nation-blocked components operator: pairs only join a customer and a
    supplier of the same nation and each node has one nation, so every
    edge and node lies in one block (the operator's precondition) and
    the result equals the iterative operator's. One shuffle on the
    nation key, then a union-find per nation in an Arrow kernel; a
    nation's group is its verified lev<=1 edges, the same list the pair
    step already produces, so it is bounded exactly as that list is.
    The final rollup aggregates one row per node. The oracle computes
    the same fixpoint with a recursive CTE."""
    from hadoop_common_spark.operators.dedup import deletion1_keys_sparksql as d1
    from hadoop_common_spark.operators.graph import connected_components_blocked

    c = spark.table("customer").selectExpr(
        "c_custkey * 2 AS u",
        "c_nationkey AS _nk",
        "substring(c_name, 10, 9) AS _ca",
        f"explode({d1('substring(c_name, 10, 9)')}) AS _k",
    )
    s = spark.table("supplier").selectExpr(
        "s_suppkey * 2 + 1 AS v",
        "s_nationkey AS _nk",
        "substring(s_name, 10, 9) AS _cb",
        f"explode({d1('substring(s_name, 10, 9)')}) AS _k",
    )
    pairs = (
        c.join(s, ["_k", "_nk"])
        .selectExpr("u", "v", "_nk", "_ca", "_cb")
        .distinct()
        .filter("levenshtein(_ca, _cb) <= 1")
        .selectExpr("u", "v", "_nk")
    )
    comp = connected_components_blocked(pairs, "u", "v", "_nk")
    return comp.groupBy(F.expr("component AS cluster_id")).agg(
        *map(
            F.expr,
            (
                "CAST(count(1) AS BIGINT) AS n_members",
                "CAST(sum(CAST(node % 2 = 0 AS INT)) AS BIGINT) AS n_customers",
                "CAST(sum(CAST(node % 2 = 1 AS INT)) AS BIGINT) AS n_suppliers",
            ),
        )
    )


# Salted join (r10, VERDICT r9 #5): the one skew-tier winner that had no
# registry twin. operators/skew.salted_join spreads a hot LEFT key over
# n_salts reducers by salting the fact side and replicating the dim side
# n_salts x — the explicit fallback when AQE's runtime skew split cannot
# help (a single key holding >1 task's worth of rows on BOTH sides; the
# RehashPartitioner regime, MRC/mapreduce/lib/partition/
# RehashPartitioner.java:48). The OUTPUT is join-order- and
# salt-independent — identical to the plain inner join — so the oracle
# is the plain join; the at-depth perf evidence lives in the bench skew
# tier (join_salted 4.8s vs join_plain 9.8s on the 90%-hot Zipf fixture,
# BENCH_DETAIL r9).
_SALTED_JOIN_ORACLE = f"""
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('e.value')} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


@query("join_salted_enrich", oracle=_SALTED_JOIN_ORACLE)
def join_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events enriched with the customer's market segment through the
    skew-proof SALTED join (operators/skew.salted_join), rolled up per
    (segment, event_type). Inner-join semantics are salt-exact: each
    fact row carries one deterministic salt and every dim row exists
    for every salt, so no match is lost or duplicated — the result is
    bit-identical to the plain join at ANY n_salts, which is what makes
    the shape driver-checkable. dsum keeps the double aggregate
    order-independent across the salted partitioning."""
    from hadoop_common_spark.functions.exact import dsum
    from hadoop_common_spark.operators.skew import salted_join

    ev = spark.table("events").select("user_id", "event_type", "value")
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        salted_join(ev, dim, ["user_id"], how="inner", n_salts=8)
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
