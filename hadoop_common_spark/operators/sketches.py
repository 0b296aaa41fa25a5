"""Mergeable sketches with deterministic md5 hashing — HyperLogLog
registers and KMV/bottom-k signatures.

Engine-private hashes (xxhash64, approx_count_distinct's HLL++) are
irreproducible outside Spark, so their queries can only ever be
rows-only checked. Everything here hashes with the repo's md5-derived
``hash60`` instead: DuckDB (and pure Python) rebuild the SAME sketch
bit-for-bit, which is what lets the driver hash-check estimates, lets
parity tests assert exact equality, and makes results stable across
partitionings and retries.

Both sketches are MONOIDS — HLL registers merge by max, bottom-k
signatures merge by union-then-retake — which is the whole 100 TB
story: per-partition partial sketches combine associatively (one
partial-aggregate pass batch-side; idempotent state maintenance
stream-side).

Reference parity note: the reference has no sketches at all (its
UniqValueCount is exact with a cap, HC/lib/aggregate/UniqValueCount.java);
this extends §2.5 the same way the OLAP tier does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_common_spark.operators.dedup import hash60

HLL_M = 64  # registers; relative error ~ 1.04/sqrt(m) ~ 13%
# The register index is pmod(h, HLL_M) and the rank suffix is
# shiftright(h, HLL_REG_BITS): both derive from HLL_M so they can never
# desynchronize. The 55-bit rank constants here, in hll_estimate, and in
# every HLL oracle SQL are 60 - log2(64) + 1 == 55: changing HLL_M also
# means re-deriving those (hence the hard pin below).
assert HLL_M & (HLL_M - 1) == 0, "HLL_M must be a power of two"
HLL_REG_BITS = HLL_M.bit_length() - 1
assert HLL_M == 64, (
    "the 55-bit rank constants in hll_registers/hll_estimate and the "
    "registry oracle SQL are derived from m=64; update them together"
)
HLL_NUM = repr(0.709 * (HLL_M * HLL_M) * float(1 << 55))  # alpha*m^2*2^55


def hll_registers(
    df: DataFrame, group_cols: list[str], id_col: str, salt: str = "hll:"
) -> DataFrame:
    """Per-group HLL registers: (group_cols..., reg, m) with m the max
    rank seen in that register. Rows ship ONCE to the (group, reg)
    partial aggregate — m*|groups| result rows however big the input.
    reg = low 6 bits of hash60(salt || id); rank = leading-zero count
    of the remaining 54 bits + 1, via length(bin(v)) (byte-identical in
    Spark and DuckDB, probed in tests)."""
    h = hash60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    hashed = df.select(
        *group_cols,
        F.pmod(h, F.lit(HLL_M)).alias("reg"),
        F.shiftright(h, HLL_REG_BITS).alias("_v"),
    )
    rank = F.when(F.col("_v") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(F.col("_v")))
    )
    return hashed.groupBy(*group_cols, "reg").agg(F.max(rank).alias("m"))


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register sets (max per (group, reg)) — THE monoid op; used
    by the streaming maintainer to fold a batch into stored state."""
    return registers.groupBy(*group_cols, "reg").agg(F.max("m").alias("m"))


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold registers to (group_cols..., hll_estimate, n_empty,
    register_sum). DETERMINISM: the harmonic denominator sum(2^-m) is
    computed as the exact integer rational S / 2^55 (BIGINT sum of
    1 << (55 - m)) — zero float accumulation; the estimate is one
    constant multiply + one division of exactly-converted values
    (BIGINT->double is a single correctly-rounded conversion in both
    engines). Raw estimator only: the linear-counting small-range
    correction needs ln() — n_empty is emitted for the consumer."""
    folded = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_hit"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - m)"))
        .cast("bigint")
        .alias("_s_present"),
        F.sum("m").cast("bigint").alias("register_sum"),
    )
    s_total = F.col("_s_present") + (
        F.lit(HLL_M) - F.col("_n_hit")
    ).cast("bigint") * F.lit(1 << 55).cast("bigint")
    return folded.select(
        *group_cols,
        (F.lit(float(HLL_NUM)) / s_total.cast("double")).alias("hll_estimate"),
        (F.lit(HLL_M) - F.col("_n_hit")).cast("bigint").alias("n_empty"),
        "register_sum",
    )


def kmv_signature(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Per-group bottom-k signature: (group_cols..., _id, _hk) — the k
    rows with the smallest hash60(salt || id). Selection goes through
    the skew-proof two-phase grouped top-k (per-partition heaps; a hot
    group never funnels its full membership through one reducer).
    Mergeable: bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B))
    (property-tested)."""
    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase

    hk = hash60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    hashed = df.select(
        *group_cols, F.col(id_col).alias("_id"), hk.alias("_hk")
    ).dropDuplicates(group_cols + ["_id"])
    return top_k_per_group_two_phase(
        hashed, group_cols, k, [F.col("_hk"), F.col("_id")]
    )


def kmv_cardinality(
    signature: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Distinct-count estimate from a bottom-k signature: with fewer
    than k members the signature IS the set (exact count); otherwise
    D_est = (k-1) * 2^60 / h_(k) (k-th smallest hash — the classic KMV
    estimator). hash60 values are < 2^60; the BIGINT->double conversion
    and the one division are correctly rounded in both engines, so the
    estimate is bit-identical."""
    agg = signature.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt"),
        F.max("_hk").alias("_hk_k"),  # k-th smallest == max of bottom-k
    )
    est = F.when(
        F.col("_cnt") < k, F.col("_cnt").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * (1 << 60))) / F.col("_hk_k").cast("double")
    )
    return agg.select(
        *group_cols,
        F.col("_cnt").alias("n_signature"),
        est.alias("kmv_estimate"),
    )
