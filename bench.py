"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (full plan execution,
no driver-side collect) — the closest local analog to a cluster job whose
output is written, per the reference's benchmark drivers (MRBench,
TestDFSIO). A TeraSort-equivalent (total-order sort over synthetic
fixed-width records, EX/terasort/TeraSort.java:58) is included alongside
the SURVEY §2 query set.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time
from functools import partial
from typing import Any, Callable, NamedTuple

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)

from perfbench import trace  # noqa: E402

# One representative per operator family (SURVEY.md §2) — broad enough to
# expose a regression anywhere, small enough to finish in minutes at sf0.1.
HEADLINE = [
    "flagship_revenue_by_nation",   # 4-way join + agg + sort (M0)
    "pricing_summary",              # wide aggregation (TPC-H Q1 shape)
    "order_priority_count",         # semi-join + agg
    "top_returning_customers",      # join + top-k
    "wordcount",                    # tokenize/explode/count
    "grep_count",                   # regex extract + count + sort desc
    "aggregate_framework",          # agg-DSL translation
    "value_histogram",              # two-level aggregation
    "field_selection",              # projection DSL
    "join_override",                # full outer + coalesce (rightmost wins)
    "theta_join_acctbal",           # non-equi join
    "total_order_sort_head",        # range partition + sort
    "secondary_sort_window",        # window-function secondary sort
    "top_k_per_group",              # ranked window + filter
    "window_tumbling_hourly",       # event-time tumbling window (batch form)
    "window_sessionize",            # session windows (batch form)
    "dedup_exact",                  # content-hash dedup
    "dedup_minhash_lsh",            # MinHash+LSH near-dup
    "dedup_simhash",                # SimHash near-dup
    "dedup_simhash_pairs",          # banded Hamming pairing
    "dedup_ngram_jaccard",          # blocked all-pairs Jaccard
    "dedup_embedding_cosine",       # embedding near-dup (blocked)
    # r02->r03 drift note (VERDICT r3 #7): similarity_cosine_topk settled
    # at ~1.45s vs r02's 1.20s — the r03 switch to the Arrow dot kernel
    # (dot_exact_udf) costs ~0.25s fixed python-worker launch at sf0.1's
    # tiny 50k-pair volume but is what makes the 10x tier (and 100 TB)
    # viable; intentional trade, not creep.
    "similarity_cosine_topk",       # brute-force ANN baseline
    "similarity_lsh_buckets",       # LSH-bucketed ANN
    "similarity_pq_topk",           # product-quantization ADC
    "corpus_global_shuffle",        # block-parallel global enumeration
    "events_multires_rollup",       # one-pass multi-resolution rollup
    "events_funnel",                # ordered conversion funnel
    "corpus_pack_sequences",        # chunked sequence packing
    "text_fuzzy_word_pairs",        # q-gram-blocked edit-distance join
    "text_quality_scores",          # text quality metrics
    "text_lang_id",                 # n-gram language id
    "multimodal_fake_decode",       # binary-column pipeline plumbing
    "asof_join_last_purchase",      # as-of join extension
    "window_user_running_total",    # running window aggregate
    "rollup_region_nation_revenue", # rollup subtotals
    "montecarlo_pi",                # generator + global agg
    "random_text_wordcount",        # generator + wordcount
    "pipeline_clean_corpus",        # composite cleaning pipeline
    "text_bpe_token_stats",         # BPE-regex token accounting
    "above_nation_avg_balance",     # correlated subquery decorrelation
    "small_quantity_revenue",       # correlated avg vs fact (Q17)
    "large_volume_orders",          # HAVING + join-back + top-k (Q18)
    "disjunctive_bracket_revenue",  # OR-of-conjunctions pushdown (Q19)
    "inactive_rich_customers",      # anti join + scalar subquery (Q22)
    "corpus_split_counts",          # deterministic train/val/test split
    "corpus_token_shards",          # token-budget shard packing window
    "corpus_mixture_sample",        # md5-deterministic mixture sampling
    "corpus_semantic_dedup",        # LSH block → cosine → components
    "corpus_tfidf_topterms",        # TF/DF top-k per doc
    "text_repetition_stats",        # Gopher repetition signals
    "text_pii_scan",                # PII pattern scan
    "pentomino_count",              # exact-cover compute fan-out
    "text_bm25_topk",               # BM25 retrieval scoring (r3)
    "corpus_bigram_familiarity",    # bigram-LM perplexity proxy (r3)
    "graph_triangle_count",         # degree-ordered wedge pipeline (r3)
    "dedup_containment_pairs",      # asymmetric containment sparse join (r6)
    "dedup_canonical_quality",      # cluster argmax survivor selection (r6)
    "dedup_shared_span_pairs",      # exact-substring diagonal runs (r6;
                                    # headline-only: at the 10x tier every
                                    # replica pair shares its FULL text, so
                                    # positional-gram matches are quadratic
                                    # in replica multiplicity — the measured
                                    # output bound (104s), not a plan defect;
                                    # max_gram_df is the production knob)
    "dedup_shared_span_pairs_capped",  # the max_gram_df=8 preset (r7) —
                                    # the skew knob itself benched; scale
                                    # tier carries it where the uncapped
                                    # form is output-bound
    "forecast_revenue_change",      # pure pruned-scan benchmark (Q6, r6)
    "local_supplier_volume",        # 6-way local-supplier join (Q5, r6)
    "events_close_pairs",           # binned range self-join (r6)
    "corpus_ngram_novelty",         # corpus-wide first-seen gram aggregation (r6)
    "corpus_dsir_weights",          # hashed-ngram importance weights (r6 cont.)
    "text_inverted_index",          # skew-safe postings heads (r6 cont.)
    "corpus_weighted_sample",       # A-ES sample w/o replacement (r6 cont.)
    "text_pmi_pairs",               # zip_with windowed collocations (r6 cont.)
    "orders_market_basket",         # 2-itemset lift over order baskets (r6 cont.)
    "events_user_ewma",             # ordered-fold time-decay feature (r6 cont.)
    "customers_rfm_segments",       # 3x block-parallel global rank (r6 cont.)
    "similarity_knn_label_eval",    # supervised 5-NN accuracy eval (r6 cont.)
    "events_key_skew_report",       # partition-strategy skew doctor (r6 cont.)
    "tpch_fk_integrity",            # 7-edge orphan audit (r6 cont.)
    "embedding_kmeans_step",        # integer-exact Lloyd iteration (r6 cont.)
    "text_quality_linear_score",    # hash-trick classifier inference (r6 cont.)
    "events_k_anonymity",           # privacy suppression audit (r6 cont.)
    "events_cdc_merge",             # MERGE INTO / upsert primitive (r6 cont.)
    "graph_bfs_distances",          # fixed-round BSP shortest paths (r6 cont.)
    "privacy_erasure_cascade",      # GDPR cascade purge audit (r6 cont.)
    "embedding_drift_by_label",     # centroid-drift ML-ops monitor (r6 cont.)
    "corpus_version_diff",          # release diff: ids+digests only (r6 cont.)
    "entity_link_fuzzy_ids",        # SymSpell-blocked record linkage (r6 cont.)
    "supplier_balance_band_match",  # binned interval-lookup join (r6 cont.)
    "supplier_balance_wide_band_match",  # its fan-out-heavy width regime (r11)
    "text_score_calibration",       # scorer reliability bins (r6 cont.)
    "events_l_diversity",           # homogeneity-attack audit (r6 cont.)
    "events_audience_overlap",      # grouped-set exact Jaccard (r6 cont.)
    "lineitem_qty_price_correlation",  # exact-sufficient-stats Pearson (r6 cont.)
    "events_mode_band_by_type",     # struct-max deterministic mode (r6 cont.)
    "corpus_weighted_sample_by_source",  # two-phase grouped A-ES (r6 cont.)
    "events_cdc_scd2_history",      # CDC op log -> SCD2 version history (r6 cont.)
    "embedding_kcenter_seeds",      # farthest-first seed selection (r6 cont.)
    "events_hll_distinct_users",    # oracle-backed mergeable HLL (r6 cont.)
    "events_audience_overlap_kmv",  # bottom-k sketched Jaccard matrix (r6 cont.)
    "events_value_kmv_quantiles",   # mergeable bottom-k quantile sketch (r6 cont.)
    "events_distinct_users_kmv",    # KMV cardinality + signature-union est (r6 cont.)
    "events_value_ohlc_hourly",     # struct-min/max OHLC bars (r6 cont.)
    "events_wau_rolling_7d",        # exploded-visibility rolling distinct (r6 cont.)
    "bloom_fpr_eval",               # measured Bloom FPR, bit-array oracle (r6 cont.)
    "events_wau_rolling_kmv",       # sketch algebra over time windows (r6 cont.)
    "entity_link_clusters",         # linkage -> CC -> resolved entities (r6 cont.)
    "orders_revenue_mom",           # period-over-period over month agg (r6 cont.)
    "customers_revenue_gini",       # concentration via block-parallel rank (r6 cont.)
    "events_first3_journeys",       # onboarding path analysis, no window (r6 cont.)
    "events_ab_value_ttest",        # Welch t^2 from exact sufficient stats (r6 cont.)
    "events_signup_conversion_latency",  # time-to-event histogram (r6 cont.)
    "nation_share_of_region",       # share-of-parent contribution (r6 cont.)
]


def _run_noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---- 10x scale tier (VERDICT r2 #7) -------------------------------------
# At sf0.1 every query is 1-2s of fixed job overhead, which hides real
# regressions. This tier replicates events/documents/embeddings 10x (with
# deterministic per-replica perturbation so ids stay unique and texts /
# vectors are near- but not exact-duplicates) and re-times the queries
# whose cost actually scales with those tables. TPC-H tables are linked
# unscaled (scaling them correctly needs the dbgen generators).

SCALE_REPLICAS = 10
SCALE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "corpus_semantic_dedup",
    "similarity_pq_topk",
    "text_repetition_stats",
    "corpus_global_shuffle",
    "corpus_tfidf_topterms",
    "window_sessionize",
    "events_multires_rollup",
    "window_user_analytics",
    "corpus_bigram_familiarity",
    # r4 (VERDICT r3 #8): iterative + join-heavy tiers where 10x bites
    # differently than on the scan-bound queries above
    "graph_pagerank",
    "graph_triangle_count",
    "events_funnel",
    "similarity_lsh_multiprobe_topk",
    # r5: the measured-recall evals — both sides (ground truth + approx)
    # must stay shuffle-bounded as the corpus grows, which only the 10x
    # tier can demonstrate
    "dedup_minhash_recall_eval",
    "similarity_lsh_recall_eval",
    # r6: the containment sparse join (pair-output family — the tier that
    # exposed the 100x output bound). dedup_canonical_quality stays
    # headline-only: its 10x cost is the generic CC's ~4 rounds of fixed
    # job overhead (measured 23s, pairs alone 8.6s) — the CC-at-scale
    # story is the blocked variant, already measured via
    # corpus_semantic_dedup
    "dedup_containment_pairs",
    # r6: the binned range self-join — bin occupancy must bound the
    # fan-out as events grow (3.3s at 10x on landing)
    "events_close_pairs",
    # r6: novelty is the aggregate that must stay LINEAR where the pair
    # tiers hit their output bound (5.3s at 10x after dropping the
    # gram-keyed join back)
    "corpus_ngram_novelty",
    # r6 continuation: DSIR is the bounded-dictionary broadcast pattern
    # (4096-row dict however big the corpus) and PMI is the map-side
    # zip_with pair generator — both must stay linear at 10x
    "corpus_dsir_weights",
    "text_pmi_pairs",
    # r6 continuation: the Lloyd step must stay map-side-assignment +
    # two partial-agg shuffles as embeddings grow; the hash-trick scorer
    # is the zero-shuffle pass that must scale like the scan it is
    "embedding_kmeans_step",
    "text_quality_linear_score",
    # r6 continuation: calibration adds one bounded-group shuffle on top
    # of the zero-shuffle scorer; l-diversity is the two-level exact
    # count-distinct — both must stay linear in their scanned table
    # (entity_link / balance_band read only unscaled TPC-H dims, so the
    # 10x tier tells them nothing — headline-only)
    "text_score_calibration",
    "events_l_diversity",
    # r6 continuation: overlap's self-join fan-out is per-user type-count
    # squared — the 10x tier checks that bound holds as events grow; the
    # grouped A-ES must stay two-phase-pruned as documents grow
    "events_audience_overlap",
    "corpus_weighted_sample_by_source",
    # r6 continuation: SCD2's per-key window sort must stay user-bounded
    # as events grow; k-center is k=4 full linear passes whose cost must
    # track the embedding count, not blow up on the one-row attaches
    "events_cdc_scd2_history",
    "embedding_kcenter_seeds",
    # r6 continuation: the HLL register pass must stay one (type, reg)
    # partial aggregate as events grow; the KMV twins' corpus-side work
    # (distinct + two-phase bottom-k) must scale like the scan while the
    # pairwise matrix stays sample-sized
    "events_hll_distinct_users",
    "events_audience_overlap_kmv",
    "events_value_kmv_quantiles",
    "events_distinct_users_kmv",
    # r6 continuation: the rolling-WAU explode is facts x 7 — linear or
    # bust as events grow; OHLC is one partial-agg pass
    "events_value_ohlc_hourly",
    "events_wau_rolling_7d",
    # r6 continuation: the sketched WAU must keep raw events to ONE
    # touch as they grow (daily signatures do the window work)
    "events_wau_rolling_kmv",
    # r6 continuation: the journeys aggregate collects per-user arrays —
    # user-bounded state that must not blow up as events x10
    "events_first3_journeys",
    # r7 (VERDICT r6 #5): the capped shared-span preset — hot grams
    # dropped at max_gram_df=8, so the gram join's fan-out is bounded
    # where the uncapped form's output is quadratic in replica
    # multiplicity (the knob finally has its own scale row)
    "dedup_shared_span_pairs_capped",
]


# ---- 100x scale tier (VERDICT r6 #4) -------------------------------------
# The r5/r6 100x spot checks (BENCH_NOTES) kept finding the real bounds
# (containment OOM, the KMV exact-leg sort, the pair-output walls) that
# neither sf0.1 nor the 10x tier can see — promoted to a standing tier
# gated against the previous run like every tier. Queries are the spot-check set: every
# entry is linear-or-sublinear by design (output-bound pair reporters are
# exactly what this tier must NOT carry uncapped — their capped presets
# carry the flag instead). N=2 keep-min per query (the first run pays
# python-worker/Arrow first-touch), tables warmed before timing.

SCALE100_REPLICAS = 100
SCALE100_QUERIES = [
    "dedup_exact",                    # scan-bound hash dedup
    "text_repetition_stats",          # zero-shuffle projection
    "corpus_global_shuffle",          # two bounded shuffles
    "window_sessionize",              # per-user session windows
    "dedup_simhash_pairs",            # banded Hamming (linear in candidates)
    "corpus_ngram_novelty",           # corpus-wide first-seen aggregation
    "events_close_pairs",             # binned range self-join
    "corpus_dsir_weights",            # bounded-dictionary broadcast
    "text_pmi_pairs",                 # map-side zip_with pair-gen
    "embedding_kmeans_step",          # map-side assign + 2 partial-agg shuffles
    "text_quality_linear_score",      # zero-shuffle hash-trick scorer
    "events_k_anonymity",             # two bounded aggregates
    "events_cdc_merge",               # struct-max partial agg + one join
    "events_hll_distinct_users",      # register partial-agg
    "events_l_diversity",             # two-level count-distinct
    "text_score_calibration",         # scorer + bounded bins
    "events_audience_overlap",        # bounded-fan-out self-join
    "events_audience_overlap_kmv",    # two-phase bottom-k
    "events_value_kmv_quantiles",     # sketch + histogram-selected exact leg
    "corpus_weighted_sample_by_source",  # two-phase grouped A-ES
    "events_cdc_scd2_history",        # user-bounded per-key sort
    "embedding_kcenter_seeds",        # k fixed linear passes
    "events_value_ohlc_hourly",       # one partial-agg pass
    "events_wau_rolling_7d",          # facts x 7 explode (linear)
    "events_wau_rolling_kmv",         # one raw touch + signature algebra
    "events_distinct_users_kmv",      # distinct + two-phase bottom-k
    "dedup_shared_span_pairs_capped", # the skew knob at the density that
                                      # makes the uncapped form quadratic
]


# ---- TPC-H join-scale tier (VERDICT r7 #2) --------------------------------
# The relational/join shapes were only ever measured at sf0.1 (~100 MB),
# where every dimension broadcasts and lineitem fits one executor — the
# 100-TB claim for the join tier rested on plan shape alone. This tier
# replicates customer/orders/lineitem 30x with REMAPPED keys (sf~3:
# lineitem ~18M rows, a genuinely wider keyspace, NOT 30 co-located
# copies of the same keys), keeping the dimensions at base scale, and
# times the flagship + Q5 + Q9 + Q21 + FK-integrity join shapes on it —
# the fact-fact joins (lineitem<->orders, Q21's lineitem self-join) must
# scale with the shuffle, while the dimension legs stay broadcast.
# 30 replicas is the smallest multiple that pushes orders (81 MB) past
# the session's 64 MB broadcast threshold: below that every fact join
# silently stays broadcast and the tier measures nothing the headline
# tier didn't — at 30x the planner is in the same SMJ-for-facts /
# broadcast-for-dims regime a 1000-executor 100 TB job lives in.
TPCH_SCALE_REPLICAS = 30
TPCH_SCALE_QUERIES = [
    "flagship_revenue_by_nation",  # 6-table star: dims broadcast, facts SMJ
    "local_supplier_volume",       # Q5: two fact joins + 4 dims
    "nation_profit_by_year",       # Q9: part-filtered star, widest fact join
    "waiting_suppliers",           # Q21: lineitem SELF-join x2 + exists/not-exists
    "tpch_fk_integrity",           # every FK edge as an anti-join
    "pricing_summary",             # Q1: pure scan-agg fact throughput
    "large_volume_orders",         # Q18: HAVING over lineitem + join-back
]


def build_tpch_scale_dir(
    spark, sf_dir: str, replicas: int = TPCH_SCALE_REPLICAS
) -> str:
    """Materialize the join-scale TPC-H tier: customer/orders/lineitem
    replicated with REMAPPED keys (key*replicas + r, same r across an
    order's lineitems and its customer) so every FK edge stays intact
    and the join keyspace really is N× wider. Dimensions
    (region/nation/supplier/part) stay at base scale via symlink — at
    100 TB the dims still broadcast; it is the fact side that must
    shuffle — and the non-TPC-H tables are symlinked for
    register_views."""
    from pyspark.sql import functions as F

    r, R = F.col("_r"), replicas
    return _replicate_dir(spark, sf_dir, f"hcs_bench_tpch{replicas}x", replicas, {
        "customer": {"c_custkey": F.col("c_custkey") * R + r},
        "orders": {
            "o_orderkey": F.col("o_orderkey") * R + r,
            "o_custkey": F.col("o_custkey") * R + r,
        },
        "lineitem": {"l_orderkey": F.col("l_orderkey") * R + r},
    })


def bench_skew(spark, scale_dir: str, runs: dict[str, dict]) -> dict[str, float]:
    """Zipf-skew stress fixture (VERDICT r7 #3): 90% of the tier's
    events collapse onto ONE user (the one-user>>all-others regime the
    RehashPartitioner analog exists for) and the plain vs skew-proof
    forms run head-to-head. Findings this fixture exists to keep true,
    round over round (first measured r8, 100x tier, 10M events / 9M on
    the hot user):

    - topk_window_plain vs topk_two_phase: on Spark 4 the PLAIN rank-
      limit window is already skew-immune — Catalyst inserts
      WindowGroupLimit (partial top-k BEFORE the exchange, the same
      two-phase prune operators.skew does by hand), measured FLAT at
      90% skew (2.06s vs 2.11s for the manual form, r8 archive; plan
      presence asserted here). The manual two-phase form remains for
      shapes WindowGroupLimit can't express (top-k by aggregate,
      domain caps).
    - cumsum_window_plain vs cumsum_segmented: the running total is the
      window skew genuinely kills — per-key sequential, AQE can't split
      a window partition, no WindowGroupLimit rescue. Measured 28.6s
      plain (9M-row hot partition folds on ONE core; decimal sums) vs
      5.8s for operators.skew.segmented_running_sum's two-pass parallel
      prefix sum (r8 archive). THIS pair is the superlinear-degrades vs
      stays-flat pin.
    - join_plain vs join_salted against a broadcast-proof dim (2 KB
      payload per user): AQE's OptimizeSkewedJoin handles much of it;
      salted_join still measured ahead at depth (3.9s vs 8.2s, r8
      archive).

    Timings land in BENCH_DETAIL as "skew_queries" (keep-min of 2, like
    the deep tiers), plan fingerprints under "skew/<row>" and run
    profiles under "skew/<row>#<run>"."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.skew import (
        salted_join,
        segmented_ewma,
        segmented_running_sum,
        top_k_per_group_two_phase,
    )
    from hadoop_common_spark.tables import load_tables

    ev = load_tables(spark, scale_dir)["events"]
    sk = ev.select(
        F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_id",
        F.col("value").cast("decimal(20,6)").alias("value"),
        "event_type",
    )
    out: dict[str, float] = {}

    def timed(name, thunk):
        out[name] = _time_query(spark, lambda _s, _d: thunk(), scale_dir, 2, f"skew/{name}", runs)

    k = 5
    order = [F.col("value").desc(), F.col("event_id").asc()]

    def plain_topk():
        w = Window.partitionBy("user_id").orderBy(*order)
        df = (
            sk.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        # pin: Spark 4 must keep two-phasing this natively — if
        # WindowGroupLimit ever leaves the plan, the flat plain-topk
        # claim is void and this line makes the bench say so loudly
        if "WindowGroupLimit" not in _plan(df):
            print(
                "# bench skew WARNING: WindowGroupLimit missing from the "
                "plain top-k plan — the skew-immunity claim no longer holds",
                file=sys.stderr,
            )
        return df

    timed("topk_window_plain", plain_topk)
    timed(
        "topk_two_phase",
        lambda: top_k_per_group_two_phase(sk, ["user_id"], k, order),
    )

    def plain_cumsum():
        w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        return sk.withColumn("running", F.sum("value").over(w))

    timed("cumsum_window_plain", plain_cumsum)
    timed(
        "cumsum_segmented",
        lambda: segmented_running_sum(
            sk, ["user_id"], "event_id", "value", n_segments=64
        ),
    )
    # the count-derived default (r10, VERDICT r9 #3: max(64, sqrt(N)) ->
    # ~3.2k segments at this tier) measured alongside the fixed-64 rows,
    # which keep their explicit knob for baseline continuity — the
    # derived twins are the flat-per-segment-memory evidence at fixture
    # scale
    timed(
        "cumsum_segmented_derived",
        lambda: segmented_running_sum(sk, ["user_id"], "event_id", "value"),
    )
    # EWMA: the plain collected-array fold measured 115.7s on the 9M-row
    # hot key (one-shot r8 study, BENCH_NOTES) — too costly for a
    # standing N=2 row; the fixture gates only the segmented form (the
    # plain form's cost is structural: one aggregation VALUE holds the
    # hot key's entire history)
    timed(
        "ewma_segmented",
        lambda: segmented_ewma(
            sk, ["user_id"], "event_id", "value", n_segments=64
        ),
    )
    timed(
        "ewma_segmented_derived",
        lambda: segmented_ewma(sk, ["user_id"], "event_id", "value"),
    )

    # broadcast-proof dim: ~2 KB payload per user pushes it far past the
    # 64 MB threshold at the tier's user cardinality, forcing the
    # shuffle-join regime where the hot key actually matters
    dim = (
        ev.select("user_id").distinct()
        .withColumn(
            "payload", F.rpad(F.md5(F.col("user_id").cast("string")), 2000, "x")
        )
    )
    timed("join_plain", lambda: sk.join(dim, "user_id"))
    timed(
        "join_salted",
        lambda: salted_join(sk, dim, ["user_id"], n_salts=8),
    )
    return out


def _replicate_dir(spark, sf_dir: str, name: str, replicas: int, remaps: dict) -> str:
    """Materialize /tmp/<name>: each table in ``remaps`` written
    ``replicas`` times with its {column: Column-over-replica-index-``_r``}
    rewrites, every other base table symlinked. Rebuilt per run (cheap)
    so a regenerated base testdata can never serve a stale tier."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.tables import TABLE_NAMES, load_tables

    out = os.path.join("/tmp", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("_r")
    # many output files, not one: a single small parquet file = ONE input
    # split = a single-threaded "scale" tier; real cluster input has many
    # splits, so the tier must too
    nfiles = spark.sparkContext.defaultParallelism
    # load_tables (not bare reads): normalizes events.ts whatever the
    # base parquet's physical timestamp form is
    tabs = load_tables(spark, sf_dir)
    for t, cols in remaps.items():
        df = tabs[t].select("*", rep)
        for c, col in cols.items():
            df = df.withColumn(c, col)
        df.drop("_r").repartition(nfiles).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    # absolute targets: a relative sf_dir would resolve the links
    # against /tmp (dangling) rather than the cwd the scans use
    abs_sf = os.path.abspath(sf_dir)
    for t in TABLE_NAMES:
        if t not in remaps:
            os.symlink(f"{abs_sf}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def build_scale_dir(spark, sf_dir: str, replicas: int = SCALE_REPLICAS) -> str:
    """The 10x tier: events/documents/embeddings replicated, TPC-H linked."""
    from pyspark.sql import functions as F

    r, R = F.col("_r"), replicas
    return _replicate_dir(spark, sf_dir, f"hcs_bench_scale{replicas}x", replicas, {
        "events": {
            "event_id": F.col("event_id") * R + r,
            # scale USERS too (not events-per-user): per-key window/session
            # volume stays realistic instead of 10x-deep per user
            "user_id": F.col("user_id") * R + r,
        },
        "documents": {
            "doc_id": F.col("doc_id") * R + r,
            # one replica-distinct leading token: replicas are NEAR-duplicates
            # (they share almost every shingle - the dedup tier does real
            # work) but not byte-identical (dedup_exact keeps its original
            # duplicate-group structure)
            "text": F.concat(F.lit("r"), r.cast("string"), F.lit(" "), F.col("text")),
        },
        "embeddings": {
            "vec_id": F.col("vec_id") * R + r,
            # tiny deterministic per-replica scaling: cosine to the original
            # stays ~1 (near-dup pairs exist) without exact-tie degeneracy
            "embedding": F.transform(
                F.col("embedding"),
                lambda x: (x.cast("double") * (1.0 + r.cast("double") / 1e4)).cast("float"),
            ),
        },
    })


def bench_dfsio(spark, n_rows: int) -> dict:
    """TestDFSIO-equivalent: sequential write then read of synthetic
    100-byte records through the parquet file format (the reference
    measures raw HDFS streams; the engine's unit of IO is the columnar
    container). Reports seconds and MB/s for each direction."""
    from pyspark.sql import functions as F

    out = "/tmp/hcs_bench_dfsio"
    shutil.rmtree(out, ignore_errors=True)
    recs = spark.range(n_rows).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 10).alias("key"),
        F.rpad(F.md5((F.col("id") + 1).cast("string")), 90, "x").alias("payload"),
    )
    mb = n_rows * 100 / 1e6
    t0 = time.perf_counter()
    recs.write.mode("overwrite").parquet(out)
    w = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = spark.read.parquet(out).count()
    r = time.perf_counter() - t0
    assert n == n_rows
    shutil.rmtree(out, ignore_errors=True)
    return {
        "write_sec": round(w, 3),
        "read_sec": round(r, 3),
        "write_mb_s": round(mb / w, 1),
        "read_mb_s": round(mb / r, 1),
    }


def terasort_equivalent(spark, n_rows: int):
    """TeraSort-equivalent: total-order sort of synthetic 100-byte-ish
    records (10-char key / 90-char payload), à la TeraGen→TeraSort."""
    from pyspark.sql import functions as F

    recs = spark.range(n_rows).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 10).alias("key"),
        F.rpad(F.md5((F.col("id") + 1).cast("string")), 90, "x").alias("payload"),
    )
    # orderBy -> RangePartitioner (sampled split points), the Spark analog
    # of TotalOrderPartitioner + InputSampler.
    return recs.orderBy("key")


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _baseline(sf: float, cpus: int) -> tuple[str | None, dict, dict[str, dict]]:
    """The previous run at this core count and sf: the label and record
    of BENCH_DETAIL_c{cpus}.json (or None, {}) and the runs of
    PROFILE_c{cpus}.json (or {}). Runs on another core count are not
    comparable, so no other file is read."""
    label = f"BENCH_DETAIL_c{cpus}.json"
    detail = _read_json(os.path.join(REPO_DIR, label))
    if not (detail.get("queries") and detail.get("sf") in (None, sf)):
        label, detail = None, {}
    profile = _read_json(os.path.join(REPO_DIR, f"PROFILE_c{cpus}.json"))
    return label, detail, profile.get("runs", {}) if profile.get("sf") == sf else {}


# ---- plan fingerprint: the gate's host-independent number. Wall time on
# a shared VM moves with steal time, frequency and neighbours; the
# executed plan moves only when the code, the data shape or the planner
# does. Three per-session counters differ between two builds of the SAME
# plan and are stripped before hashing: expression ids (`l_orderkey#123L`),
# exchange ids (`[plan_id=45]`) and lambda variables (`lambda x_22`).
# A scan's `DataFilters` value longer than 100 chars is cut by Spark
# while the ids are still in it, so the cut falls elsewhere in each
# build; an abbreviated value (it ends in `...`) is dropped whole.
_PLAN_NOISE = (
    (re.compile(r"(DataFilters: )(?:(?!, Format: ).)*\.\.\.(?=, Format: )"), r"\1..."),
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
)


def normalize_plan(text: str) -> str:
    for pat, repl in _PLAN_NOISE:
        text = pat.sub(repl, text)
    return text


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_fingerprint(df) -> str:
    return hashlib.sha256(normalize_plan(_plan(df)).encode()).hexdigest()[:16]


# ---- work counters: what each timed run made Spark do, summed from the
# event log over the jobs tagged with the run's description. A counter
# moves when it is more than WORK_SLACK of the baseline's value (of 1,
# below 1) away: compressed shuffle blocks vary a little with the order
# rows arrive in, and AQE sometimes runs one more 1-task job for a
# reused exchange (text_pmi_pairs at 10x: 8 jobs in 4 of 5 runs, 7 in 1).
WORK = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
WORK_SLACK = 0.25
_PROFILE_KEYS = (*WORK, "executor_cpu_s", "gc_s", "peak_exec_mem_mb", "task_skew")


def _work_moved(now: dict, old: dict) -> list[str]:
    """The work counters of one run that moved from ``old`` to ``now``."""
    return [
        k for k in WORK
        if abs(now.get(k, 0) - old.get(k, 0)) > WORK_SLACK * max(old.get(k, 0), 1.0)
    ]


def _regressions(
    cur: dict[str, float], prev: dict[str, float], fingerprints: dict[str, str],
    prev_fingerprints: dict[str, str], profile: dict[str, dict], prev_profile: dict[str, dict],
    base: str | None, prefix: str = "",
) -> dict[str, dict]:
    """Rows whose plan fingerprint (keyed ``prefix + name``) changed vs
    the archive ``base`` (``fired: "plan"``), whose work counters moved
    in a run profiled on both sides (``"work"``, keyed
    ``prefix + name + "#<run>"``), or both (``"plan+work"``). The raw
    time ratio ``norm`` is reported, never gated: wall time moves with
    the host. Rows without a positive baseline or with an errored (-1)
    timing never flag."""
    out: dict[str, dict] = {}
    for name, now in cur.items():
        old = prev.get(name)
        if old is None or old <= 0 or now <= 0:
            continue
        fp, prev_fp = fingerprints.get(prefix + name), prev_fingerprints.get(prefix + name)
        both = [k for k in profile if k.rpartition("#")[0] == prefix + name and k in prev_profile]
        moved = sorted({m for k in both for m in _work_moved(profile[k], prev_profile[k])})
        hits = (("plan", fp and prev_fp and fp != prev_fp), ("work", moved))
        fired = "+".join(tag for tag, hit in hits if hit)
        if fired:
            out[name] = {"prev": old, "now": now, "norm": round(now / old, 2), "fired": fired, "base": base}
            if moved:
                out[name]["moved"] = moved
    return out


def _tpch_plan_sentinels(spark, registry, tpch_dir: str) -> None:
    """The tier exists to measure the SMJ-for-facts / broadcast-for-dims
    regime — if the planner ever broadcasts the fact side again
    (threshold change, estimator change, replica shrink), the timings
    silently measure the wrong regime; say so loudly instead. r9 widens
    the pin from Q5 to the grouped-HAVING two-pass shapes (Q9's widest
    fact join, Q18's HAVING-over-lineitem + join-back) and additionally
    asserts NO nested-loop/cartesian leg sneaks into any of them
    (VERDICT r8 #5). Q18 AND Q9 are the adjudicated exceptions (VERDICT
    r10 #6): their orders join-back legs sit AT the 64 MB
    broadcast-estimate boundary at this tier — column pruning puts the
    30x-replicated orders at ~54-64 MB, so the strategy flips run-to-run
    with parquet compression jitter (r10 saw Q18 broadcast + Q9 SMJ; r11
    saw both broadcast) — and the SMJ form of the SAME joins is pinned at
    100x by the one-shot depth studies in BENCH_NOTES (r9 and r11: Q9 1
    SMJ + 3 broadcasts, Q18 1 SMJ + 1), so boundary-at-30x / SMJ-at-100x is the
    EXPECTED pair. What must hold for them HERE is the heavy leg: the
    over-lineitem shuffle aggregate (an Exchange hashpartitioning in the
    plan). Q5 keeps the strict shuffle-join requirement — its lineitem x
    orders join carries o_custkey and never prunes near the boundary."""
    for pin, need_shuffle_join in (
        ("local_supplier_volume", True),    # Q5
        ("nation_profit_by_year", False),   # Q9 (see above)
        ("large_volume_orders", False),     # Q18 (see above)
    ):
        try:
            plan = _plan(registry[pin].fn(spark, tpch_dir))
        except Exception:
            continue
        for broken, why in (
            (need_shuffle_join and "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan,
             "no shuffle join: the fact side is broadcasting, not the at-scale join regime"),
            (not need_shuffle_join and "Exchange hashpartitioning" not in plan,
             "no shuffle aggregate: the HAVING leg left the at-scale aggregate regime"),
            ("BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan,
             f"nested-loop/cartesian leg at {TPCH_SCALE_REPLICAS}x"),
        ):
            if broken:
                print(f"# bench tpch WARNING: {pin} plan: {why}", file=sys.stderr)


class Tier(NamedTuple):
    """One bench tier: where its data comes from and what it times.

    ``prefix`` keys the tier's rows on the stdout line and in
    ``fingerprints``; without its slash it names the BENCH_DETAIL keys
    (``scale_queries``, ``scale_total``, ...). ``warm`` lists the
    REWRITTEN tables pushed through the noop sink before timing: a
    fresh table's first scan pays /tmp page-cache first-touch (measured
    17.8s cold vs 3.4s steady for the same query back-to-back); count()
    would not do, a parquet count reads only row-group metadata.
    Symlinked base tables were just scanned by the headline tier."""

    prefix: str
    build: Callable[[Any, str], str]
    queries: list[str]
    warm: tuple[str, ...] = ()
    repeats: int = 1
    skip_bounded: bool = False
    check: Callable[[Any, Any, str], None] | None = None

    def key(self, what: str) -> str:
        name = self.prefix.rstrip("/")
        return f"{name}_{what}" if name else ("value" if what == "total" else what)


_SCALED = ("events", "documents", "embeddings")
TIERS: list[Tier] = [
    Tier("", lambda spark, sf_dir: sf_dir, HEADLINE + ["terasort_equivalent"]),
    Tier("scale/", build_scale_dir, SCALE_QUERIES, _SCALED),
    # bounded mode drops the 100x tier: build + ~27 queries, the single
    # biggest slice of the run, is what blew the r12 8-core budget
    Tier("scale100/", partial(build_scale_dir, replicas=SCALE100_REPLICAS),
         SCALE100_QUERIES, _SCALED, repeats=2, skip_bounded=True),
    Tier("tpch/", build_tpch_scale_dir, TPCH_SCALE_QUERIES, ("customer", "orders", "lineitem"),
         repeats=2, check=_tpch_plan_sentinels),
]


INLINE_QUERIES: list[tuple[str, str]] = [
    ("scale100/", "dedup_shared_span_pairs_capped"),
    ("scale100/", "dedup_simhash_pairs"),
    ("scale100/", "corpus_dsir_weights"),
    ("scale100/", "corpus_ngram_novelty"),
    ("tpch/", "local_supplier_volume"),
    ("scale/", "dedup_embedding_cosine"),
    ("tpch/", "large_volume_orders"),
    ("scale100/", "text_repetition_stats"),
    ("scale/", "dedup_minhash_recall_eval"),
    ("scale/", "dedup_ngram_jaccard"),
    ("scale/", "dedup_containment_pairs"),
    ("scale/", "corpus_semantic_dedup"),
    ("scale100/", "embedding_kmeans_step"),
    ("", "entity_link_clusters"),
    ("", "dedup_shared_span_pairs_capped"),
    ("scale/", "dedup_shared_span_pairs_capped"),
    ("scale/", "corpus_tfidf_topterms"),
    ("", "dedup_canonical_quality"),
    ("scale100/", "events_audience_overlap"),
    ("scale/", "dedup_minhash_lsh"),
    ("", "corpus_dsir_weights"),
    ("scale100/", "events_close_pairs"),
    ("scale100/", "events_audience_overlap_kmv"),
    ("", "dedup_shared_span_pairs"),
    ("scale/", "graph_pagerank"),
    ("scale100/", "text_pmi_pairs"),
    ("scale100/", "events_distinct_users_kmv"),
    ("scale100/", "text_quality_linear_score"),
    ("", "dedup_embedding_cosine"),
    ("scale100/", "events_value_kmv_quantiles"),
    ("scale100/", "text_score_calibration"),
    ("", "graph_bfs_distances"),
    ("scale/", "corpus_dsir_weights"),
    ("", "corpus_ngram_novelty"),
    ("tpch/", "nation_profit_by_year"),
    ("tpch/", "pricing_summary"),
    ("tpch/", "waiting_suppliers"),
    ("scale/", "dedup_simhash_pairs"),
    ("", "dedup_minhash_lsh"),
    ("", "pricing_summary"),
    ("", "orders_market_basket"),
    ("", "lineitem_qty_price_correlation"),
    ("", "pentomino_count"),
    ("scale100/", "events_wau_rolling_7d"),
    ("scale/", "corpus_bigram_familiarity"),
    ("scale100/", "embedding_kcenter_seeds"),
    ("scale/", "similarity_lsh_recall_eval"),
    ("", "dedup_containment_pairs"),
    ("scale/", "similarity_pq_topk"),
    ("", "corpus_bigram_familiarity"),
    ("scale/", "events_value_kmv_quantiles"),
    ("scale/", "corpus_ngram_novelty"),
    ("scale100/", "events_wau_rolling_kmv"),
    ("tpch/", "tpch_fk_integrity"),
    ("scale/", "text_pmi_pairs"),
    ("tpch/", "flagship_revenue_by_nation"),
    ("scale/", "events_distinct_users_kmv"),
    ("", "graph_triangle_count"),
    ("scale/", "graph_triangle_count"),
    ("", "dedup_ngram_jaccard"),
    ("scale/", "events_audience_overlap"),
    ("scale/", "events_audience_overlap_kmv"),
    ("scale100/", "window_sessionize"),
    ("", "corpus_semantic_dedup"),
    ("", "similarity_pq_topk"),
    ("", "similarity_knn_label_eval"),
    ("", "bloom_fpr_eval"),
    ("scale/", "events_wau_rolling_kmv"),
    ("scale100/", "events_l_diversity"),
    ("", "dedup_simhash"),
    ("", "dedup_simhash_pairs"),
    ("", "text_pmi_pairs"),
    ("", "wordcount"),
    ("", "flagship_revenue_by_nation"),
    ("", "terasort_equivalent"),
]


def _time_query(spark, fn, data_dir: str, repeats: int, label: str, runs: dict[str, dict]) -> float:
    """Keep-min seconds of ``repeats`` noop-sink runs (-1.0 if the first
    errors or its plan cannot be read — a broken query must not hide the
    others). Run ``i``'s jobs carry the description ``<label>#<i>``; its
    build and execution seconds go to ``runs`` under that key, with the
    plan fingerprint taken after the first run, outside the timed region."""
    sc = spark.sparkContext
    best, fp = -1.0, None
    for i in range(repeats):
        sc.setJobDescription(f"{label}#{i}")
        t0 = time.perf_counter()
        try:
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
            _run_noop(df)
            t2 = time.perf_counter()
            fp = fp or plan_fingerprint(df)
        except Exception as e:
            print(f"# bench error {label}: {type(e).__name__}: {e}", file=sys.stderr)
            break
        finally:
            sc.setJobDescription(None)
        el = round(t2 - t0, 3)
        best = el if best < 0 else min(best, el)
        runs[f"{label}#{i}"] = {"build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3), "fingerprint": fp}
        # promptly release the run's DataFrame lineage (any cached or
        # checkpointed blocks) before the next run — at the 100x tier a
        # leaked copy is gigabytes
        del df
        gc.collect()
    return best


def read_profile(log_dir: str, runs: dict[str, dict]) -> dict[str, dict]:
    """One record per timed run in ``runs``: its seconds and fingerprint,
    and what its tagged jobs did, from the finished event log in
    ``log_dir`` (``perfbench.trace``)."""
    events, _scans = trace.read_event_log(trace.find_event_log(log_dir))
    out = {}
    for desc, run in runs.items():
        t = events.get(desc, {})
        out[desc] = {k: round(t.get(k, 0), 3) for k in _PROFILE_KEYS} | run
        out[desc].update((k, int(t.get(k, 0))) for k in ("jobs", "stages", "tasks"))
    return out


def build_detail(
    sf: float, timings: dict[str, dict[str, float]], skew_timings: dict[str, float],
    dfsio: dict, fingerprints: dict[str, str], prev_label: str | None, prev: dict,
    profile: dict[str, dict], prev_profile: dict[str, dict],
) -> dict:
    """The BENCH_DETAIL record: per-tier seconds and totals (``timings``
    keyed by tier prefix), fingerprints, and flags vs the archive ``prev``
    and the run profile ``prev_profile``."""
    prev_fp, prev_skew = prev.get("fingerprints") or {}, prev.get("skew_queries") or {}
    prev_w, w = (prev.get("dfsio") or {}).get("write_mb_s"), dfsio.get("write_mb_s")
    # reported, never divided into a ratio: the DFSIO write rate vs the
    # archive says how different the host was
    slow_write = round(prev_w / w, 3) if prev_w and w else None
    vs_prev: dict = {
        "prev_round": prev_label,
        "band_rounds": [],
        "host_slowdown": slow_write or 1.0,
        "host_slowdown_write": slow_write,
        "host_slowdown_cpu": None,
    }
    detail: dict = {"metric": "headline_queries_total", "unit": "sec", "sf": sf}
    for tier in TIERS:
        t = timings.get(tier.prefix, {})
        detail[tier.key("queries")] = t
        detail[tier.key("total")] = round(sum(v for v in t.values() if v >= 0), 3)
        vs_prev[tier.key("regressions")] = _regressions(
            t, prev.get(tier.key("queries")) or {}, fingerprints, prev_fp,
            profile, prev_profile, prev_label, tier.prefix,
        )
    vs_prev["skew_regressions"] = _regressions(
        skew_timings, prev_skew, fingerprints, prev_fp, profile, prev_profile, prev_label, "skew/"
    )
    # Full round-over-round ratios for the small skew tier (VERDICT r10
    # #3): record every raw ratio, not only the flags, so the archive
    # shows the comparison happened even in an all-green round.
    vs_prev["skew_ratios"] = {
        n: round(skew_timings[n] / prev_skew[n], 2)
        for n in sorted(skew_timings)
        if skew_timings[n] > 0 and prev_skew.get(n, 0) > 0
    }
    # Seconds × this host's DFSIO write MB/s (VERDICT r4 #6): invariant
    # to host speed to first order — r3 vs r4 raw headline moved
    # 83.3→103.3s while this stayed ~flat (11754 vs 11440).
    detail.update(
        scale_replicas=SCALE_REPLICAS,
        scale100_replicas=SCALE100_REPLICAS,
        tpch_replicas=TPCH_SCALE_REPLICAS,
        skew_queries=skew_timings,
        dfsio=dfsio,
        cpu={},
        norm_headline_x_write_mb_s=round(detail["value"] * w, 1) if w else None,
        norm_scale_x_write_mb_s=round(detail["scale_total"] * w, 1) if w else None,
        norm_headline_x_cpu_mrows_s=None,
        norm_scale_x_cpu_mrows_s=None,
        fingerprints=fingerprints,
        vs_prev=vs_prev,
    )
    return detail


def stdout_line(detail: dict, cpus: int, bounded: bool) -> str:
    """The ONE JSON stdout line: per-tier totals, the first flags
    (dropped past 1,700 chars) and as many INLINE_QUERIES timings as fit
    under 1,900 chars of the 2,000-char stdout tail that gets captured."""
    vs = detail["vs_prev"]
    tiers = {t.prefix: detail[t.key("queries")] for t in TIERS}
    n_ok = {p: sum(1 for v in q.values() if v >= 0) for p, q in tiers.items()}
    flags = {t.prefix + k: v for t in TIERS for k, v in vs[t.key("regressions")].items()}
    flags.update(("skew/" + k, v) for k, v in vs["skew_regressions"].items())
    compact = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "n_queries": n_ok[""],
        "n_errors": len(tiers[""]) - n_ok[""],
        "scale_total": detail["scale_total"],
        "scale_replicas": SCALE_REPLICAS,
        "n_scale": n_ok["scale/"],
        "scale100_total": detail["scale100_total"],
        "n_scale100": n_ok["scale100/"],
        "tpch_total": detail["tpch_total"],
        "n_tpch": n_ok["tpch/"],
        "dfsio": detail["dfsio"],
        "cpu": {},
        "n_cpu_snapshots": 0,
        "norm_headline": detail["norm_headline_x_write_mb_s"],
        "norm_scale": detail["norm_scale_x_write_mb_s"],
        "norm_headline_cpu": None,
        "vs_round": vs["prev_round"],
        "host_slowdown": vs["host_slowdown"],
        # a bounded run is a core-count scaling measurement: its flags
        # stay in the detail record, off the line
        "regressions": {} if bounded else {
            k: {"norm": v["norm"], "fired": v["fired"], "base": v["base"]}
            for k, v in list(flags.items())[:8]
        },
        "queries": {"detail": "BENCH_DETAIL.json"},
        "cpus": cpus,
    }
    if bounded:
        compact["bounded"] = True
    line = json.dumps(compact)
    if len(line) > 1700:  # leave inline-query room inside the tail capture
        compact.pop("regressions", None)
        line = json.dumps(compact)
    for pref, name in INLINE_QUERIES:
        v = tiers[pref].get(name)
        if not isinstance(v, (int, float)) or v <= 0:
            continue
        compact["queries"][pref + name] = round(v, 2)
        new_line = json.dumps(compact)
        if len(new_line) > 1900:
            del compact["queries"][pref + name]
            break
        line = new_line
    return line


def main() -> None:
    from hadoop_common_spark.queries import load_all
    from hadoop_common_spark.session import get_spark
    from hadoop_common_spark.tables import DEFAULT_SF_DIR, register_views

    sf_dir = DEFAULT_SF_DIR  # $SPARK_GRAFT_SF_DIR, else the sf0.1 testdata
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # Bounded mode (VERDICT r12 #2/#5): scaling runs re-run the bench at a
    # REDUCED core count to measure per-query scaling, and the full run
    # blew its budget at 8 cores (BENCH_r12_c8.json: rc 124). At <=8
    # cores the run drops what a scaling measurement doesn't need: the
    # 100x tier, the skew fixture and the keep-min repeats, and its
    # stdout line carries no flags. Every run, bounded or not, is
    # flagged against the previous run at its core count (_baseline).
    bounded = cpus <= 8

    # the event log is where every run's work counters come from
    log_dir = tempfile.mkdtemp(prefix="hcs_bench_eventlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([*trace.event_log_conf(log_dir), "pyspark-shell"])
    registry = load_all()
    spark = get_spark("bench")

    # Untimed warmup: JVM/codegen/file-index costs land here, not on the
    # first measured query (a cluster amortizes them over hours).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()

    io_rows = int(2_000_000 * max(sf, 0.001) / 0.1)
    fns = {name: qd.fn for name, qd in registry.items()}
    fns["terasort_equivalent"] = lambda s, _dir: terasort_equivalent(s, io_rows)
    # per tier prefix: {query: seconds} and the tier's data dir
    timings: dict[str, dict[str, float]] = {}
    dirs: dict[str, str] = {}
    runs: dict[str, dict] = {}
    dfsio: dict = {}
    for tier in TIERS:
        if bounded and tier.skip_bounded:
            continue
        out = timings[tier.prefix] = {}
        try:
            data_dir = dirs[tier.prefix] = tier.build(spark, sf_dir)
            # the tier's views, registered here so that their jobs are
            # not charged to the tier's first timed row
            tabs = register_views(spark, data_dir)
            for t in tier.warm:
                _run_noop(tabs[t])
            if tier.check:
                tier.check(spark, registry, data_dir)
            for name in (n for n in tier.queries if n in fns):
                reps = 1 if bounded else tier.repeats
                out[name] = _time_query(spark, fns[name], data_dir, reps, tier.prefix + name, runs)
        except Exception as e:
            print(f"# bench error {tier.prefix or 'headline/'} tier: {type(e).__name__}: {e}", file=sys.stderr)
        if not tier.prefix:
            # TestDFSIO-equivalent, reported (and as host_slowdown vs the
            # archive), never divided into the timings. It runs right
            # after the headline tier, where every archived round ran it.
            try:
                dfsio = bench_dfsio(spark, n_rows=io_rows)
            except Exception as e:
                print(f"# bench error dfsio: {type(e).__name__}: {e}", file=sys.stderr)

    # ---- Zipf-skew stress fixture (VERDICT r7 #3): run at the deepest
    # built tier (skew only bites when the hot key's volume dwarfs the
    # per-core throughput of everything else — measured invisible at 10x,
    # decisive at 100x). Fixture thunks, not registry queries: a scaling
    # run needs no row for them, so bounded mode skips it.
    skew_timings: dict[str, float] = {}
    skew_base = dirs.get("scale100/") or dirs.get("scale/")
    if skew_base is not None and not bounded:
        try:
            skew_timings = bench_skew(spark, skew_base, runs)
        except Exception as e:
            print(f"# bench error skew tier: {type(e).__name__}: {e}", file=sys.stderr)

    spark.stop()  # finishes the event log
    profile = read_profile(log_dir, runs)
    shutil.rmtree(log_dir, ignore_errors=True)
    fingerprints = {k.rpartition("#")[0]: r["fingerprint"] for k, r in runs.items() if r["fingerprint"]}
    prev_label, prev, prev_runs = _baseline(sf, cpus)
    detail = build_detail(
        sf, timings, skew_timings, dfsio, fingerprints, prev_label, prev, profile, prev_runs
    )
    # the next run at this core count compares with these two files;
    # BENCH_DETAIL.json is the copy the stdout line names
    records = {
        f"BENCH_DETAIL_c{cpus}.json": detail,
        "BENCH_DETAIL.json": detail,
        f"PROFILE_c{cpus}.json": {"cpus": cpus, "sf": sf, "runs": profile},
    }
    for fname, record in records.items():
        with open(os.path.join(REPO_DIR, fname), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    print(stdout_line(detail, cpus, bounded))


if __name__ == "__main__":
    main()
