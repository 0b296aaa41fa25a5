"""Similarity-search queries (LLM-pipeline extension) over `embeddings`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.operators.ivf import ivf_index, ivf_search, kmeans_fit
from hadoop_common_spark.operators.similarity import (
    cosine,
    cosine_sql,
    cosine_topk_bruteforce,
    sign_lsh_band_keys_sql,
    sign_lsh_band_keys_udf,
    sign_lsh_bucket_sql,
    sign_lsh_bucket_udf,
)
from hadoop_common_spark.queries import query

DIM = 64
PLANES = 8

_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
d AS (
  SELECT vec_id AS neighbor_id, embedding AS d_vec FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         {cosine_sql('q_vec', 'd_vec')} AS cos
  FROM d, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("similarity_cosine_topk", oracle=_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: the exact ANN
    baseline. Queries broadcast; cosine via exact decimal dot products so
    ranking is deterministic across engines/partitionings."""
    emb = spark.table("embeddings")
    return cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


_BUCKET_ORACLE = f"""
SELECT bucket, COUNT(*) AS n_vectors
FROM (
  SELECT {sign_lsh_bucket_sql('embedding', DIM, PLANES)} AS bucket
  FROM embeddings
)
GROUP BY bucket
"""


@query("similarity_lsh_buckets", oracle=_BUCKET_ORACLE)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (random-hyperplane ANN blocking): bucket id =
    sign pattern of 8 md5-derived hyperplane projections. At scale, ANN
    search joins query buckets to data buckets instead of cross-joining
    everything — this query materializes the bucket histogram."""
    emb = spark.table("embeddings")
    bucket = sign_lsh_bucket_udf(DIM, PLANES)  # Arrow twin, identical keys
    return (
        emb.select(bucket(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


@query("similarity_ivf_topk", oracle=_TOPK_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (k-means cells + inverted-file join), run with
    exhaustive probing (nprobe == nlist) so the result is provably the
    brute-force top-k — the same oracle checks the whole
    train/index/search pipeline. The pruned configuration (nprobe <
    nlist, the actual scale path: candidate join touches ~nprobe/nlist
    of the index) is recall-property-tested in tests/."""
    emb = spark.table("embeddings")
    cents = kmeans_fit(emb, "embedding", "vec_id", nlist=8, iters=2)
    idx = ivf_index(emb, cents, "embedding")
    return ivf_search(
        emb.filter(F.col("vec_id") < 10), idx, cents, "vec_id", "embedding", k=5, nprobe=8
    )


# banded sign-LSH blocking (16 bands × 4 planes): ~91% of true ≥0.35
# pairs are candidates while candidate volume stays ~4% of the label-only
# all-pairs join at sf0.01 — and the ratio IMPROVES with scale because
# band-bucket occupancy, not corpus size², bounds the join. The oracle
# recomputes the identical banded candidate set, so the check is exact.
_ND_BANDS, _ND_PPB = 16, 4

_NEARDUP_ORACLE = f"""
WITH nb AS (
  SELECT label, vec_id,
         unnest({{bands}}) AS bk
  FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM nb a JOIN nb b ON a.label = b.label AND a.bk = b.bk AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b, {cosine_sql('ea.embedding', 'eb.embedding')} AS cos
  FROM cand
  JOIN embeddings ea ON cand.id_a = ea.vec_id
  JOIN embeddings eb ON cand.id_b = eb.vec_id
) WHERE cos >= 0.35
"""


@query(
    "dedup_embedding_cosine",
    oracle=_NEARDUP_ORACLE.format(
        bands=sign_lsh_band_keys_sql("embedding", DIM, _ND_BANDS, _ND_PPB)
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded sign-LSH candidate
    blocking (AND-within-band / OR-across-bands, the hyperplane analog of
    MinHash LSH bands) → exact-cosine verify ≥ 0.35 on candidates only.
    Blocking keys are (label, band_key), never label alone — the label
    has ~10 distinct values, so a label-only self-join is all-pairs
    O((N/10)²), a cartesian bomb at 100×; band-bucket occupancy is the
    skew/volume knob instead. Verify joins candidates back to a
    norms-precomputed side so per-pair work is one dot product."""
    from hadoop_common_spark.operators.similarity import dot_exact

    emb = spark.table("embeddings")
    # the banded projection is ~bands×planes folds per ROW — spread it
    # across all cores even when the scan yields few input splits (one
    # small parquet file locally; at cluster scale the scan already has
    # many splits and this repartition is a cheap narrow-ish shuffle of
    # raw vectors relative to the projection compute it balances)
    par = spark.sparkContext.defaultParallelism
    # Arrow-vectorized band keys (same keys/oracle as the built-in HOF
    # form — see sign_lsh_band_keys_udf for why this is the 100 TB path);
    # repartition spreads the per-row projection across all cores even
    # when the local scan yields one split.
    keys_udf = sign_lsh_band_keys_udf(DIM, _ND_BANDS, _ND_PPB)
    banded = (
        emb.repartition(par)
        .select(
            "label",
            "vec_id",
            F.explode(keys_udf("embedding")).alias("bk"),
        )
        # materialize the band keys ONCE — both sides of the candidate
        # self-join read them; without this the projection (the expensive
        # narrow stage) runs twice (same measured win as the MinHash
        # sketch tables, operators/dedup.py:325)
        .localCheckpoint(eager=False)
    )
    # candidate generation through the occupancy-capped self-join helper;
    # cap=None here keeps the oracle's exact semantics — at production
    # density pass max_bucket_size (operators/skew.capped_self_join_pairs:
    # one hot bucket otherwise turns this join quadratic, measured as
    # 20-min straggler tasks at 100x replica density)
    from hadoop_common_spark.operators.skew import capped_self_join_pairs

    cand = capped_self_join_pairs(
        banded, ["label", "bk"], "vec_id", max_bucket_size=None
    )
    # Verify: cosine_verify_pairs picks the DistributedCache broadcast
    # kernel while the vector table is side-data sized (Arrow moves
    # 16-byte id pairs, not two 512-byte arrays per pair — measured
    # 13 GB → 0.2 GB at 12.8M candidates) and falls back to the
    # broadcast-join + Arrow dot kernel past the gate. Either path
    # produces the oracle's exact doubles (same cumsum left fold).
    from hadoop_common_spark.operators.similarity import cosine_verify_pairs

    return cosine_verify_pairs(cand, emb, "vec_id", "embedding", threshold=0.35)


_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE nb AS (
  SELECT label, vec_id, embedding,
         {sign_lsh_bucket_sql('embedding', DIM, PLANES)} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.2
),
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lbl AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u)
SELECT e.label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN l.comp IS NULL OR l.comp = e.vec_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.vec_id
GROUP BY e.label
"""


@query("corpus_semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def corpus_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup END-TO-END in one lazy plan:
    sign-LSH bucket (candidate blocking — no all-pairs at any scale) →
    within-bucket exact cosine ≥ 0.2 → connected components (hash-min +
    pointer jumping) → keep the min-id representative per component →
    per-label survivor counts. The published pipeline this models
    clusters embeddings then prunes within-cluster near-duplicates;
    buckets are the deterministic, oracle-checkable clustering tier
    (k-means is the recall-tuned alternative — see similarity_ivf_topk).
    Scale: pair generation is bounded by bucket occupancy (tune PLANES),
    components are O(log n) rounds, everything else is one shuffle."""
    from hadoop_common_spark.operators.graph import connected_components_blocked
    from hadoop_common_spark.operators.similarity import cosine_verify_pairs

    emb = spark.table("embeddings")
    bucketed = emb.select(
        "vec_id", sign_lsh_bucket_udf(DIM, PLANES)(F.col("embedding")).alias("bucket")
    )
    a = bucketed.select("bucket", F.col("vec_id").alias("id_a"))
    b = bucketed.select("bucket", F.col("vec_id").alias("id_b"))
    cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    # candidate verify: broadcast kernel / join fallback, shared helper
    pairs = cosine_verify_pairs(cand, emb, "vec_id", "embedding", threshold=0.2).select(
        "id_a", "id_b"
    )
    # single-bucket LSH means the pair graph is a disjoint union of
    # per-bucket subgraphs — blocked CC (one shuffle + per-block
    # union-find) replaces the O(log n)-round iterative loop (r5;
    # measured ~2x on the 10x tier, equivalence pinned in pytest)
    pairs_b = pairs.join(
        bucketed.select(F.col("vec_id").alias("id_a"), "bucket"), "id_a"
    )
    cc = connected_components_blocked(pairs_b, "id_a", "id_b", "bucket")
    kept = F.coalesce(F.col("component"), F.col("vec_id")) == F.col("vec_id")
    return (
        emb.select("label", "vec_id")
        .join(cc, F.col("vec_id") == F.col("node"), "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        )
    )


def _pq_sqdist_sql(a: str, b: str) -> str:
    # delegate to the operator module so the oracle fragment and the
    # Spark-side _sq_dist stay in one place
    from hadoop_common_spark.operators.pq import _sq_dist_sql

    return _sq_dist_sql(a, b)


_PQ_M, _PQ_DSUB, _PQ_KSUB = 4, 16, 16

# samp -> cb (md5-sampled codebooks), sv -> enc (nearest-code encoding),
# dtab (per-query distance table): the ADC pipeline both PQ oracles price
_PQ_CTES = f"""WITH samp AS (
  SELECT embedding,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
  FROM embeddings
  QUALIFY code < {_PQ_KSUB}
),
subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub),
cb AS (
  SELECT subs.sub, samp.code,
         samp.embedding[subs.sub*{_PQ_DSUB}+1 : (subs.sub+1)*{_PQ_DSUB}] AS centroid
  FROM samp, subs
),
sv AS (
  SELECT e.vec_id, subs.sub,
         e.embedding[subs.sub*{_PQ_DSUB}+1 : (subs.sub+1)*{_PQ_DSUB}] AS svec
  FROM embeddings e, subs
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY sv.vec_id, sv.sub
             ORDER BY {_pq_sqdist_sql('sv.svec', 'cb.centroid')}, cb.code
           ) AS rk
    FROM sv JOIN cb ON sv.sub = cb.sub
  ) WHERE rk = 1
),
dtab AS (
  SELECT q.vec_id AS query_id, cb.sub, cb.code,
         {_pq_sqdist_sql(f"q.embedding[cb.sub*{_PQ_DSUB}+1 : (cb.sub+1)*{_PQ_DSUB}]", "cb.centroid")} AS d
  FROM embeddings q, cb
  WHERE q.vec_id < 10
),
"""

_PQ_ORACLE = f"""
{_PQ_CTES}adc AS (
  SELECT dt.query_id, en.vec_id AS neighbor_id,
         list_reduce(array_agg(dt.d ORDER BY en.sub), (x, y) -> x + y) AS adc
  FROM enc en JOIN dtab dt ON dt.sub = en.sub AND dt.code = en.code
  WHERE en.vec_id <> dt.query_id
  GROUP BY dt.query_id, en.vec_id
)
SELECT query_id, neighbor_id, rank, adc FROM (
  SELECT query_id, neighbor_id, adc,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
"""


def _pq_codes(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Spark side of _PQ_CTES' cb and enc: md5-sampled codebooks
    (iters=0) and every vector's PQ codes."""
    from hadoop_common_spark.operators.pq import pq_codebooks, pq_encode

    cb = pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, ksub=_PQ_KSUB, iters=0
    )
    return cb, pq_encode(emb, cb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)


@query("similarity_pq_topk", oracle=_PQ_ORACLE)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (FAISS-lineage PQ/ADC): 64-dim vectors
    split into 4 subspaces x 16-centroid codebooks, stored as 4 small
    codes each; queries precompute an m*ksub distance table and every
    candidate costs 4 lookups. Codebooks here are the deterministic
    md5-sampled init (iters=0), which makes the ENTIRE pipeline — sample
    -> codebooks -> encode -> ADC top-5 — a pure function of the data the
    DuckDB oracle recomputes end-to-end; Lloyd-refined codebooks keep the
    same contracts and are property-tested (exact reconstruction at
    ksub >= #rows, distortion non-increasing in iters). Zero data
    shuffle until the final per-query top-k window."""
    from hadoop_common_spark.operators.pq import pq_adc_search

    emb = spark.table("embeddings")
    cb, codes = _pq_codes(emb)
    return pq_adc_search(
        emb.filter(F.col("vec_id") < 10),
        codes,
        cb,
        "vec_id",
        "embedding",
        k=5,
        m=_PQ_M,
        dsub=_PQ_DSUB,
        ksub=_PQ_KSUB,
    )


@query("similarity_ivfpq_topk", oracle=_PQ_ORACLE)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the composed scale architecture (FAISS IVFADC lineage):
    k-means cells prune candidates, PQ codes price each candidate at m
    lookups. Run with exhaustive probing (nprobe == nlist), the pruning
    admits every vector exactly once, so the result is provably equal to
    pq_adc_search — the SAME end-to-end SQL oracle checks the composed
    pipeline (cells change only which rows are scored, never their ADC
    distance). The pruned configuration is recall-property-tested in
    tests/."""
    from hadoop_common_spark.operators.ivf import ivf_index, kmeans_fit
    from hadoop_common_spark.operators.pq import ivfpq_search

    emb = spark.table("embeddings")
    cents = kmeans_fit(emb, "embedding", "vec_id", nlist=8, iters=2)
    cells = ivf_index(emb, cents, "embedding").select("vec_id", "cell")
    cb, codes = _pq_codes(emb)
    index_codes = cells.join(codes, "vec_id")
    return ivfpq_search(
        emb.filter(F.col("vec_id") < 10),
        index_codes,
        cents,
        cb,
        "vec_id",
        "embedding",
        k=5,
        nprobe=8,
        m=_PQ_M,
        dsub=_PQ_DSUB,
        ksub=_PQ_KSUB,
    )


_INT8_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) AS maxabs
  FROM v
),
q AS (
  SELECT vec_id, e, maxabs,
         CASE WHEN maxabs = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT))
         END AS codes
  FROM s
)
SELECT vec_id, maxabs,
       CAST(list_reduce(codes, (a, b) -> a + b) AS BIGINT) AS sum_q,
       CASE WHEN maxabs = 0 THEN 0.0
            ELSE list_max(list_transform(generate_series(1, len(e)),
                 i -> abs(codes[i] / (127.0 / maxabs) - e[i])))
       END AS max_err
FROM q
"""


@query("embedding_quantize_int8", oracle=_INT8_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (the storage/
    bandwidth-compression step of large-scale vector pipelines): per-
    vector scale = 127/max|x|, code = floor(x*scale + 0.5) — floor, not
    round(), because banker's-rounding ties differ across engines while
    floor(+0.5) is IEEE-exact everywhere. Outputs the per-vector scale
    basis, the exact integer code sum (an order-independent checksum of
    the whole code array), and the max dequantization error (max is
    order-independent too — deliberately no float SUM across elements).
    Pure narrow map at scan speed; zero shuffles."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = spark.table("embeddings").select("vec_id", vd.alias("e"))
    maxabs = F.array_max(F.transform(F.col("e"), F.abs))
    withs = emb.withColumn("maxabs", maxabs)
    scale = F.lit(127.0) / F.col("maxabs")
    codes = F.when(
        F.col("maxabs") == 0,
        F.transform(F.col("e"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(F.col("e"), lambda x: F.floor(x * scale + F.lit(0.5)))
    )
    qq = withs.withColumn("codes", codes)
    errs = F.zip_with(
        F.col("codes"), F.col("e"), lambda c, x: F.abs(c / scale - x)
    )
    return qq.select(
        "vec_id",
        "maxabs",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("sum_q"),
        F.when(F.col("maxabs") == 0, F.lit(0.0))
        .otherwise(F.array_max(errs))
        .alias("max_err"),
    )


# ---- multiprobe LSH ANN (tier between plain LSH and brute force) --------
_MP_ORACLE = f"""
WITH d AS (
  SELECT vec_id AS neighbor_id, embedding AS d_vec,
         {sign_lsh_bucket_sql('embedding', DIM, PLANES)} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec,
         {sign_lsh_bucket_sql('embedding', DIM, PLANES)} AS qb
  FROM embeddings WHERE vec_id < 10
),
probes AS (
  SELECT query_id, q_vec, unnest(
    [qb, {', '.join(f'xor(qb, {1 << p})' for p in range(PLANES))}]
  ) AS bucket
  FROM q
),
cand AS (
  -- no DISTINCT needed: a data vector has exactly ONE bucket and the 9
  -- probe keys per query are pairwise distinct, so each (query,
  -- neighbor) matches at most one probe row
  SELECT p.query_id, p.q_vec, d.neighbor_id, d.d_vec
  FROM probes p JOIN d USING (bucket)
  WHERE d.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id,
         {cosine_sql('q_vec', 'd_vec')} AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY {cosine_sql('q_vec', 'd_vec')} DESC, neighbor_id ASC
         ) AS rank
  FROM cand
) WHERE rank <= 5
"""


@query("similarity_lsh_multiprobe_topk", oracle=_MP_ORACLE)
def similarity_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-LSH ANN: each query probes its own bucket PLUS the
    8 single-bit-flip neighbors (the buckets a near-boundary projection
    could have landed in) — the standard recall knob between plain LSH
    (1 probe, cheapest) and brute force (every bucket). Probes-per-query
    is a constant (1 + planes), so candidate volume stays ~9 bucket
    occupancies per query at ANY corpus size; exact cosine re-ranks the
    candidates. One bucket equi-join; the probe side is tiny and
    broadcasts."""
    from hadoop_common_spark.operators.similarity import dot_exact
    from pyspark.sql import Window

    emb = spark.table("embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        vd.alias("d_vec"),
        F.sqrt(dot_exact(vd, vd)).alias("d_norm"),
        sign_lsh_bucket_udf(DIM, PLANES)(F.col("embedding")).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        vd.alias("q_vec"),
        F.sqrt(dot_exact(vd, vd)).alias("q_norm"),
        sign_lsh_bucket_udf(DIM, PLANES)(F.col("embedding")).alias("qb"),
    )
    probe_list = F.array(
        F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(PLANES)]
    )
    probes = q.select(
        "query_id", "q_vec", "q_norm", F.explode(probe_list).alias("bucket")
    )
    # no distinct: one bucket per data vector x pairwise-distinct probe
    # keys per query means each (query, neighbor) matches at most once —
    # a dedup shuffle here would move two 64-double arrays per candidate
    # for nothing
    cand = (
        d.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "q_norm", "neighbor_id", "d_vec", "d_norm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn(
            "cos",
            dot_exact(F.col("q_vec"), F.col("d_vec")) / (F.col("q_norm") * F.col("d_norm")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# ---- ANN recall evaluation (r4) ------------------------------------------
# The tuning loop every ANN deployment runs: measure bucketed-search
# recall against brute-force ground truth. Kept fully relational and
# integer-exact (hit counts, exact cosine ties broken by neighbor id) so
# the evaluation itself is oracle-checkable — sign_lsh_band_recall gives
# the closed-form PREDICTION, this query measures the actual.

# Shared by every recall eval: hits of the approx top-5 among the exact
# top-5 `gt`, per query.
_RECALL_TAIL = """SELECT gt.query_id,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(5.0 AS DOUBLE) AS recall
FROM gt LEFT JOIN approx a
  ON gt.query_id = a.query_id AND gt.neighbor_id = a.neighbor_id
GROUP BY gt.query_id
"""

# The exact cosine top-5 of the first 10 vectors (q, d, gt).
_COSINE_GT_CTES = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
d AS (
  SELECT vec_id AS neighbor_id, embedding AS d_vec FROM embeddings
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {cosine_sql('q_vec', 'd_vec')} DESC, neighbor_id ASC) AS rank
    FROM d, q WHERE neighbor_id <> query_id
  ) WHERE rank <= 5
),
"""

_RECALL_ORACLE = f"""
{_COSINE_GT_CTES}bq AS (
  SELECT query_id, q_vec, {sign_lsh_bucket_sql('q_vec', DIM, PLANES)} AS bucket FROM q
),
bd AS (
  SELECT neighbor_id, d_vec, {sign_lsh_bucket_sql('d_vec', DIM, PLANES)} AS bucket FROM d
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT bq.query_id, bd.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY bq.query_id
                              ORDER BY {cosine_sql('bq.q_vec', 'bd.d_vec')} DESC, bd.neighbor_id ASC) AS rank
    FROM bq JOIN bd USING (bucket)
    WHERE bd.neighbor_id <> bq.query_id
  ) WHERE rank <= 5
)
{_RECALL_TAIL}"""


def _recall_at_5(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Spark side of _RECALL_TAIL: per query, how many of the exact top-5
    (`truth`) the approx side flagged `hit`, and that count over 5."""
    hit = F.coalesce(F.col("hit"), F.lit(0))
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            (F.sum(hit).cast("double") / F.lit(5.0).cast("double")).alias("recall"),
        )
    )


@query("similarity_lsh_recall_eval", oracle=_RECALL_ORACLE)
def similarity_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of single-bucket sign-LSH search vs brute-force
    ground truth, per query vector — the evaluation operator that closes
    the ANN tuning loop (operators/similarity.sign_lsh_band_recall is
    the closed-form twin). Ground truth reuses the exact
    cosine_topk_bruteforce plan; the approx side joins on the LSH bucket
    (the scale path: bucket equi-join, no cross product) and ranks the
    SAME exact cosine, so a hit/miss is purely a bucketing outcome, and
    the output is integer-exact."""
    emb = spark.table("embeddings")
    truth = cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")

    bucket = sign_lsh_bucket_udf(DIM, PLANES)
    b = emb.select(
        F.col("vec_id"), F.col("embedding"), bucket(F.col("embedding")).alias("bucket")
    )
    q = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        "bucket",
    )
    from pyspark.sql import Window

    cand = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    approx = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return _recall_at_5(truth, approx)


# PQ recall eval (r6): the quantization-loss twin of
# similarity_lsh_recall_eval — completes the measured-recall family
# (LSH buckets, MinHash bands, PQ codes). Ground truth is EXACT squared-L2
# top-5 (PQ approximates L2, so L2 — not cosine — is the right yardstick);
# the approx side is the ADC pipeline similarity_pq_topk runs. A miss here
# is purely quantization distortion (same candidate set: ADC scores every
# non-query vector), which is exactly the number an m/dsub/ksub tuning
# loop needs.
_PQ_RECALL_ORACLE = f"""
{_PQ_CTES}approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, adc,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rank
    FROM (
      SELECT dt.query_id, en.vec_id AS neighbor_id,
             list_reduce(array_agg(dt.d ORDER BY en.sub), (x, y) -> x + y) AS adc
      FROM enc en JOIN dtab dt ON dt.sub = en.sub AND dt.code = en.code
      WHERE en.vec_id <> dt.query_id
      GROUP BY dt.query_id, en.vec_id
    )
  ) WHERE rank <= 5
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_pq_sqdist_sql('q.embedding', 'd.embedding')} ASC,
                                       d.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings d ON d.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rank <= 5
)
{_RECALL_TAIL}"""


@query("similarity_pq_recall_eval", oracle=_PQ_RECALL_ORACLE)
def similarity_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of PQ/ADC search vs exact squared-L2 ground
    truth, per query — quantization distortion isolated (ADC scores the
    same candidate universe as brute force, so every miss is a coding
    error, not a blocking outcome). The approx side reuses the
    similarity_pq_topk pipeline verbatim; ground truth is the exact
    _sq_dist fold ranked with the same deterministic tiebreak. Scale:
    ground truth is the brute-force tier (run it on a query SAMPLE at
    production size); the ADC side stays m-lookups-per-candidate."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.pq import _sq_dist, pq_adc_search

    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb, codes = _pq_codes(emb)
    approx = pq_adc_search(
        queries, codes, cb, "vec_id", "embedding",
        k=5, m=_PQ_M, dsub=_PQ_DSUB, ksub=_PQ_KSUB,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("d_vec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("sqdist"), F.asc("neighbor_id")
    )
    truth = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sqdist", _sq_dist(F.col("q_vec"), F.col("d_vec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    return _recall_at_5(truth, approx)


# Matryoshka / truncated-dimension recall eval (r6): how much recall@5
# survives searching on only the first PREFIX_DIM coordinates — the
# index-shrinking question MRL-style embeddings ask (store/search the
# prefix, re-rank with the full vector). Fourth member of the measured-
# recall family (LSH buckets, MinHash bands, PQ codes, now dim prefixes).
_MATRYOSHKA_DIM = 16

_MATRYOSHKA_ORACLE = f"""
{_COSINE_GT_CTES}approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {cosine_sql(f'q_vec[1:{_MATRYOSHKA_DIM}]', f'd_vec[1:{_MATRYOSHKA_DIM}]')} DESC,
                                       neighbor_id ASC) AS rank
    FROM d, q WHERE neighbor_id <> query_id
  ) WHERE rank <= 5
)
{_RECALL_TAIL}"""


@query("similarity_matryoshka_recall_eval", oracle=_MATRYOSHKA_ORACLE)
def similarity_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of TRUNCATED-dimension cosine search (first 16
    of 64 coordinates) vs full-dimension ground truth, per query — the
    matryoshka-embedding question: can the index store 4× less and
    re-rank later? Both sides are the same brute-force plan (broadcast
    bounded query set); the only difference is the slice, so the recall
    number isolates dimensionality loss exactly. Scale: at production
    size the prefix side is the ANN index (slice BEFORE indexing —
    storage and bandwidth shrink 4×); the eval runs on a query sample."""
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")
    sliced = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MATRYOSHKA_DIM).alias("embedding")
    )
    approx = cosine_topk_bruteforce(
        sliced, sliced.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return _recall_at_5(truth, approx)


# kNN label classification eval — the supervised member of the eval
# family (LSH/MinHash/PQ/Matryoshka measure RECALL of the index; this
# measures end-task ACCURACY of the labels the neighbors imply): 5-NN
# majority vote over exact squared-L2, ties to the smaller label, on a
# held-out probe set. The "are these embeddings any good for
# classification" smoke a training pipeline runs after an embedding
# refresh.
def _knn_label_oracle() -> str:
    from hadoop_common_spark.operators.pq import _sq_dist_sql

    return f"""
WITH pr AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
tr AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 50),
top AS (
  SELECT qid, true_label, nlabel FROM (
    SELECT pr.vec_id AS qid, pr.label AS true_label, tr.label AS nlabel,
           ROW_NUMBER() OVER (
             PARTITION BY pr.vec_id
             ORDER BY {_sq_dist_sql('pr.embedding', 'tr.embedding')}, tr.vec_id
           ) AS rk
    FROM pr, tr
  ) WHERE rk <= 5
),
votes AS (
  SELECT qid, true_label, nlabel, COUNT(*) AS c
  FROM top GROUP BY qid, true_label, nlabel
)
SELECT vec_id, true_label, pred_label, correct FROM (
  SELECT qid AS vec_id, true_label, nlabel AS pred_label,
         CAST(nlabel = true_label AS INT) AS correct,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel ASC) AS vr
  FROM votes
) WHERE vr = 1
"""


@query("similarity_knn_label_eval", oracle=_knn_label_oracle())
def similarity_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe 5-NN majority-vote label vs true label (probe set =
    vec_id < 50, train = the rest; exact squared-L2, deterministic
    (distance, id) tiebreak; vote ties to the smaller label). Scale:
    the probe set is the bounded broadcast side of the brute-force leg
    (the whitelisted eval shape — run on a probe SAMPLE at production
    size; the candidate-generation tiers are the recall-eval queries);
    votes and argmax are per-probe aggregates over 5 rows each."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.pq import _sq_dist

    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("true_label"),
    )
    train = emb.filter(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("d_vec"),
        F.col("label").alias("nlabel"),
    )
    w = Window.partitionBy("qid").orderBy(F.asc("sqdist"), F.asc("nid"))
    top = (
        train.crossJoin(F.broadcast(probes))
        .withColumn("sqdist", _sq_dist(F.col("q_vec"), F.col("d_vec")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    votes = top.groupBy("qid", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nlabel"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            "true_label",
            F.col("nlabel").alias("pred_label"),
            (F.col("nlabel") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


# One integer-exact Lloyd iteration — the hard-correctness twin of
# ivf.kmeans_fit's float loop (which is approximate by contract, recall-
# tested, never hash-compared). Training a k-means index IS a Spark
# workload (the IVF coarse quantizer, sharding embeddings by semantic
# cell); this query pins one full assign+update step bit-identically
# across engines by snapping every cross-row float accumulation to
# integer micro-units BEFORE it is summed.
_KMEANS_K = 8


def _kmeans_step_oracle() -> str:
    from hadoop_common_spark.operators.pq import _sq_dist_sql

    d = _sq_dist_sql("e.embedding", "s.cvec")
    return f"""
WITH seeds AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {_KMEANS_K}
),
assigned AS (
  SELECT vec_id, embedding, cid, d FROM (
    SELECT e.vec_id, e.embedding, s.cid, {d} AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d}, s.cid) AS rk
    FROM embeddings e, seeds s
  ) WHERE rk = 1
),
counts AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CAST(FLOOR(d * 1000000.0) AS BIGINT)) AS BIGINT) AS inertia_micro
  FROM assigned GROUP BY cid
),
sums AS (
  SELECT cid, u.i AS dim,
         CAST(SUM(CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS sm
  FROM assigned, UNNEST(generate_series(1, len(embedding))) AS u(i)
  GROUP BY cid, u.i
),
means AS (
  SELECT s.cid, s.dim,
         CAST(FLOOR(CAST(s.sm AS DOUBLE) / CAST(c.n_members AS DOUBLE))
              AS BIGINT) AS mean_micro
  FROM sums s JOIN counts c ON s.cid = c.cid
),
norms AS (
  SELECT cid, CAST(SUM(mean_micro * mean_micro) AS BIGINT) AS centroid_norm2
  FROM means GROUP BY cid
)
SELECT c.cid AS cluster_id, c.n_members, c.inertia_micro, n.centroid_norm2
FROM counts c JOIN norms n ON c.cid = n.cid
"""


@query("embedding_kmeans_step", oracle=_kmeans_step_oracle())
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration, integer-exact: assign every vector to its
    nearest of K=8 deterministic seed centroids (the embeddings of
    vec_id 0..7; exact squared-L2, ties to the smaller centroid id),
    then report per cluster the member count, the inertia (sum of
    per-row distances snapped to integer micro-units BEFORE summing —
    no cross-row float accumulation anywhere), and the updated
    centroid's squared norm in micro^2 units (per-dim mean = exact
    BIGINT sum floor-divided by the member count, identical IEEE ops on
    both engines). Scale: assignment is MAP-SIDE ONLY — the K seed
    vectors ride one broadcast row and argmin is an array_min over a
    per-row struct array, so the only shuffles are the two partial-
    aggregated groupBys ((cluster) and (cluster, dim)); dim fan-out is
    64× but every post-explode row is 3 integers. This is the step
    ivf.kmeans_fit iterates (operators/ivf.py:60) — kept exact here so
    the training step itself has a driver-checkable oracle."""
    from hadoop_common_spark.operators.pq import _sq_dist

    emb = spark.table("embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < _KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
            ).alias("_seeds")
        )
    )
    dists = F.transform(
        F.col("_seeds"),
        lambda s: F.struct(
            _sq_dist(F.col("embedding"), s["cvec"]).alias("d"),
            s["cid"].alias("cid"),
        ),
    )
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .withColumn("_best", F.array_min(dists))
        .select(
            "vec_id",
            "embedding",
            F.col("_best.cid").alias("cid"),
            F.col("_best.d").alias("d"),
        )
    )
    counts = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.floor(F.col("d") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("inertia_micro"),
    )
    sums = (
        assigned.select(
            "cid", F.posexplode(F.col("embedding")).alias("dim0", "x")
        )
        .groupBy("cid", "dim0")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * 1000000.0).cast("bigint"))
            .cast("bigint")
            .alias("sm")
        )
    )
    means = sums.join(counts.select("cid", "n_members"), "cid").select(
        "cid",
        F.floor(
            F.col("sm").cast("double") / F.col("n_members").cast("double")
        )
        .cast("bigint")
        .alias("mean_micro"),
    )
    norms = means.groupBy("cid").agg(
        F.sum(F.col("mean_micro") * F.col("mean_micro"))
        .cast("bigint")
        .alias("centroid_norm2")
    )
    return (
        counts.join(norms, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "inertia_micro",
            "centroid_norm2",
        )
    )


# Embedding drift monitor — the ML-ops audit a pipeline runs after an
# embedding-model refresh or between ingest windows: has each label's
# centroid moved? Split = first half vs second half of the id space (a
# deterministic stand-in for "last week's vectors vs this week's");
# drift = squared L2 between the two per-label centroids, in exact
# micro^2 units (per-dim means are floor-divided exact BIGINT sums —
# the embedding_kmeans_step determinism recipe).
def _drift_oracle() -> str:
    return """
WITH half AS (
  SELECT label, vec_id, embedding,
         CAST(vec_id >= (SELECT (MIN(vec_id) + MAX(vec_id) + 1) // 2
                         FROM embeddings) AS INT) AS h
  FROM embeddings
),
dims AS (
  SELECT label, h, u.i AS dim,
         CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS m
  FROM half, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
cents AS (
  SELECT label, h, dim,
         CAST(FLOOR(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
              AS BIGINT) AS mean_micro
  FROM dims GROUP BY label, h, dim
),
paired AS (
  SELECT a.label, a.dim, a.mean_micro AS m0, b.mean_micro AS m1
  FROM (SELECT * FROM cents WHERE h = 0) a
  JOIN (SELECT * FROM cents WHERE h = 1) b
    ON a.label = b.label AND a.dim = b.dim
),
counts AS (
  SELECT label,
         CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after
  FROM half GROUP BY label
)
SELECT p.label,
       c.n_before, c.n_after,
       CAST(SUM((p.m1 - p.m0) * (p.m1 - p.m0)) AS BIGINT) AS drift_sq_micro2
FROM paired p JOIN counts c ON p.label = c.label
GROUP BY p.label, c.n_before, c.n_after
"""


@query("embedding_drift_by_label", oracle=_drift_oracle())
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the two halves of the id space
    (squared L2 of the integer-exact per-dim centroid means, micro^2
    units) plus both halves' member counts — the drift dashboard that
    catches a broken embedding refresh before it poisons the ANN index.
    Scale: one posexplode pass + one (label, half, dim) partial-agg
    shuffle (bounded: labels x 2 x 64 rows), then per-label folds over
    64-row groups; the id-space midpoint is a one-row broadcast scalar."""
    emb = spark.table("embeddings")
    # integer `div`, never `/`: double division loses exactness past
    # 2^53 and cast-truncation differs from the oracle's `//` floor for
    # negative ids (ids are non-negative here; div == floor-div then)
    mid = emb.agg(
        F.expr("(min(vec_id) + max(vec_id) + 1) div 2").alias("_mid")
    )
    half = emb.crossJoin(F.broadcast(mid)).select(
        "label",
        (F.col("vec_id") >= F.col("_mid")).cast("int").alias("h"),
        "embedding",
    )
    dims = half.select(
        "label", "h", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "h",
        "dim",
        F.floor(F.col("x").cast("double") * 1000000.0).cast("bigint").alias("m"),
    )
    cents = dims.groupBy("label", "h", "dim").agg(
        F.floor(F.sum("m").cast("double") / F.count(F.lit(1)).cast("double"))
        .cast("bigint")
        .alias("mean_micro")
    )
    paired = (
        cents.filter(F.col("h") == 0)
        .select("label", "dim", F.col("mean_micro").alias("m0"))
        .join(
            cents.filter(F.col("h") == 1).select(
                "label", "dim", F.col("mean_micro").alias("m1")
            ),
            ["label", "dim"],
        )
    )
    counts = half.groupBy("label").agg(
        F.sum((F.col("h") == 0).cast("int")).cast("bigint").alias("n_before"),
        F.sum((F.col("h") == 1).cast("int")).cast("bigint").alias("n_after"),
    )
    return (
        paired.groupBy("label")
        .agg(
            F.sum((F.col("m1") - F.col("m0")) * (F.col("m1") - F.col("m0")))
            .cast("bigint")
            .alias("drift_sq_micro2")
        )
        .join(counts, "label")
        .select("label", "n_before", "n_after", "drift_sq_micro2")
    )


# Gonzalez farthest-first k-center seeds (r6): the DETERMINISTIC
# clustering-initialization member of the embedding family (kmeans++'s
# d²-sampling needs randomness; farthest-first is its classic
# derandomized cousin with a 2-approximation guarantee for k-center).
# Completes the clustering tier: init (THIS) -> one Lloyd step
# (embedding_kmeans_step, integer-exact) -> fitted IVF (approximate by
# contract). All distances are exact micro^2 BIGINTs; every argmax
# tiebreaks on min vec_id — bit-identical on both engines.
def _kcenter_d2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _kcenter_oracle() -> str:
    d2 = _kcenter_d2_sql
    return f"""
WITH pts AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
  FROM embeddings
),
s1 AS (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT 1),
c1 AS (SELECT p.vec_id, p.v, {d2('p.v', 's.v')} AS d2 FROM pts p, s1 s),
s2 AS (SELECT vec_id, v, d2 FROM c1 ORDER BY d2 DESC, vec_id LIMIT 1),
c2 AS (SELECT c.vec_id, c.v, LEAST(c.d2, {d2('c.v', 's.v')}) AS d2 FROM c1 c, s2 s),
s3 AS (SELECT vec_id, v, d2 FROM c2 ORDER BY d2 DESC, vec_id LIMIT 1),
c3 AS (SELECT c.vec_id, c.v, LEAST(c.d2, {d2('c.v', 's.v')}) AS d2 FROM c2 c, s3 s),
s4 AS (SELECT vec_id, v, d2 FROM c3 ORDER BY d2 DESC, vec_id LIMIT 1)
SELECT 1 AS seed_rank, vec_id, CAST(0 AS BIGINT) AS sep_micro2 FROM s1
UNION ALL SELECT 2, vec_id, d2 FROM s2
UNION ALL SELECT 3, vec_id, d2 FROM s3
UNION ALL SELECT 4, vec_id, d2 FROM s4
"""


@query("embedding_kcenter_seeds", oracle=_kcenter_oracle())
def embedding_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four k-center seeds by farthest-first traversal: seed 1 = min
    vec_id, each next seed = the point maximizing its distance to the
    nearest already-chosen seed (exact micro^2 integers, ties to min
    id); sep_micro2 is that separation at selection time. Scale: each
    round is one FULL SCAN + one struct-max partial aggregate (no sort,
    no window) with the single new seed attached as a one-row broadcast
    — k rounds cost k linear passes, and the running LEAST(d2, d2_new)
    carries forward so round i never re-touches seeds 1..i-1. The
    selected-seed rows ride the aggregate (vector carried through the
    struct-max), so nothing joins back against the corpus."""
    emb = spark.table("embeddings")
    pts = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("bigint"),
        ).alias("v"),
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    # seed 1: min vec_id, vector carried through the struct-min
    s1 = pts.agg(F.min(F.struct("vec_id", "v")).alias("s")).select(
        F.col("s.vec_id").alias("sid"), F.col("s.v").alias("sv")
    )

    def argmax(cand):
        # max d2, tie min vec_id; candidate vector rides the struct
        b = cand.agg(
            F.max(
                F.struct(
                    F.col("d2"), (-F.col("vec_id")).alias("nid"), F.col("v")
                )
            ).alias("b")
        )
        return b.select(
            (-F.col("b.nid")).alias("sid"),
            F.col("b.v").alias("sv"),
            F.col("b.d2").alias("sep"),
        )

    c = pts.crossJoin(F.broadcast(s1.select("sv"))).select(
        "vec_id", "v", d2(F.col("v"), F.col("sv")).alias("d2")
    )
    picks = [s1.select("sid", F.lit(0).cast("bigint").alias("sep"))]
    for _ in range(3):
        nxt = argmax(c)
        picks.append(nxt.select("sid", "sep"))
        c = c.crossJoin(F.broadcast(nxt.select(F.col("sv").alias("_nsv")))).select(
            "vec_id",
            "v",
            F.least(F.col("d2"), d2(F.col("v"), F.col("_nsv"))).alias("d2"),
        )
    out = None
    for i, p in enumerate(picks, 1):
        row = p.select(
            F.lit(i).cast("int").alias("seed_rank"),
            F.col("sid").alias("vec_id"),
            F.col("sep").alias("sep_micro2"),
        )
        out = row if out is None else out.unionAll(row)
    return out
