"""Product quantization (PQ) — the memory-compressed ANN tier.

No reference analog (MapReduce has no vector ops); this is the north-star
extension's compressed-index variant, per the FAISS paper lineage
(Jégou, Douze, Schmid 2011: "Product Quantization for Nearest Neighbor
Search"). The embedding space is split into ``m`` subspaces of
``dsub = dim/m`` dimensions; each subspace gets its own ``ksub``-centroid
codebook; a vector is stored as ``m`` small codes (m bytes at ksub=256 —
a 256× compression of a 1024-dim float vector), and query-to-vector
distance is approximated by ADC (asymmetric distance computation): the
query precomputes a distance table to every subspace centroid, then each
database vector costs ``m`` table lookups instead of ``dim`` multiplies.

Relational formulation — all narrow maps + broadcasts, zero data shuffle
until the final per-query top-k window:

- **Codebooks**: deterministic init = the ``ksub`` rows with smallest
  md5(id) (the same seedless sample idiom as ivf.kmeans_fit), one
  centroid per (subspace, sampled row). Optional Lloyd refinement
  iterations reuse the IVF update shape (posexplode → groupBy mean —
  dimension-independent aggregate width).
- **Encode**: per vector, per subspace, argmin distance over that
  subspace's centroids — broadcast codebook, no shuffle.
- **ADC search**: per query, the m×ksub distance table as one map
  (key sub*ksub+code — robust to codebooks with fewer than ksub codes);
  per (query, vector) pair the approximate
  distance folds m lookups in ascending-subspace order, so the double
  is bit-identical across engines (same left-fold contract as
  similarity.dot_exact).

With ``iters=0`` the whole pipeline (sample → codebooks → encode → ADC
top-k) is a pure function of the data expressible in ANSI SQL — the
DuckDB oracle for queries/similarity.py::similarity_pq_topk checks it
end-to-end. Refined codebooks (iters>0) keep the same contracts and are
property-tested (exact reconstruction at ksub ≥ #rows; distortion
non-increasing in iters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance, folded in array-index order (deterministic
    across engines — see similarity.dot_exact)."""
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)


def _sq_dist_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def _subspace_structs(vec: Column, m: int, dsub: int) -> Column:
    """Array of (sub, svec) structs — the m subvector slices of one row."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(vd, s * dsub + 1, dsub).alias("svec"),
            )
            for s in range(m)
        ]
    )


def pq_codebooks(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    iters: int = 0,
) -> DataFrame:
    """(sub, code, centroid) codebooks. Deterministic init: the ksub rows
    with smallest (md5(id), id) each contribute their s-th subvector as
    centroid ``code`` of subspace ``s`` — the sample is tiny (ksub rows),
    so the orderBy+limit is a TakeOrdered, not a global sort."""
    samp = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_r", F.md5(F.col("_id").cast("string")))
        .orderBy("_r", "_id")
        .limit(ksub)
    )
    coded = samp.select(
        (F.row_number().over(Window.orderBy("_r", "_id")) - 1).alias("code"), "_v"
    )
    cb = coded.select(
        "code", F.explode(_subspace_structs(F.col("_v"), m, dsub)).alias("_sc")
    ).select(F.col("_sc.sub").alias("sub"), "code", F.col("_sc.svec").alias("centroid"))

    for _ in range(iters):
        # Lloyd refinement, per subspace: assign each subvector to its
        # nearest centroid, recompute per-(sub, code) means. Same
        # dimension-independent update shape as ivf.kmeans_fit.
        sv = vectors.select(
            F.col(id_col).alias("_id"),
            F.explode(_subspace_structs(F.col(vec_col), m, dsub)).alias("_sc"),
        ).select("_id", F.col("_sc.sub").alias("sub"), F.col("_sc.svec").alias("svec"))
        assigned = _encode_subvectors(sv, cb)
        per_dim = (
            assigned.select("sub", "code", F.posexplode("svec").alias("_i", "_x"))
            .groupBy("sub", "code", "_i")
            .agg(F.avg("_x").alias("_mu"))
        )
        refined = (
            per_dim.groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("_i", "_mu"))).alias("_s"))
            .select(
                "sub", "code", F.transform(F.col("_s"), lambda s: s["_mu"]).alias("_new")
            )
        )
        # A cluster that received no assignments keeps its previous
        # centroid (standard Lloyd's empty-cluster handling). This also
        # keeps every (sub, code) pair PRESENT, which the ADC search
        # depends on: the flat distance table indexes by sub*ksub+code,
        # so a dropped code would misalign every lookup after the gap.
        cb = (
            cb.join(refined, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("_new", "centroid").alias("centroid"))
        )
    # m*ksub tiny rows, reused by encode and every search
    return cb.cache()


def _encode_subvectors(sv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(id, sub, svec) + codebooks -> nearest code per subvector.
    Broadcast the per-subspace centroid lists; tie-break by code so the
    assignment is deterministic even with duplicate centroids."""
    cents = codebooks.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct(F.col("code"), F.col("centroid")))).alias(
            "_cents"
        )
    )
    scored = sv.join(F.broadcast(cents), "sub")
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist(F.col("svec"), c["centroid"]).alias("d"),
                c["code"].alias("code"),
            ),
        )
    )
    return scored.withColumn("code", best["code"]).drop("_cents")


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    dsub: int = 16,
) -> DataFrame:
    """(id, codes) — codes is the length-m int array of per-subspace
    centroid ids. One explode + broadcast join + regroup on the row id;
    at scale this is the narrow indexing pass whose output (m small ints
    per vector) replaces the raw embedding column."""
    sv = vectors.select(
        F.col(id_col).alias("_id"),
        F.explode(_subspace_structs(F.col(vec_col), m, dsub)).alias("_sc"),
    ).select("_id", F.col("_sc.sub").alias("sub"), F.col("_sc.svec").alias("svec"))
    enc = _encode_subvectors(sv, codebooks)
    return (
        enc.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            F.transform(F.col("_s"), lambda s: s["code"]).alias("codes"),
        )
    )


def _flat_codebooks(codebooks: DataFrame) -> DataFrame:
    """One row holding every (sub, code, centroid), sorted — the
    broadcast side each query builds its distance table from."""
    return codebooks.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("sub"), F.col("code"), F.col("centroid")))
        ).alias("_cb")
    )


def _adc_table(ksub: int, dsub: int) -> Column:
    """A query's ADC distance table over the ``_cb`` codebook row: the
    squared distance from the query's subvector (``_qv`` slice) to every
    subspace centroid."""
    # map keyed by sub*ksub+code, NOT a positional array: with fewer
    # than ksub sampled rows the codebook has fewer codes per subspace,
    # and positional indexing would read another subspace's entry (or
    # off the end) — the map stays correct for any actual code set
    return F.map_from_entries(
        F.transform(
            F.col("_cb"),
            lambda c: F.struct(
                (c["sub"] * ksub + c["code"]).cast("int").alias("key"),
                _sq_dist(
                    F.slice(F.col("_qv"), c["sub"] * dsub + 1, dsub), c["centroid"]
                ).alias("value"),
            ),
        )
    )


def _adc_top_k(cand: DataFrame, k: int, m: int, ksub: int) -> DataFrame:
    """(query_id, neighbor_id, rank, adc): the k nearest of each query's
    (neighbor_id, codes, _dtab) candidates, the query itself excluded.
    ``adc`` folds the m table lookups in ascending subspace order."""
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("_dtab"), (s * ksub + F.element_at(F.col("codes"), s + 1)).cast("int")
        ),
    )
    scored = (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
        .select("query_id", "neighbor_id", "adc")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_adc_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
) -> DataFrame:
    """ADC top-k per query over PQ codes.

    The query side precomputes its full distance table as ONE array
    (position sub*ksub + code, via the (sub, code)-sorted codebook
    collect), so the per-pair work is an m-lookup fold — the PQ speed
    contract. Queries (with tables) broadcast against the codes; the
    only shuffle is the final per-query top-k window. Approximate
    distance `adc` folds in ascending subspace order — bit-identical in
    any engine with a left-fold list reduce."""
    qd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(F.col(id_col).alias("query_id"), qd.alias("_qv")).crossJoin(
        F.broadcast(_flat_codebooks(codebooks))
    )
    q = q.select("query_id", _adc_table(ksub, dsub).alias("_dtab"))
    pairs = codes.select(F.col(id_col).alias("neighbor_id"), "codes").crossJoin(
        F.broadcast(q)
    )
    return _adc_top_k(pairs, k, m, ksub)


def ivfpq_search(
    queries: DataFrame,
    index_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN architecture (coarse k-means cells
    prune the candidate set to ~nprobe/nlist of the index; PQ codes make
    each surviving candidate cost m lookups instead of dim multiplies —
    the FAISS IVFADC design). ``index_codes`` carries (id, cell, codes):
    join ivf.ivf_index's cell assignment with pq_encode's codes.

    Query side: rank cells by centroid distance (broadcast centroids),
    take nprobe, precompute the PQ distance table once per query; the
    candidate equi-join on cell is the only index-side shuffle. With
    nprobe == nlist the candidate set is the whole index, so the result
    equals pq_adc_search exactly — the oracle identity the registry
    query exploits; pruned recall is property-tested."""
    from hadoop_common_spark.operators.ivf import _sq_dist as cell_dist

    cents = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
        ).alias("_cents")
    )
    qd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = (
        queries.select(F.col(id_col).alias("query_id"), qd.alias("_qv"))
        .crossJoin(F.broadcast(cents))
        .crossJoin(F.broadcast(_flat_codebooks(codebooks)))
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    cell_dist(F.col("_qv"), c["centroid"]).alias("d"),
                    c["cell"].alias("cell"),
                ),
            )
        ),
        1,
        nprobe,
    )
    probes = q.select(
        "query_id",
        _adc_table(ksub, dsub).alias("_dtab"),
        F.explode(ranked_cells).alias("_pc"),
    ).select("query_id", "_dtab", F.col("_pc.cell").alias("cell"))
    cand = index_codes.select(
        F.col(id_col).alias("neighbor_id"), "cell", "codes"
    ).join(F.broadcast(probes), "cell")
    return _adc_top_k(cand, k, m, ksub)
