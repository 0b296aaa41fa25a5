"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's closest machinery is membership filtering
(HC/util/bloom/BloomFilter.java:83, BloomMapFile.java:49) and
UniqValueCount — these operators are the engine extension the north star
asks for, built Spark-first:

- All hashing is **md5-based** (not Spark's murmur3 `hash()`): md5 is
  engine-independent, so results are reproducible across engines and
  across cluster re-runs — and the DuckDB oracle can replay them.
- Everything is built-in expressions (split/transform/aggregate/
  groupBy) — no Python in the hot path; plans stay in codegen.
- Scale shape: MinHash-LSH is the classic shingle→signature→band→
  bucket-join pipeline; the only shuffles are the per-band bucket join
  and the final verify join. Signature computation is map-side (16 min()
  partial aggregates). At 100 TB the band join's fan-out is bounded by
  bucket sizes — salt or raise `bands`/`rows` if a bucket explodes.
- Two renderings per shared expression: ``*_sql`` helpers render the
  DuckDB oracle text; ``*_sparksql`` helpers render Spark SQL text that
  the operators hand to ``F.expr``/``selectExpr`` in ONE py4j call, where
  the equivalent Column tree costs a round trip per node (a MinHash-LSH
  build was ~1,100 of them).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_common_spark.operators.skew import capped_self_join_pairs

HEX15 = 15  # 60-bit hashes: fit in signed int64 in both Spark and DuckDB

# Universal-hash family for MinHash: h_j(s) = (a_j * base(s) + b_j) mod P
# over one 32-bit md5-derived base hash — 1 md5 per shingle instead of
# num_hashes md5s (the md5s dominate signature cost). a_j < 2^28 and
# base < 2^32 keep the product under 2^60: no int64 overflow, identical
# arithmetic in Spark and DuckDB.
MERSENNE61 = (1 << 61) - 1


def _mh_coeffs(j: int) -> tuple[int, int]:
    a = int(hashlib.md5(f"mh_a_{j}".encode()).hexdigest()[:7], 16) | 1
    b = int(hashlib.md5(f"mh_b_{j}".encode()).hexdigest()[:7], 16)
    return a, b


def _q(name: str) -> str:
    """A column name as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def hash60(c: Column) -> Column:
    """Deterministic 60-bit integer hash of a string column via md5."""
    return F.conv(F.substring(F.md5(c), 1, HEX15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`hash60`."""
    return f"('0x' || substr(md5({expr}), 1, {HEX15}))::BIGINT"


def split_90_5_5(id_col: Column) -> Column:
    """Deterministic 90/5/5 train/val/test assignment:
    hash60(id) % 100 bucket. THE one split definition —
    ``corpus_split_counts`` (the pipeline's split) and
    ``corpus_split_leakage`` (the audit of that split) must use the
    identical function, or the audit silently checks a different split
    than the pipeline produces."""
    bucket = hash60(id_col.cast("string")) % 100
    return F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")


def split_90_5_5_sql(id_expr: str) -> str:
    """DuckDB rendering of :func:`split_90_5_5`."""
    b = f"{hash60_sql(f'CAST({id_expr} AS VARCHAR)')} % 100"
    return (
        f"CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'val' ELSE 'test' END"
    )


def hash32_sparksql(expr: str) -> str:
    """Deterministic 32-bit integer hash (md5 prefix) of a Spark SQL
    string expression — the MinHash base."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def hash32_sql(expr: str) -> str:
    """DuckDB rendering of :func:`hash32_sparksql`."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def minhash_j_sparksql(base_expr: str, j: int) -> str:
    """The j-th MinHash function ``(a_j * base + b_j) mod P`` over a
    Spark SQL bigint expression."""
    a, b = _mh_coeffs(j)
    return f"(({a} * {base_expr} + {b}) % {MERSENNE61})"


def minhash_j_sql(base_expr: str, j: int) -> str:
    """DuckDB rendering of :func:`minhash_j_sparksql` (the arithmetic
    reads the same in both dialects)."""
    return minhash_j_sparksql(base_expr, j)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: keep min id per md5(content), count
    members (dropDuplicates + provenance). One hash-partitioned shuffle."""
    return (
        df.withColumn("_h", F.md5(F.col(content_col)))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(F.col("_h").alias("content_md5"), "keep_id", "n_copies")
    )


def word_shingles_sparksql(text_expr: str, n: int = 3) -> str:
    """Spark SQL text: distinct word n-gram shingles of a string
    expression (docs with <n tokens yield an empty array).

    Built as ``zip_with`` over n shifted ``slice``s of the token array —
    NOT ``transform(sequence(...), i -> element_at(toks, i+k))``: inside
    one expression tree every ``toks`` reference re-runs the regex split,
    so the indexed form splits the text ~n× per GRAM (~150× per doc;
    measured 5× slower end-to-end). The slice form references ``toks``
    O(n) times per ROW."""
    toks = f"split({text_expr}, '\\\\s+', -1)"
    m = f"greatest(size({toks}) - {n - 1}, 0)"
    zipped = f"slice({toks}, 1, {m})"
    for k in range(1, n):
        zipped = (
            f"zip_with({zipped}, slice({toks}, {k + 1}, {m}), "
            "(x, y) -> concat_ws(' ', x, y))"
        )
    return f"array_distinct({zipped})"


def word_shingles(text_col: str, n: int = 3) -> Column:
    """:func:`word_shingles_sparksql` of the column ``text_col``."""
    return F.expr(word_shingles_sparksql(_q(text_col), n))


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document: ``h_j = min over shingles of
    (a_j * hash32(shingle) + b_j) mod P`` — one md5 per shingle plus
    cheap integer arithmetic per hash function, as ``num_hashes`` min()
    aggregates after one explode.

    Why explode+groupBy and not a per-row ``array_min(transform(...))``
    fold: the fold looks shuffle-free, but Catalyst's projection collapse
    inlines the shingle-array expression into every one of the 16
    signature columns — the (expensive) shingling runs 16× per row
    (measured ~1.7× slower end-to-end). The explode puts an aggregation
    boundary after shingling, so it runs once, and the shuffle is
    map-side partial-aggregated down to one row per document (combiner
    semantics — fine at 100 TB)."""
    sh = df.selectExpr(
        _q(id_col), f"explode({word_shingles_sparksql(_q(text_col), shingle_n)}) AS _sh"
    ).withColumn("_base", F.expr(hash32_sparksql("_sh")))
    return sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """``min(h_j(_base)) AS h{j}`` for every hash function."""
    return [
        F.expr(f"min({minhash_j_sparksql('_base', j)}) AS h{j}")
        for j in range(num_hashes)
    ]


def minhash_signature_mapside(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature computed entirely MAP-SIDE (array fold, zero
    shuffles): identical h0..h{n-1} values to :func:`minhash_signature`
    (pinned in pytest), as ``array_min`` folds over the hashed shingle
    array instead of an explode + groupBy.

    This is the STREAMING form: a per-doc groupBy on an unbounded stream
    would need stateful aggregation, while this is a stateless
    projection any micro-batch can run. The batch pipeline deliberately
    uses the explode+groupBy form instead — Catalyst's projection
    collapse re-runs the shingling per signature column here (measured
    ~1.7× slower at rest, minhash_signature's docstring) — but on a
    stream that cost buys shuffle-freedom and zero state, which is the
    right trade. Docs with no shingles (shorter than ``shingle_n``
    words) are dropped, matching the groupBy form where they produce no
    rows."""
    hashed = (
        f"transform({word_shingles_sparksql(_q(text_col), shingle_n)}, "
        f"x -> {hash32_sparksql('x')})"
    )
    out = df.withColumn("_hashes", F.expr(hashed)).filter("size(_hashes) > 0")
    return out.selectExpr(
        _q(id_col),
        *[
            f"array_min(transform(_hashes, x -> {minhash_j_sparksql('x', j)})) AS h{j}"
            for j in range(num_hashes)
        ],
    )


def lsh_band_keys(sig_df: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """Explode a signature into (id, band, band_key) rows; docs sharing a
    band_key are candidates (AND within band, OR across bands)."""
    band_structs = []
    for b in range(bands):
        vals = ", ".join(f"CAST(h{b * rows + r} AS STRING)" for r in range(rows))
        band_structs.append(f"struct({b} AS band, md5(concat_ws(',', {vals})) AS band_key)")
    return sig_df.selectExpr(
        _q(id_col), f"explode(array({', '.join(band_structs)})) AS _b"
    ).selectExpr(_q(id_col), "_b.band AS band", "_b.band_key AS band_key")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    buckets → candidate pairs → exact Jaccard verify ≥ threshold.

    Returns (id_a, id_b, jaccard), id_a < id_b. Jaccard is exact over
    distinct shingle sets (integer set sizes → double division —
    deterministic across engines).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} — a remainder "
            "would silently weaken the (bands, rows) LSH guarantee"
        )
    rows = num_hashes // bands
    # One shingling pass total: the signature groupBy collects the
    # distinct shingle set alongside the minhashes, and the result is
    # localCheckpoint'ed — the sketch table all three consumers (band
    # keys, verify side A, verify side B) read. The checkpoint is load-
    # bearing: each consumer prunes a DIFFERENT column subset, so the
    # optimizer compiles three DIFFERENT partial aggregates and
    # ReusedExchange never fires — the shingling+signature pipeline ran
    # 3× (re-measured r12: 10.0s → 3.0s at the 10× tier with the
    # checkpoint; the old "checkpoint is 1.3× slower" note predates the
    # first-match-band shape that added the third consumer). Storage is
    # MEMORY_AND_DISK and one row per doc (16 longs + the distinct
    # shingle set) — the "write the sketch table between stages" shape
    # simhash_pairs already uses.
    sh_rows = df.selectExpr(
        _q(id_col), f"explode({word_shingles_sparksql(_q(text_col), shingle_n)}) AS _one"
    ).withColumn("_base", F.expr(hash32_sparksql("_one")))
    sig = sh_rows.groupBy(id_col).agg(
        *_minhash_aggs(num_hashes), F.expr("collect_set(_one) AS _shset")
    ).localCheckpoint(eager=False)
    if max_bucket_size is None:
        # FIRST-MATCH-BAND candidate dedup (same trick as simhash_pairs):
        # each bk row carries the doc's FULL band-key vector, and a pair
        # is emitted only from its lowest agreeing band — a map-side
        # filter instead of a .distinct() shuffle over the candidate
        # multiset (near-identical docs agree on ALL bands, so that
        # multiset is ~bands x the unique pairs at high dup density; the
        # r5 100x study measured it at 2.2B rows). Band keys are STRUCTS
        # of the band's raw minhash values (not md5-of-concat strings):
        # grouping is identical (both injective on the band vector), the
        # carried vector is bands × rows longs instead of bands × 32-char
        # strings, and 4 md5 calls per doc disappear. The capped path
        # keeps lsh_band_keys' md5 form — occupancy semantics there are
        # part of the oracle contract.
        keys = ", ".join(
            "struct("
            + ", ".join(f"h{b * rows + r} AS k{r}" for r in range(rows))
            + ")"
            for b in range(bands)
        )
        bk = sig.selectExpr(_q(id_col), f"array({keys}) AS _keys").selectExpr(
            _q(id_col), "_keys", "posexplode(_keys) AS (band, band_key)"
        )
        a = bk.selectExpr(f"{_q(id_col)} AS id_a", "_keys AS _ka", "band", "band_key")
        b = bk.selectExpr(f"{_q(id_col)} AS id_b", "_keys AS _kb", "band", "band_key")
        first_eq = "coalesce(" + ", ".join(
            f"CASE WHEN element_at(_ka, {j + 1}) = element_at(_kb, {j + 1}) THEN {j} END"
            for j in range(bands)
        ) + ")"
        cand = (
            # NO merge hint here, unlike the shingle/chunk self-joins: the
            # r13 A/B measured the SMJ form 2x WORSE at the 10x tier
            # (20.1/10.5/9.5s vs 7.1/4.5/4.3s) — sorting struct band keys
            # while carrying both full key vectors costs far more than the
            # hash build saves. The broadcast-side volume is bands rows
            # per doc of fixed-width longs, the one estimator blind spot
            # in this family whose hash build actually wins.
            a.join(b, ["band", "band_key"])
            .filter("id_a < id_b")
            .filter(f"{first_eq} = band")
            .selectExpr("id_a", "id_b")
        )
    else:
        # occupancy guard (skew.capped_self_join_pairs rationale).
        # First-match dedup is NOT valid here (a capped bucket can be the
        # lowest agreeing band), so the capped join keeps its distinct.
        cand = capped_self_join_pairs(
            lsh_band_keys(sig, id_col, bands, rows),
            ["band", "band_key"],
            id_col,
            max_bucket_size,
        )
    sa = sig.selectExpr(f"{_q(id_col)} AS id_a", "_shset AS sh_a")
    sb = sig.selectExpr(f"{_q(id_col)} AS id_b", "_shset AS sh_b")
    inter = "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
    union = f"CAST(size(sh_a) + size(sh_b) AS DOUBLE) - {inter}"
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.expr(f"{inter} / ({union})"))
        .filter(f"jaccard >= {float(threshold)!r}D")
        .selectExpr("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per token (with multiplicity) take a 60-bit
    md5 hash; each bit votes ±1; the fingerprint sets bits with positive
    vote. Near-dups differ in few bits (Hamming distance).

    Explode + ``bits`` codegen ``sum()`` aggregates: one row per token,
    per-bit set-counts ``c_j = sum((h >> j) & 1)`` plus the token count,
    fingerprint bit j set iff ``2*c_j > n`` (identical integer votes to
    the ±1 formulation: votes_j = 2*c_j - n). The whole pipeline stays
    in whole-stage codegen; the r1-r11 form was a map-side
    ``F.aggregate``/``zip_with`` array fold — zero shuffles, but
    higher-order functions run interpreted and allocate two
    ``bits``-length arrays per TOKEN (measured 2× slower at the 100×
    tier: 10.5s fold vs 5.4s explode for the same fingerprints). The
    explode form's shuffle is one partially-aggregated row per document
    (the groupBy key is the row the tokens exploded from, so map-side
    combine finishes each doc locally): ``bits+1`` longs per doc —
    bounded by doc count, never token count, and cheap against the 2×
    CPU at any scale where docs average ≳0.5 KB. ``explode_outer``
    keeps the one-row-per-doc contract: a token-less doc yields one
    NULL-hash row, every ``c_j`` aggregates to NULL, and the
    ``2*c_j > n`` test is false for every bit — fingerprint 0, exactly
    the fold's empty-array result. The interpreted fold survives as the
    per-row streaming shape in :func:`minhash_signature_mapside`'s
    family (stateless projection, no aggregation state).

    Preconditions (ADVICE r12): ``id_col`` values must be unique — the
    aggregate merges duplicate ids' token multisets into ONE fingerprint
    row, where the r1-r11 per-row fold emitted one row per input row.
    And because ``id_col`` is interpolated into parsed SQL, it must not
    collide with the internal aliases ``_h``/``_n``/``_c0.._c59`` or
    contain a backtick; every registry caller passes a plain unique key
    column (doc_id)."""
    if (
        id_col in {"_h", "_n", "_t"}
        or (id_col.startswith("_c") and id_col[2:].isdigit())
        or "`" in id_col
    ):
        raise ValueError(f"simhash: id_col {id_col!r} collides with internal aliases")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    th = df.select(F.col(id_col), F.explode_outer(toks).alias("_t")).select(
        F.col(id_col), hash60(F.col("_t")).alias("_h")
    )
    # SQL-string expressions, not 60 Column-API trees: each F.sum/F.when/
    # operator call is a py4j round trip, and the Column-API form spent
    # 5-7 SECONDS of driver time just CONSTRUCTING the plan (measured via
    # build-vs-run split; the bench times construction too, and on a real
    # cluster that is dead driver time before any task launches). One
    # F.expr per aggregate + one parsed fingerprint expression is ~60
    # round trips instead of ~1000.
    g = th.groupBy(id_col).agg(
        F.expr("count(1) AS _n"),
        *[F.expr(f"sum(shiftright(_h, {j}) & 1) AS _c{j}") for j in range(bits)],
    )
    fp = " + ".join(
        f"IF(2 * _c{j} > _n, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(bits)
    )
    return g.selectExpr(f"`{id_col}`", f"({fp}) AS simhash")


def simhash_pairs(
    fp_df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    bits: int = 60,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded Hamming-distance join over SimHash fingerprints — the
    pairing step that completes SimHash dedup end-to-end (cheap-sketch
    counterpart of the MinHash band join; reference membership analog
    HC/util/bloom/BloomFilter.java:83).

    Pigeonhole banding: split the ``bits``-bit fingerprint into
    ``max_distance + 1`` equal chunks. Two fingerprints within Hamming
    distance ``max_distance`` differ in at most ``max_distance`` bits, so
    at least one chunk is bit-identical — candidates are exactly the
    pairs sharing a (chunk_idx, chunk_value), found by one equi-join (no
    all-pairs anywhere). Verify = ``bit_count(a XOR b) <= d`` on the
    joined candidates. Returns (id_a, id_b, hamming), id_a < id_b.

    Scale shape: the (usually expensive) fingerprint pipeline is
    materialized ONCE — the sketch table is just (id, 8-byte fp), a
    ~1e-4 fraction of the corpus, so ``localCheckpoint`` costs nothing
    and both self-join sides read the materialized sketch instead of
    re-running tokenize+fold (measured 2× end-to-end at sf0.1; on a
    cluster you'd write the sketch table to storage, same shape). Then
    one explode (×chunks) and ONE hash-partitioned self-join on
    (chunk, value); fingerprints ride along through the explode so the
    verify popcount runs inside the join output — no fingerprint-lookup
    joins. Chunk-value buckets are the skew knob: 60/4 = 15-bit chunks
    give 32Ki buckets per band; raise ``bits``/lower ``max_distance`` if
    a bucket explodes (same knob as MinHash band size)."""
    chunks = max_distance + 1
    if bits % chunks:
        raise ValueError(f"bits={bits} must divide into {chunks} equal chunks")
    width = bits // chunks
    mask = (1 << width) - 1
    fp = fp_df.select(
        F.col(id_col), F.col(sim_col).cast("bigint").alias("_fp")
    ).localCheckpoint(eager=False)
    chunk_structs = [
        F.struct(
            F.lit(k).alias("chunk"),
            F.shiftright(F.col("_fp"), k * width).bitwiseAND(F.lit(mask)).alias("chunk_val"),
        )
        for k in range(chunks)
    ]
    ck = fp.select(
        F.col(id_col), F.col("_fp"), F.explode(F.array(*chunk_structs)).alias("_c")
    ).select(
        id_col, "_fp", F.col("_c.chunk").alias("chunk"), F.col("_c.chunk_val").alias("chunk_val")
    )
    if max_bucket_size is not None:
        # occupancy guard, same rationale as skew.capped_self_join_pairs:
        # an exploded chunk bucket (mass-identical fingerprints) fans out
        # occ²/2; capped buckets drop out, members still pair via other
        # chunks when genuinely close
        ok = (
            ck.groupBy("chunk", "chunk_val")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") <= max_bucket_size)
            .select("chunk", "chunk_val")
        )
        ck = ck.join(ok, ["chunk", "chunk_val"])
    a = ck.select(F.col(id_col).alias("id_a"), F.col("_fp").alias("_fa"), "chunk", "chunk_val")
    b = ck.select(F.col(id_col).alias("id_b"), F.col("_fp").alias("_fb"), "chunk", "chunk_val")
    xor = F.col("_fa").bitwiseXOR(F.col("_fb"))
    hamming = F.bit_count(xor).cast("bigint")
    # merge hint (r13): the chunk table is corpus-sized (chunks rows per
    # document), but the planner estimates it from the tiny checkpointed
    # (id, fp) sketch and BROADCASTS one whole side — a hash-relation
    # build of every (chunk, value) in the corpus. Fresh-JVM A/B at the
    # 100x tier: BHJ 45.8/34.2s vs SMJ 21.7/16.3s (2x), tie at sf0.1/10x
    # — and the broadcast shape cannot exist at 100 TB anyway (the build
    # side only "fits" while the estimator is wrong, exactly the
    # shared_span_pairs artifact).
    cand = a.join(b.hint("merge"), ["chunk", "chunk_val"]).filter(F.col("id_a") < F.col("id_b"))
    if max_bucket_size is None:
        # FIRST-MATCH-BAND dedup (the classic LSH trick): a qualifying
        # pair shares >=1 chunk, so emit it ONLY from its lowest-index
        # agreeing chunk — a map-side filter that replaces the
        # .distinct() shuffle over the whole candidate volume (at
        # near-dup density every true pair agrees on ALL chunks, so the
        # distinct input was ~(d+1)x the output). NOT valid under
        # max_bucket_size: a capped-away bucket can be the lowest
        # agreeing chunk while the pair legitimately survives through a
        # later band — there the distinct stays.
        first_eq = F.coalesce(
            *[
                F.when(
                    F.shiftright(xor, j * width).bitwiseAND(F.lit(mask)) == 0,
                    F.lit(j),
                )
                for j in range(chunks)
            ]
        )
        return (
            cand.filter(first_eq == F.col("chunk"))
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_distance)
            .select("id_a", "id_b", "hamming")
        )
    return (
        # verify BEFORE the dedup shuffle: popcount is a few instructions,
        # and pruning failed candidates early shrinks the distinct input
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _shingle_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """The sparse (block, shingle) similarity join behind
    :func:`ngram_jaccard_pairs` and :func:`containment_pairs`:
    ``(id_a, id_b, _inter, _na, _nb)`` for every same-block pair
    (id_a < id_b) sharing at least one shingle, where ``_inter`` is the
    size of the shared distinct-shingle set and ``_na``/``_nb`` the two
    set sizes. With ``max_shingle_df`` the candidates come from cold
    shingles only and ``_inter`` is an exact ``array_intersect`` over the
    FULL sets; without it ``_inter`` is the count of joined shingles."""
    # Doc-level shingle arrays materialized ONCE (localCheckpoint): the
    # shingling pass would otherwise run 3× (two join sides + the sizes
    # branch), and set sizes become a zero-shuffle F.size map instead of
    # a groupBy over exploded rows. On a cluster this is the temp sketch
    # table you'd write to storage between the two stages.
    docsh = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        word_shingles(text_col, shingle_n).alias("_shs"),
    ).localCheckpoint(eager=False)
    sh = docsh.select("_blk", id_col, F.explode("_shs").alias("_sh"))
    if max_shingle_df is not None:
        # Per-shingle df as a WINDOW count, not a groupBy + join-back:
        # the join form re-shuffles the exploded shingle table per join
        # side AND leaves the corpus-sized "cold" relation to the
        # broadcast planner (AQE broadcasting it blew
        # spark.driver.maxResultSize at the 100x replica tier). The
        # window shuffles shingles ONCE on (blk, shingle) — exactly the
        # partitioning the a/b self-join consumes — and sh has one row
        # per (doc, distinct shingle), so a plain count IS the df.
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("_blk", "_sh"))
            )
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    a = sh.select(F.col("_blk"), F.col(id_col).alias("id_a"), "_sh")
    b = sh.select(F.col("_blk"), F.col(id_col).alias("id_b"), "_sh")
    # merge hint (r13): the exploded (block, shingle) table is
    # corpus-sized, but the planner sizes it from the checkpointed
    # doc-level sketch and BROADCASTS one whole side (plan evidence
    # plans/r12: BroadcastHashJoin over both shingle sides). The SMJ is
    # the only shape that exists at 100 TB and measured at-or-better at
    # every bench tier (see OPTIMIZATION_r13.md, sparse-join family).
    shared = a.join(b.hint("merge"), ["_blk", "_sh"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if max_shingle_df is not None:
        # exact verify over the full sets: capped discovery, uncapped score
        xa = docsh.select(F.col(id_col).alias("id_a"), F.col("_shs").alias("_sa"))
        xb = docsh.select(F.col(id_col).alias("id_b"), F.col("_shs").alias("_sb"))
        return (
            shared.select("id_a", "id_b")
            .distinct()
            .join(xa, "id_a")
            .join(xb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_sa", "_sb")).alias("_inter"),
                F.size("_sa").alias("_na"),
                F.size("_sb").alias("_nb"),
            )
        )
    sizes = docsh.select(F.col(id_col), F.size("_shs").alias("_n"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    return (
        shared.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
        .join(sa, "id_a")
        .join(sb, "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N-gram Jaccard pairs within a blocking column (lang, source,
    length band...), as a **sparse similarity join**: explode distinct
    shingles, self-join on (block, shingle) to count the intersection per
    pair, then derive Jaccard from the per-document set sizes.

    Only pairs sharing ≥1 shingle ever materialize — equivalent to the
    all-pairs formulation for any threshold > 0, and the reason this
    scales: the all-pairs cross join computes |block|²/2 array
    intersections (measured 8× slower at sf0.1 and quadratic-blowup-dead
    at 100 TB), while this shuffles each shingle once and fans out only
    where documents actually overlap.

    Hot shingles (stopword grams) are the skew knob: a gram shared by
    d documents fans out d²/2 rows in the self-join. ``max_shingle_df``
    implements the frequency cap: grams whose per-block document
    frequency exceeds it are excluded from CANDIDATE DISCOVERY only —
    surviving pairs are then re-verified with an exact array
    intersection over the FULL shingle sets, so every emitted jaccard is
    exact; the only loss is pairs whose shared shingles are ALL hot
    (high union, hot-only overlap — far below any practical threshold).
    Join fan-out becomes bounded by max_shingle_df²/2 per gram
    regardless of corpus size. None (default) = exact single-pass form."""
    ov = _shingle_overlap(df, id_col, text_col, block_col, shingle_n, max_shingle_df)
    inter = F.col("_inter").cast("double")
    jac = inter / ((F.col("_na") + F.col("_nb")).cast("double") - inter)
    return (
        ov.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment pairs within a blocking column: for every
    pair sharing >=1 shingle, ``cont_a = |A∩B| / |A|`` and ``cont_b =
    |A∩B| / |B|``; emit pairs where ``greatest(cont_a, cont_b) >=
    threshold``. Containment (Broder's resemblance companion) is the
    excerpt/quote detector Jaccard misses: a 100-token doc embedded in a
    10k-token page has J ~= 0.01 but containment ~= 1.0 — exactly the
    subset-duplication class LLM corpora need stripped (syndicated
    snippets, quoted posts, boilerplate-wrapped articles).

    Same sparse-similarity-join scaling argument as
    :func:`ngram_jaccard_pairs`: any pair with containment > 0 shares a
    shingle, so the (block, shingle) equi-join is a LOSSLESS blocking —
    no all-pairs scan at any corpus size. ``max_shingle_df`` is the
    skew/volume knob (MANDATORY at heavy near-dup density — the 100×
    replica study OOMed the uncapped form exactly like the banded joins
    before their occupancy caps): shingles in more than N docs per block
    are excluded from candidate DISCOVERY only; surviving pairs are
    re-verified with exact full-set intersections, so every emitted
    containment is exact — only pairs whose shared shingles are ALL hot
    are lost. None (default) keeps the exact single-pass oracle
    semantics. Zero-shingle docs never pair: they share no shingle with
    any doc (the oracle excludes them explicitly).
    """
    ov = _shingle_overlap(df, id_col, text_col, block_col, shingle_n, max_shingle_df)
    inter = F.col("_inter").cast("double")
    return (
        ov.withColumn("cont_a", inter / F.col("_na").cast("double"))
        .withColumn("cont_b", inter / F.col("_nb").cast("double"))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .select("id_a", "id_b", "cont_a", "cont_b")
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 16,
    min_span: int = 32,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Longest EXACT shared character span per document pair — the
    substring-level dedup criterion ("two examples sharing a
    sufficiently long verbatim substring are duplicates", the
    exact-substring rule suffix-array pipelines apply to LM training
    data). Shingle Jaccard blurs this: a 400-char verbatim quote inside
    two otherwise-different docs barely moves Jaccard but is exactly
    what substring dedup must catch.

    Method (diagonal runs, no suffix array needed in a relational
    engine): positional k-grams (i, substr(text, i, k)) → equi-join on
    (block, gram) with id_a < id_b → matches on the same DIAGONAL
    (ia - ib constant) at CONSECUTIVE positions form runs; a shared
    substring of length L ≥ k is exactly a run of L - k + 1 matches, so
    max_span = max_run + k - 1 is exact, integer, and oracle-checkable.

    Scale: the gram equi-join is the sparse lossless blocking (any pair
    with a span ≥ k shares a k-gram); its skew knob is ``max_gram_df``
    (grams appearing in more than N docs per block are excluded — spans
    whose EVERY k-window is that hot are undetected, runs crossing a hot
    gram split conservatively; candidate fan-out becomes bounded by
    max_gram_df²/2 per gram). The run detection is one window over
    (pair, diag) — partition cardinality is pairs×diagonals, never
    corpus-sized."""
    # repartition BEFORE the per-char gram fan-out: a small corpus scans
    # as one split and would run the (text_len × k)-byte explode on one
    # core (measured 3s single-threaded vs 0.3s spread at sf0.1); at
    # cluster scale the scan already has many splits and this is a cheap
    # narrow-ish shuffle of raw text relative to the fan-out it balances.
    # NO localCheckpoint on the gram table (it used to share pg between
    # the join sides): checkpointing pins O(corpus grams) rows in
    # block-manager storage — measured AGGREGATE_OUT_OF_MEMORY at the
    # 100x replica tier (150M positional grams vs a 16 GB heap). Every
    # consumer instead re-reads the ONE repartition exchange
    # (ReuseExchange; shuffle files are disk-backed by construction) and
    # re-runs the explode — linear CPU, no memory floor at any scale.
    # Gram generation is explode(sequence) THEN substr as a plain
    # projection — NOT transform(sequence, i -> struct(i, substr(...)))
    # with the struct array exploded: higher-order functions run
    # interpreted and allocate a struct per gram before the Generate,
    # while the post-explode substr is whole-stage-codegen (measured 2×:
    # 6.9s vs 12.5s for the bare gram table at the 100× tier).
    par = df.sparkSession.sparkContext.defaultParallelism
    pg = (
        # length >= k filter FIRST: Spark's sequence(1, 0) yields [1, 0]
        # (descending auto-step) for sub-k docs — spurious short "grams"
        # the oracle's empty generate_series never produces; sub-k docs
        # cannot reach any span >= k anyway
        df.filter(F.length(F.col(text_col)) >= k)
        .repartition(par)
        .select(
            F.col(block_col).alias("_blk"),
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(1), F.length(F.col(text_col)) - (k - 1))
            ).alias("_i"),
        )
        .select(
            "_blk",
            id_col,
            "_i",
            F.col(text_col).substr(F.col("_i"), F.lit(k)).alias("_g"),
        )
    )
    if max_gram_df is not None:
        # CAPPED form: everything happens in ONE pass over ONE
        # (blk, gram) shuffle — no self-join at all (r8: the r7 form
        # DID self-join the per-(gram,doc) rows on (blk, gram), which
        # recomputed the whole window+collect lineage on both join
        # branches and re-sorted each side for the SMJ — measured 62s
        # at the 100x tier vs ~40s for this single-lineage form).
        # 1. Per-gram distinct-doc count as a WINDOW (dense_rank over
        #    id, then max; DISTINCT isn't legal inside a window) and the
        #    hot-gram filter. This must precede any per-gram collection:
        #    it is what bounds group sizes (the groupBy+join-back form
        #    shuffled the gram table 3+ times, 91s+ at the 100x tier;
        #    folding the count into a collect-then-filter aggregate
        #    would build the hottest gram's full occurrence array before
        #    filtering — the OOM again).
        # 2. Survivor positions collected PER (gram, doc), then CHUNKED
        #    into fixed 256-position sub-arrays, then all of a gram's
        #    (doc, chunk) entries collected into ONE per-gram row (array
        #    size = the gram's total occurrences — LINEAR, ≤ df × doclen;
        #    it was the quadratic in-row PAIR array that overflowed
        #    Spark's 2^31 single-array bound in the pre-r7 form: 8 docs
        #    x 10k in-doc repeats = 2.8e9 structs in one value).
        # 3. Pair generation by DOUBLE EXPLODE of that one row — chunk
        #    _ca crossed with every higher-id chunk _cb as separate ROWS
        #    — so the quadratic blowup happens across rows, never inside
        #    one value: the widest row any step produces is one 256x256
        #    position cross product (65k structs). Every aggregate and
        #    both explodes consume the window's (blk, gram) partitioning
        #    — one exchange for the entire candidate generation, one
        #    lineage, nothing computed twice.
        wo = Window.partitionBy("_blk", "_g").orderBy(id_col)
        wp = Window.partitionBy("_blk", "_g")
        surv = (
            # implicit window exchange at spark.sql.shuffle.partitions —
            # r12's explicit repartition(4*par, blk, gram) "spill fix"
            # was REVERTED in r13: the extra 128-partition exchange never
            # reproduced its claimed win outside warm keep-min confirms
            # (fresh-JVM A/B, 100× tier: no-repartition 39.5s cold /
            # 29.5-32.5s warm vs 4×-repartition 43.3 / 32.2-32.6; sf0.1:
            # 9.1/3.0 vs 9.8/3.5 — VERDICT r12 #1). Window-sort sizing
            # stays AQE's job (coalescing/advisory size), not a hand
            # multiplier.
            pg.withColumn("_dr", F.dense_rank().over(wo))
            .withColumn("_df", F.max("_dr").over(wp))
            .filter(F.col("_df") <= max_gram_df)
        )
        CHUNK = 256
        nch = F.ceil(F.size("_ps") / F.lit(CHUNK)).cast("int")
        chunks = (
            surv.groupBy("_blk", "_g", id_col)
            .agg(F.collect_list("_i").alias("_ps"))
            .select(
                "_blk",
                "_g",
                id_col,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), nch - 1),
                        lambda j: F.slice("_ps", j * CHUNK + 1, CHUNK),
                    )
                ).alias("_pc"),
            )
        )
        occ = chunks.groupBy("_blk", "_g").agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("_id"), F.col("_pc"))
            ).alias("_occ")
        )
        d1 = occ.select(F.explode("_occ").alias("_ca"), "_occ")
        d2 = d1.select(
            "_ca",
            F.explode(
                F.filter("_occ", lambda y: y["_id"] > F.col("_ca._id"))
            ).alias("_cb"),
        )
        cross = F.flatten(
            F.transform(
                F.col("_ca._pc"),
                lambda ia: F.transform(
                    F.col("_cb._pc"),
                    lambda ib: F.struct(ia.alias("ia"), ib.alias("ib")),
                ),
            )
        )
        m = d2.select(
            F.col("_ca._id").alias("id_a"),
            F.col("_cb._id").alias("id_b"),
            F.explode(cross).alias("_pp"),
        ).select(
            "id_a",
            "id_b",
            F.col("_pp.ia").alias("_ia"),
            F.col("_pp.ib").alias("_ib"),
        )
    else:
        a = pg.select(
            "_blk", F.col(id_col).alias("id_a"), F.col("_i").alias("_ia"), "_g"
        )
        b = pg.select(
            "_blk", F.col(id_col).alias("id_b"), F.col("_i").alias("_ib"), "_g"
        )
        # merge hint: the planner's size estimate for an exploded gram
        # table is garbage (it tracks the un-exploded scan), so at bench
        # scale it BROADCASTS one whole positional-gram side — a
        # hash-relation build of every character position in the corpus,
        # measured 3.5-4.4s warm vs 1.9-2.5s for the SMJ form at sf0.1
        # (r13 fresh-JVM A/B), and a plan shape that cannot exist at
        # 100 TB (the build side is corpus-sized — it only "fits" while
        # the estimator is wrong). The hint pins the shuffle join the
        # right scale plan uses everywhere; AQE still coalesces/skew-
        # splits its exchanges.
        m = (
            a.join(b.hint("merge"), ["_blk", "_g"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_ia", "_ib")
        )
    diag = (F.col("_ia") - F.col("_ib")).alias("_diag")
    w = Window.partitionBy("id_a", "id_b", "_diag").orderBy("_ia")
    runs = (
        m.select("id_a", "id_b", "_ia", diag)
        .withColumn("_grp", F.col("_ia") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "_diag", "_grp")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("_span"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(F.max("_span").cast("bigint").alias("max_span"))
        .filter(F.col("max_span") >= min_span)
    )


def deletion1_keys(expr: str) -> Column:
    """SymSpell deletion-neighborhood blocking keys of a Spark SQL string
    expression (a column name, or e.g. ``substring(c_name, 10, 9)``): the
    string itself plus every single-character deletion, deduplicated,
    built as one ``F.expr`` over :func:`deletion1_keys_sparksql`. Two strings
    within Levenshtein distance 1 ALWAYS share a key — a substitution
    at position i means del_i(a) == del_i(b); an insertion/deletion
    means the shorter string IS a deletion of the longer (and is its
    own key); distance 0 shares the identity key — so blocking on these
    keys is LOSSLESS for an exact lev<=1 verify. This is the fuzzy-key
    record-linkage primitive (typo'd account numbers, misspelled vocab):
    candidate generation costs O(len+1) keys per string, never the
    |A| x |B| comparisons of a naive fuzzy join.

    Reference parity note: the reference has no fuzzy matching at all;
    this extends §2.4's join family the same way as-of/range joins do.
    """
    return F.expr(deletion1_keys_sparksql(expr))


def deletion1_keys_sparksql(expr: str) -> str:
    """Spark SQL text of :func:`deletion1_keys` over a string expression."""
    return (
        f"array_distinct(concat(array({expr}), transform(sequence(1, length({expr})), "
        f"x -> concat(substring({expr}, 1, x - 1), substr({expr}, x + 1, length({expr}))))))"
    )
