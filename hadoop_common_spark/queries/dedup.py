"""Deduplication queries (LLM-pipeline extension): exact, MinHash-LSH,
SimHash, blocked n-gram Jaccard — over `documents` / `events`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from hadoop_common_spark.queries import query

NUM_HASHES = 16
BANDS = 4
ROWS = NUM_HASHES // BANDS

_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(t)-2), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)

from hadoop_common_spark.operators.dedup import (
    hash32_sql,
    minhash_j_sql,
    split_90_5_5,
    split_90_5_5_sql,
)

_SIG_MINS = ",\n         ".join(
    f"MIN({minhash_j_sql(hash32_sql('s'), j)}) AS h{j}" for j in range(NUM_HASHES)
)

_BAND_CASES = "\n      ".join(
    "WHEN {b} THEN md5({key})".format(
        b=b,
        key=" || ',' || ".join(f"h{b * ROWS + r}" for r in range(ROWS)),
    )
    for b in range(BANDS)
)

_MINHASH_CTES = f"""base AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS s FROM base
),
sig AS (
  SELECT doc_id,
         {_SIG_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band,
    CASE b.band
      {_BAND_CASES}
    END AS band_key
  FROM sig, (VALUES (0),(1),(2),(3)) b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2
    ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
),
shs AS (
  SELECT doc_id, {_SHINGLES} AS sset FROM base
)"""

_JACCARD_SELECT = """SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) /
         (CAST(len(x.sset) + len(y.sset) AS DOUBLE)
          - CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)) AS jaccard
  FROM cand JOIN shs x ON cand.id_a = x.doc_id JOIN shs y ON cand.id_b = y.doc_id
) WHERE jaccard >= 0.5"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
{_JACCARD_SELECT}
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: word-3-gram shingles → 16 md5
    minhashes → 4 bands → bucket join → exact-Jaccard verify ≥ 0.5.
    (Reference analog: Bloom-filter membership — HC/util/bloom; this is
    the modern sketch pipeline the north star asks for.)"""
    return minhash_lsh_pairs(
        spark.table("documents"), "doc_id", "text",
        num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5,
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT content_md5, keep_id, n_copies FROM (
      SELECT md5(props) AS content_md5,
             MIN(event_id) AS keep_id,
             COUNT(*) AS n_copies
      FROM events GROUP BY md5(props)
    )
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (dropDuplicates + keep-min-id
    provenance): events.props has heavy duplication, so the grouping is
    exercised for real."""
    return exact_dedup(spark.table("events"), "props", "event_id")


# Per-document 60 bit votes of the md5 token hashes (th -> votes): the
# SimHash fingerprint both SimHash oracles fold.
_SIMHASH_VOTES_CTES = """th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
  WHERE tok != ''
),
votes AS (
  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(generate_series(0, 59)) AS j) bits
  GROUP BY doc_id, j
)"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_VOTES_CTES}
SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (near-dups = small Hamming distance);
    md5-based bit votes, engine-independent."""
    return simhash(spark.table("documents"), "doc_id", "text", bits=60)


_SIMHASH_FP_CTE = f"""
{_SIMHASH_VOTES_CTES},
fp AS (
  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)"""

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_FP_CTE},
chunks AS (
  SELECT doc_id, k.k, (simhash >> (15 * k.k)) & 32767 AS cv
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS k) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunks a JOIN chunks b
    ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
  FROM cand JOIN fp x ON cand.id_a = x.doc_id JOIN fp y ON cand.id_b = y.doc_id
) WHERE hamming <= 3
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS: 60-bit fingerprints → 4×15-bit
    pigeonhole chunks (distance ≤3 guarantees one identical chunk) →
    chunk equi-join candidates → popcount(XOR) ≤ 3 verify. Completes the
    SimHash tier into an end-to-end dedup (candidate recall is exact, not
    probabilistic, for the given distance bound)."""
    from hadoop_common_spark.operators.dedup import simhash_pairs

    fp = simhash(spark.table("documents"), "doc_id", "text", bits=60)
    return simhash_pairs(fp, "doc_id", "simhash", bits=60, max_distance=3)


_NGRAM_ORACLE = f"""
WITH shs AS (
  SELECT lang, doc_id, {_SHINGLES} AS sset
  FROM (SELECT lang, doc_id, string_split_regex(text, '\\s+') AS t FROM documents)
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
         (CAST(len(a.sset) + len(b.sset) AS DOUBLE)
          - CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)) AS jaccard
  FROM shs a JOIN shs b ON a.lang = b.lang AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.05
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram Jaccard blocked by lang (quadratic bounded by the
    block; the no-sketch fallback when exact recall is required)."""
    return ngram_jaccard_pairs(
        spark.table("documents"), "doc_id", "text", "lang", threshold=0.05
    )


# Recall evaluation of the MinHash CANDIDATE stage (the banding) against
# exact-Jaccard ground truth, binned by true similarity. Ground truth is
# exact for within-lang pairs without any all-pairs scan: a pair with
# J ≥ 0.2 > 0 shares ≥1 shingle, so the shared-shingle sparse join is a
# LOSSLESS blocking (same argument as ngram_jaccard_pairs); lang blocks
# bound hot-shingle fan-out. The S-curve P[candidate] = 1-(1-s^r)^b is
# the theory; this query MEASURES it on the actual corpus — the dedup
# twin of similarity_lsh_recall_eval, closing the (bands, rows) tuning
# loop with an oracle-checked number instead of a formula.
_MINHASH_RECALL_ORACLE = f"""
WITH {_MINHASH_CTES},
docsh AS (
  SELECT lang, doc_id, {_SHINGLES} AS sset
  FROM (SELECT lang, doc_id, string_split_regex(text, '\\s+') AS t FROM documents)
),
shx AS (
  SELECT lang, doc_id, unnest(sset) AS s FROM docsh
),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
  FROM shx x JOIN shx y ON x.lang = y.lang AND x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sset) AS n FROM docsh),
gt AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) /
           (CAST(sa.n + sb.n AS DOUBLE) - CAST(c AS DOUBLE)) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
  ) WHERE jaccard >= 0.2
)
SELECT bin, n_true, n_hit,
       CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
FROM (
  SELECT FLOOR(g.jaccard * 10) / 10 AS bin,
         COUNT(*) AS n_true,
         CAST(SUM(CASE WHEN c2.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM gt g LEFT JOIN cand c2 ON g.id_a = c2.id_a AND g.id_b = c2.id_b
  GROUP BY 1
)
"""


def _band_candidates(docs: DataFrame) -> DataFrame:
    """Spark side of _MINHASH_CTES' cand: distinct (id_a < id_b) pairs
    sharing a MinHash band bucket (16 hashes, 4 bands)."""
    from hadoop_common_spark.operators.dedup import lsh_band_keys, minhash_signature

    sig = minhash_signature(docs, "doc_id", "text", num_hashes=NUM_HASHES)
    bk = lsh_band_keys(sig, "doc_id", BANDS, ROWS)
    a = bk.select(F.col("doc_id").alias("id_a"), "band", "band_key")
    b = bk.select(F.col("doc_id").alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@query("dedup_minhash_recall_eval", oracle=_MINHASH_RECALL_ORACLE)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash banding stage (16 hashes, 4 bands)
    per true-Jaccard bin: which fraction of EXACT near-dup pairs
    (J ≥ 0.2, within-lang shared-shingle ground truth — lossless blocking
    for any threshold > 0) surface as band-bucket candidates. Both sides
    are shuffle-bounded: ground truth is the sparse shingle join, the
    candidate stage is the banded bucket join — no all-pairs anywhere, so
    the evaluation runs at corpus scale, not just sample scale."""
    docs = spark.table("documents")
    gt = ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.2)

    cand = _band_candidates(docs).withColumn("hit", F.lit(1))
    return (
        gt.withColumn("bin", F.floor(F.col("jaccard") * 10) / F.lit(10.0))
        .join(cand, ["id_a", "id_b"], "left")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
        )
    )


# The MinHash-LSH pairs (J >= 0.5) and their connected components
# (lbl: doc_id -> min reachable doc_id, pair members only) — the prefix
# every cluster oracle below shares. DuckDB computes the fixpoint with a
# recursive CTE; the Spark side is _minhash_components.
_CC_CTES = f"""WITH RECURSIVE {_MINHASH_CTES},
pairs AS (
  {_JACCARD_SELECT}
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
lbl AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
)"""

_CC_ORACLE = f"""
{_CC_CTES}
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
"""


def _minhash_components(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(documents, components): MinHash-LSH pairs (J >= 0.5) labeled by
    connected component — ``(node, component)`` rows, pair members only —
    the Spark side of _CC_CTES."""
    from hadoop_common_spark.operators.graph import connected_components

    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5
    )
    return docs, connected_components(pairs, "id_a", "id_b")


@query("dedup_cluster_resolution", oracle=_CC_ORACLE)
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER resolution: MinHash-LSH pairs → connected
    components → per-cluster canonical doc (min doc_id). Duplicate groups
    are transitive, so pair output alone can't drive a keep/drop decision;
    this is the full corpus-dedup contract: every document labeled with
    its cluster and whether it survives. Components via hash-min label
    propagation + pointer jumping (O(log n) rounds — operators/graph.py);
    the oracle computes the same fixpoint with a recursive CTE."""
    docs, cc = _minhash_components(spark)
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("is_canonical"),
        )
    )


_WINNOW_PAIRS_ORACLE = """
WITH fps AS (
  SELECT doc_id,
         MIN(('0x' || substr(md5(gram), 1, 15))::BIGINT) AS winnow_fp
  FROM (
    SELECT doc_id, substr(text, i, 8) AS gram
    FROM documents, LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i)
  )
  GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.winnow_fp
FROM fps a JOIN fps b ON a.winnow_fp = b.winnow_fp AND a.doc_id < b.doc_id
"""


@query("dedup_winnow_pairs", oracle=_WINNOW_PAIRS_ORACLE)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-tier candidate pairs: documents sharing the min-gram
    rolling-hash fingerprint (text_winnow_fingerprint) are near-dup
    candidates — the cheapest pairing tier (one bigint equi-join on the
    fingerprint, cheaper than MinHash banding), robust to small edits
    anywhere except at the minimizing gram. Completes the winnowing
    family end-to-end the way simhash_pairs completes SimHash; the
    candidate pairs feed the same connected-components resolution."""
    from hadoop_common_spark.operators.textstats import fingerprint

    grams = spark.table("documents").select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 7, 1)), i -> substring(text, i, 8))"
            )
        ).alias("gram"),
    )
    fps = grams.groupBy("doc_id").agg(F.min(fingerprint("gram")).alias("winnow_fp"))
    a = fps.select(F.col("doc_id").alias("id_a"), "winnow_fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "winnow_fp")
    return (
        a.join(b, "winnow_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "winnow_fp")
    )


_SPLIT_CTE = f"""sp AS (
  SELECT doc_id, {split_90_5_5_sql('doc_id')} AS split
  FROM documents
)"""

_LEAKAGE_ORACLE = f"""
WITH {_MINHASH_CTES},
pj AS ({_JACCARD_SELECT}),
{_SPLIT_CTE}
SELECT id_a, id_b, jaccard, sa.split AS split_a, sb.split AS split_b
FROM pj
JOIN sp sa ON pj.id_a = sa.doc_id
JOIN sp sb ON pj.id_b = sb.doc_id
WHERE (sa.split = 'train') <> (sb.split = 'train')
"""


@query("corpus_split_leakage", oracle=_LEAKAGE_ORACLE)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE detection: near-duplicate pairs (MinHash-LSH,
    exact Jaccard ≥ 0.5) that CROSS the train boundary of the
    deterministic 90/5/5 split (corpus_split_counts) — the documents an
    eval metric silently memorizes through. Decontamination
    (corpus_decontamination) removes exact benchmark shingle overlap;
    this is the fuzzier within-corpus analog every published pipeline
    audits. Composition: the already-banded pair generation (no
    all-pairs) + two broadcast-able split-assignment joins."""
    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5
    )
    sp = docs.select("doc_id", split_90_5_5(F.col("doc_id")).alias("split"))
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((F.col("split_a") == "train") != (F.col("split_b") == "train"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


_NORM_EXACT_ORACLE = r"""
SELECT content_md5, keep_id, n_copies FROM (
  SELECT md5(norm) AS content_md5,
         MIN(doc_id) AS keep_id,
         COUNT(*) AS n_copies
  FROM (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
  )
  GROUP BY md5(norm)
)
"""


@query("dedup_exact_normalized", oracle=_NORM_EXACT_ORACLE)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on NORMALIZED content (casefold + whitespace
    collapse) — the form production pipelines actually run first: raw
    byte-equality misses trivial variants (trailing newline, double
    spaces, case), which are the most common exact-dup class in web
    corpora. Same keep-min-id provenance contract as dedup_exact; the
    normalization is a narrow map, the grouping one hash shuffle."""
    docs = spark.table("documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select(F.md5(norm).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Incoming-shard near-dup flagging — the oracle-backed BATCH TWIN of
# streaming/jobs.neardup_candidates_stream: the src0 slice plays the
# arriving micro-batch, every other source is the historical corpus whose
# band index is precomputed. The Spark side deliberately signs the
# incoming slice with minhash_signature_mapside (the stateless streaming
# kernel — proven h-identical to the groupBy form in pytest), so the
# driver row covers the exact code path the stream runs.
_INCOMING_ORACLE = f"""
WITH sh_all AS (
  SELECT source, doc_id, unnest({_SHINGLES}) AS s
  FROM (SELECT source, doc_id, string_split_regex(text, '\\s+') AS t FROM documents)
),
sig_all AS (
  SELECT source, doc_id,
         {_SIG_MINS}
  FROM sh_all
  GROUP BY source, doc_id
),
bands_all AS (
  SELECT source, doc_id, b.band,
    CASE b.band
      {_BAND_CASES}
    END AS band_key
  FROM sig_all, (VALUES (0),(1),(2),(3)) b(band)
)
SELECT stream_id, corpus_id, n_bands FROM (
  SELECT i.doc_id AS stream_id, c.doc_id AS corpus_id,
         CAST(COUNT(*) AS BIGINT) AS n_bands
  FROM bands_all i
  JOIN bands_all c ON i.band = c.band AND i.band_key = c.band_key
  WHERE i.source = 'src0' AND c.source <> 'src0'
  GROUP BY 1, 2
)
"""


@query("dedup_incoming_flag", oracle=_INCOMING_ORACLE)
def dedup_incoming_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which incoming documents (source='src0', standing in for an
    arriving stream micro-batch) are near-dup candidates of the held
    corpus (every other source)? Map-side MinHash signing of the
    incoming slice + band-bucket join against the corpus band index,
    n_bands = how many bands agree (confidence). This is the
    stream-ingest dedup gate as a batch-checkable query; the streaming
    form (stateless projection + stream-static join, identical band
    keys) is neardup_candidates_stream, equivalence-tested in pytest."""
    from hadoop_common_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signature,
        minhash_signature_mapside,
    )

    docs = spark.table("documents")
    incoming = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    bk_in = lsh_band_keys(
        minhash_signature_mapside(incoming, "doc_id", "text"), "doc_id", BANDS, ROWS
    ).withColumnRenamed("doc_id", "stream_id")
    bk_corp = lsh_band_keys(
        minhash_signature(corpus, "doc_id", "text"), "doc_id", BANDS, ROWS
    ).withColumnRenamed("doc_id", "corpus_id")
    return (
        bk_in.join(bk_corp, ["band", "band_key"])
        .groupBy("stream_id", "corpus_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )


# Asymmetric containment (excerpt/quote detection). Containment is the
# subset-duplication detector Jaccard structurally misses: an excerpt
# embedded in a much longer page has near-zero Jaccard but containment
# ~1.0 — the syndicated-snippet / quoted-post class LLM corpora strip.
_CONTAINMENT_ORACLE = f"""
WITH shs AS (
  SELECT lang, doc_id, {_SHINGLES} AS sset
  FROM (SELECT lang, doc_id, string_split_regex(text, '\\s+') AS t FROM documents)
)
SELECT id_a, id_b, cont_a, cont_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
           / CAST(len(a.sset) AS DOUBLE) AS cont_a,
         CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
           / CAST(len(b.sset) AS DOUBLE) AS cont_b
  FROM shs a JOIN shs b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(a.sset) > 0 AND len(b.sset) > 0
) WHERE GREATEST(cont_a, cont_b) >= 0.5
"""


@query("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (|A∩B|/|A|, |A∩B|/|B|) within
    lang blocks, emitted where either direction ≥ 0.5 — the excerpt
    detector (Broder's containment). Runs as the same sparse
    (block, shingle) similarity join as dedup_ngram_jaccard: lossless for
    any threshold > 0 (a qualifying pair shares ≥1 shingle), no all-pairs
    scan at any corpus size; the oracle recomputes the all-pairs form,
    which is only feasible at test SFs."""
    from hadoop_common_spark.operators.dedup import containment_pairs

    return containment_pairs(
        spark.table("documents"), "doc_id", "text", "lang", threshold=0.5
    )


# Quality-canonical cluster resolution: production dedup keeps the BEST
# member of each near-dup cluster, not the lowest id — min-id keeps
# whichever variant crawled first (often the truncated or
# boilerplate-wrapped one).
_CANONICAL_QUALITY_ORACLE = f"""
{_CC_CTES},
mem AS (
  SELECT l.cluster_id, d.doc_id, d.n_chars
  FROM lbl l JOIN documents d ON l.doc_id = d.doc_id
),
agg AS (
  SELECT cluster_id, COUNT(*) AS n_members,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars
  FROM mem GROUP BY cluster_id
),
can AS (
  SELECT m.cluster_id, MIN(m.doc_id) AS canonical_id
  FROM mem m JOIN agg a
    ON m.cluster_id = a.cluster_id AND CAST(m.n_chars AS BIGINT) = a.max_chars
  GROUP BY m.cluster_id
)
SELECT a.cluster_id, c.canonical_id, a.n_members, a.max_chars
FROM agg a JOIN can c ON a.cluster_id = c.cluster_id
"""


@query("dedup_canonical_quality", oracle=_CANONICAL_QUALITY_ORACLE)
def dedup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution keeping the HIGHEST-QUALITY member
    (longest text, tie → min doc_id) instead of min-id: MinHash-LSH
    pairs (J ≥ 0.5) → connected components → per-cluster argmax.
    Complements dedup_cluster_resolution (which reports the min-id
    keep/drop labeling of EVERY doc); this one reports the duplicate
    GROUPS with their chosen survivor — the form a removal job joins
    against. Scale: one groupBy over cluster members; the argmax is a
    struct-min aggregate (no window, no second shuffle)."""
    docs, cc = _minhash_components(spark)
    mem = cc.join(
        docs.select("doc_id", F.col("n_chars").cast("bigint").alias("_nc")),
        cc["node"] == F.col("doc_id"),
    )
    best = F.min(F.struct((-F.col("_nc")).alias("neg"), F.col("doc_id").alias("d")))
    return (
        mem.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            best.getField("d").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("_nc").alias("max_chars"),
        )
        .select("cluster_id", "canonical_id", "n_members", "max_chars")
    )


# Per-source duplication reporting — the dashboard number a corpus team
# watches per crawl/source: which fraction of each source's docs would a
# near-dup pass drop (cluster member, not the min-id canonical).
_DEDUP_RATE_ORACLE = f"""
{_CC_CTES}
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id
                     THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
GROUP BY d.source
"""


@query("corpus_dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate drop rate per source: MinHash-LSH pairs (J ≥ 0.5)
    → connected components → per-source fraction of docs that are
    non-canonical cluster members. The monitoring twin of
    dedup_cluster_resolution — the number that flags a source whose
    crawl suddenly turns self-duplicative. Scale: the CC labeling is the
    same bounded pipeline; the report is one groupBy over documents."""
    docs, cc = _minhash_components(spark)
    dropped = (
        F.col("component").isNotNull() & (F.col("component") != F.col("doc_id"))
    ).cast("int")
    return (
        docs.select("source", "doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
        )
        .withColumn(
            "dup_rate",
            F.col("n_dropped").cast("double") / F.col("n_docs").cast("double"),
        )
    )


# Exact shared-substring spans (the suffix-array pipelines' exact-substring
# dedup rule, relationally): positional 16-grams -> diagonal-run merge.
# Positional 16-grams `pg` of each document (both span oracles' input).
_SPAN_GRAMS_CTE = """WITH pg AS (
  SELECT lang, doc_id, i, substr(text, i, 16) AS g
  FROM documents, LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 15, 0))) AS i)
),
"""


def _span_runs_sql(grams: str) -> str:
    """Gram matches m of the `grams` CTE, merged into diagonal runs r
    and span lengths: the tail of both span oracles."""
    return f"""m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS ia, b.i AS ib
  FROM {grams} a JOIN {grams} b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, ia - ib AS diag, ia,
         ia - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, ia - ib ORDER BY ia) AS grp
  FROM m
),
runs AS (
  SELECT id_a, id_b, COUNT(*) + 15 AS span
  FROM r GROUP BY id_a, id_b, diag, grp
)
SELECT id_a, id_b, CAST(MAX(span) AS BIGINT) AS max_span
FROM runs GROUP BY id_a, id_b HAVING MAX(span) >= 32
"""


_SHARED_SPAN_ORACLE = f"""
{_SPAN_GRAMS_CTE}{_span_runs_sql('pg')}"""


@query("dedup_shared_span_pairs", oracle=_SHARED_SPAN_ORACLE)
def dedup_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exact shared character span (≥ 32 chars) per document
    pair, within lang blocks — the exact-substring dedup criterion
    (verbatim overlap, the class shingle Jaccard under-weights). See
    operators/dedup.shared_span_pairs for the diagonal-run method and
    the max_gram_df skew knob (None here = exact oracle semantics)."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    return shared_span_pairs(
        spark.table("documents"), "doc_id", "text", "lang", k=16, min_span=32
    )


# The CAPPED preset of the same operator: grams appearing in more than
# max_gram_df docs per block are excluded from candidate generation, so
# per-gram join fan-out is bounded by max_gram_df^2/2 — the production
# knob for the quadratic output wall the uncapped form hits at replica
# density (BENCH_NOTES r6: 104s at the 10x tier, output-bound). The
# semantics are deterministic (a pure function of the corpus), so the
# preset is oracle-checkable like any other query: spans whose every
# k-window is hot are undetected, runs crossing a hot gram split.
_SHARED_SPAN_CAPPED_ORACLE = f"""
{_SPAN_GRAMS_CTE}cold AS (
  SELECT lang, g FROM pg GROUP BY lang, g HAVING COUNT(DISTINCT doc_id) <= 8
),
pgc AS (
  SELECT pg.lang, pg.doc_id, pg.i, pg.g
  FROM pg JOIN cold ON pg.lang = cold.lang AND pg.g = cold.g
),
{_span_runs_sql('pgc')}"""


@query("dedup_shared_span_pairs_capped", oracle=_SHARED_SPAN_CAPPED_ORACLE)
def dedup_shared_span_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_gram_df=8 production preset of dedup_shared_span_pairs:
    identical diagonal-run span detection, but grams shared by more than
    8 docs per block are dropped from candidate generation, bounding the
    gram join's fan-out at high duplicate density (the knob itself gets
    a bench row in the replica scale tier, where the uncapped form is
    output-bound by construction)."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    return shared_span_pairs(
        spark.table("documents"),
        "doc_id",
        "text",
        "lang",
        k=16,
        min_span=32,
        max_gram_df=8,
    )
