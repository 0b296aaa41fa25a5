"""Text-analysis queries (LLM-pipeline extension): language ID, quality
scoring, token counting, fingerprinting — over `documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.operators.textstats import (
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from hadoop_common_spark.queries import query

_SCORES_SQL = ",\n      ".join(
    "len(list_filter(string_split_regex(lower(text), '\\s+'), "
    f"x -> x IN ({', '.join(repr(m) for m in LANG_MARKERS[lang])}))) AS score_{lang}"
    for lang in LANG_MARKERS
)
_BEST_SQL = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_MARKERS) + ")"
_PRED_SQL = (
    "COALESCE("
    + ", ".join(
        f"CASE WHEN score_{lang} = {_BEST_SQL} AND {_BEST_SQL} > 0 THEN '{lang}' END"
        for lang in sorted(LANG_MARKERS)
    )
    + ", 'unknown')"
)


@query(
    "text_lang_id",
    oracle=f"""
    SELECT pred_lang, COUNT(*) AS n_docs FROM (
      SELECT {_PRED_SQL} AS pred_lang FROM (
        SELECT {_SCORES_SQL} FROM documents
      )
    ) GROUP BY pred_lang
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (n-gram-free heuristic): argmax of
    per-language marker-token hits, ties broken by code order. Pure
    built-ins — runs at scan speed, no Python."""
    scored = lang_id(spark.table("documents"), "text")
    return scored.groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           ((0.4 * len_ok + 0.3 * word_ok) + 0.3 * alpha_ratio) AS quality
    FROM (
      SELECT doc_id,
             CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END AS len_ok,
             CASE WHEN n_tok > 0 AND (n_chars / n_tok) >= 2.0 AND (n_chars / n_tok) <= 12.0
                  THEN 1.0 ELSE 0.0 END AS word_ok,
             CASE WHEN n_chars > 0
                  THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / n_chars
                  ELSE 0.0 END AS alpha_ratio
      FROM (
        SELECT doc_id, text,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS n_tok
        FROM documents
      )
    )
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic in [0,1]: length band + mean word
    length band + alpha ratio (the C4/Gopher-style rule-based filters,
    expressed as scan-speed SQL)."""
    return spark.table("documents").select(
        "doc_id", quality_score("text").alias("quality")
    )


@query(
    "text_token_stats",
    oracle="""
    SELECT lang,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           (CAST(SUM(n_tok) AS DOUBLE) / COUNT(n_tok)) AS avg_tokens,
           MAX(n_tok) AS max_tokens
    FROM (
      SELECT lang,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tok
      FROM documents
    )
    GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count accounting per language (budgeting pass of a training
    pipeline): sum/avg/max whitespace tokens."""
    df = spark.table("documents").select(
        "lang", token_count("text").alias("n_tok")
    )
    return df.groupBy("lang").agg(
        F.sum("n_tok").alias("total_tokens"),
        (F.sum("n_tok").cast("double") / F.count("n_tok")).alias("avg_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


@query(
    "text_fingerprints",
    oracle="""
    SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5 content fingerprints (the dedup/bucketing key primitive
    — cross-engine reproducible, unlike murmur3 hash())."""
    return spark.table("documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


# BPE-ish pre-tokenization: letter runs / digit runs / punctuation runs,
# each with optional leading space (the GPT-2 pattern family, minus
# lookahead so Java regex and RE2 agree exactly).
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "text_bpe_token_stats",
    oracle=f"""
    SELECT lang,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           (CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*)) AS avg_bpe_tokens
    FROM (
      SELECT lang,
             len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe
      FROM documents
    )
    GROUP BY lang
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word token accounting with a BPE-style pre-tokenizer regex —
    the budget estimate a training pipeline runs before real tokenization
    (whitespace counts under-estimate ~30% on punctuated text)."""
    df = spark.table("documents").select(
        "lang",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))).alias("n_bpe"),
    )
    return df.groupBy("lang").agg(
        F.sum("n_bpe").alias("total_bpe_tokens"),
        (F.sum("n_bpe").cast("double") / F.count(F.lit(1))).alias("avg_bpe_tokens"),
    )


@query(
    "text_winnow_fingerprint",
    oracle="""
    SELECT doc_id,
           MIN(('0x' || substr(md5(gram), 1, 15))::BIGINT) AS winnow_fp
    FROM (
      SELECT doc_id,
             substr(text, i, 8) AS gram
      FROM documents, LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i)
    )
    GROUP BY doc_id
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint (winnowing-style): min hash over all
    8-char grams — stable under small edits anywhere except at the
    minimizing gram, unlike the whole-content md5. Explode + min: the
    shuffle carries one partial min per document (map-side combine)."""
    df = spark.table("documents")
    # expr(): F.substring takes only literal start positions
    grams = df.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(text) - 7, 1)), i -> substring(text, i, 8))")
        ).alias("gram"),
    )
    return grams.groupBy("doc_id").agg(
        F.min(fingerprint("gram")).alias("winnow_fp")
    )


_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks WHERE len(t) >= 2
),
gc AS (
  SELECT doc_id, g, COUNT(*) AS c,
         any_value(n_tok) AS n_tok, any_value(n_dist) AS n_dist
  FROM grams GROUP BY doc_id, g
)
SELECT doc_id,
       any_value(n_tok) AS n_tok,
       CAST(any_value(n_dist) AS DOUBLE) / CAST(any_value(n_tok) AS DOUBLE) AS distinct_ratio,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_2gram_frac
FROM gc GROUP BY doc_id
"""


@query("text_repetition_stats", oracle=_REPETITION_ORACLE)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition signals per document (distinct-token ratio,
    top-2-gram coverage fraction) — the quality filters large corpus
    cleans threshold on. One tokenize pass, two keyed shuffles."""
    from hadoop_common_spark.operators.textstats import repetition_stats

    return repetition_stats(spark.table("documents"), "doc_id", "text")


_TFIDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term
),
df_ AS (
  SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df_.doc_freq,
         CAST(tf.tf AS DOUBLE) / CAST(df_.doc_freq AS DOUBLE) AS score
  FROM tf JOIN df_ USING (term)
)
SELECT doc_id, term, tf, doc_freq, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
"""


@query("corpus_tfidf_topterms", oracle=_TFIDF_ORACLE)
def corpus_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF/DF rarity weight
    (log-free TF-IDF — cross-engine bit-identical ranking; ties broken
    by term). Explode -> two aggregates -> term join -> per-doc window."""
    from hadoop_common_spark.operators.textstats import tf_df_topk

    return tf_df_topk(spark.table("documents"), "doc_id", "text", k=3)


_PII_PATTERNS_SQL = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
}

# counts mirror pii_scrub's sequential semantics: each pattern counted on
# the text AFTER the previous masks ('g' = global replace, like Spark's)
_T1 = f"regexp_replace(text, '{_PII_PATTERNS_SQL['email']}', '<EMAIL>', 'g')"
_T2 = f"regexp_replace({_T1}, '{_PII_PATTERNS_SQL['ipv4']}', '<IPV4>', 'g')"
_PII_ORACLE = f"""
SELECT
  CAST(SUM(len(regexp_extract_all(text, '{_PII_PATTERNS_SQL["email"]}'))) AS BIGINT) AS n_email,
  CAST(SUM(len(regexp_extract_all({_T1}, '{_PII_PATTERNS_SQL["ipv4"]}'))) AS BIGINT) AS n_ipv4,
  CAST(SUM(len(regexp_extract_all({_T2}, '{_PII_PATTERNS_SQL["phone"]}'))) AS BIGINT) AS n_phone,
  COUNT(*) AS n_docs
FROM documents
"""


@query("text_pii_scan", oracle=_PII_ORACLE)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PII match counts (emails / IPv4 / phone shapes) with
    the same RE2-compatible patterns on both engines. The synthetic
    corpus is word-soup (expect zeros) — the masking semantics are
    pinned by the crafted-row pytest; this query pins the pattern
    dialect compatibility and the scan shape."""
    from hadoop_common_spark.operators.textstats import pii_scrub

    scrubbed = pii_scrub(spark.table("documents"), "text")
    return scrubbed.agg(
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_BPE_MERGE_ORACLE = r"""
WITH words AS (
  SELECT w, COUNT(*) AS wc
  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair,
         wc
  FROM words WHERE length(w) >= 2
)
SELECT pair, pair_count, rank FROM (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count,
         CAST(ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, pair ASC) AS INT) AS rank
  FROM pairs GROUP BY pair
) WHERE rank <= 20
"""


@query("text_bpe_merge_pairs", oracle=_BPE_MERGE_ORACLE)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training iteration: corpus-weighted adjacent
    character-pair frequencies, top 20 (the pair a tokenizer trainer
    would merge first, then re-iterate). Two-stage frequency fold: word
    counts FIRST (the vocabulary is tiny vs the corpus — the same
    map-side-combine trick WordCount uses), then char pairs weighted by
    word count — the explode runs over distinct words, not raw text.
    Deterministic tie-break by pair string."""
    from pyspark.sql import Window

    words = (
        spark.table("documents")
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("pair_count"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
    )


_BOILERPLATE_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS gram
  FROM toks
)
SELECT gram, doc_freq FROM (
  SELECT gram, COUNT(*) AS doc_freq,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, gram ASC) AS rk
  FROM grams GROUP BY gram HAVING COUNT(*) >= 3
) WHERE rk <= 100
"""


@query("text_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word 5-grams appearing in >= 3 distinct
    documents, top 100 by document frequency (headers, footers, license
    blurbs — the candidate removal list every web-corpus pipeline
    maintains; CCNet/C4 dedup at exactly this granularity). Shingles are
    per-document distinct (word_shingles dedups), so COUNT(*) after the
    explode IS document frequency — no countDistinct(doc_id) shuffle of
    (gram, doc_id) pairs. orderBy+limit plans as TakeOrderedAndProject:
    per-partition heaps, no global sort."""
    from hadoop_common_spark.operators.dedup import word_shingles

    grams = spark.table("documents").select(
        F.explode(word_shingles("text", 5)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 3)
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(100)
    )


_CMS_W, _CMS_D = 1024, 4


def _cms_bucket_sql(expr: str, row: int) -> str:
    # single source of truth for the hash: the oracle fragment renders
    # from the same module as the Spark-side _bucket, so they cannot
    # drift apart
    from hadoop_common_spark.operators.cms import _bucket_sql

    return _bucket_sql(expr, row, _CMS_W)


_CMS_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents
),
tok AS (SELECT w FROM words WHERE w <> ''),
cells AS (
  SELECT r.row, CASE r.row
           {' '.join(f"WHEN {r} THEN {_cms_bucket_sql('w', r)}" for r in range(_CMS_D))}
         END AS bucket
  FROM tok, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS row) r
),
sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket),
probes AS (SELECT DISTINCT w FROM tok),
pcells AS (
  SELECT p.w, r.row, CASE r.row
           {' '.join(f"WHEN {r} THEN {_cms_bucket_sql('p.w', r)}" for r in range(_CMS_D))}
         END AS bucket
  FROM probes p, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS row) r
),
est AS (
  SELECT pc.w, MIN(COALESCE(s.cnt, 0)) AS est_count
  FROM pcells pc LEFT JOIN sketch s ON pc.row = s.row AND pc.bucket = s.bucket
  GROUP BY pc.w
)
SELECT w, est_count, rank FROM (
  SELECT w, est_count,
         ROW_NUMBER() OVER (ORDER BY est_count DESC, w ASC) AS rank
  FROM est
) WHERE rank <= 20
"""


@query("text_token_cms_topk", oracle=_CMS_ORACLE)
def text_token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a relational count-min sketch: token stream ->
    depth x width counter sketch (constant size, mergeable by re-summing
    — the incremental/streaming path) -> estimated counts for the
    vocabulary -> top 20. The md5-derived hashes make the sketch a pure
    function of the data, so the oracle rebuilds the IDENTICAL sketch
    and checks the estimates themselves — a differential check of the
    approximate tier, not just its error bound (those are
    property-tested in tests/test_operators.py::TestApproxSketches).
    At 100 TB the exact wordcount shuffles the full vocabulary; the
    sketch shuffle is bounded by depth x width regardless of input."""
    from hadoop_common_spark.operators.cms import cms_build, cms_estimate

    tok = (
        spark.table("documents")
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    sketch = cms_build(tok, "w", width=_CMS_W, depth=_CMS_D)
    est = cms_estimate(sketch, tok.distinct(), "w", width=_CMS_W, depth=_CMS_D)
    from pyspark.sql import Window

    # orderBy+limit -> TakeOrderedAndProject (per-partition heaps); the
    # rank window runs AFTER the limit, over 20 rows — never a
    # partition-less window across the whole vocabulary (that would be
    # the single-reducer funnel the sketch exists to avoid).
    top = est.orderBy(F.col("est_count").desc(), F.col("w").asc()).limit(20)
    wnd = Window.orderBy(F.col("est_count").desc(), F.col("w").asc())
    return top.withColumn("rank", F.row_number().over(wnd).cast("int"))


_FUZZY_ORACLE = """
WITH words AS (
  SELECT w, COUNT(*) AS wc FROM (
    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
grams AS (
  SELECT w, wc, unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 1), i -> substr(w, i, 2)))) AS g
  FROM words WHERE len(w) >= 2
),
cand AS (
  SELECT DISTINCT a.w AS w_a, b.w AS w_b, a.wc AS wc_a, b.wc AS wc_b
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.w < b.w
   AND abs(len(a.w) - len(b.w)) <= 2
)
SELECT w_a, w_b, CAST(levenshtein(w_a, w_b) AS INT) AS dist,
       CAST(wc_a AS BIGINT) AS wc_a, CAST(wc_b AS BIGINT) AS wc_b
FROM cand
WHERE levenshtein(w_a, w_b) <= 2
"""


@query("text_fuzzy_word_pairs", oracle=_FUZZY_ORACLE)
def text_fuzzy_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (typo/variant clustering): word pairs
    at edit distance <= 2, with q-gram blocking doing the scale work —
    candidates must share a character 2-gram and differ in length by at
    most 2, so the quadratic verify runs only inside tiny blocks, never
    all-pairs. (2 edits destroy at most 4 of a word's 2-grams, so the
    shared-gram filter is EXACT for words of length >= 6 and a recall
    heuristic below — the standard q-gram-filter trade.) The vocabulary
    is aggregated FIRST (corpus-size-independent, the wordcount trick),
    and levenshtein() is exact integer DP in both engines."""
    words = (
        spark.table("documents")
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    grams = words.select(
        "w",
        "wc",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            )
        ).alias("g"),
    )
    a = grams.select(
        F.col("g"), F.col("w").alias("w_a"), F.col("wc").alias("wc_a")
    )
    b = grams.select(
        F.col("g"), F.col("w").alias("w_b"), F.col("wc").alias("wc_b")
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("w_a") < F.col("w_b"))
        .filter(F.abs(F.length("w_a") - F.length("w_b")) <= 2)
        .select("w_a", "w_b", "wc_a", "wc_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("w_a", "w_b") <= 2).select(
        "w_a",
        "w_b",
        F.levenshtein("w_a", "w_b").cast("int").alias("dist"),
        F.col("wc_a").cast("bigint").alias("wc_a"),
        F.col("wc_b").cast("bigint").alias("wc_b"),
    )


# ---- BM25 retrieval scoring (engine extension) --------------------------
# Okapi BM25 with a LOG-FREE rarity weight (N/df, same determinism
# rationale as corpus_tfidf_topterms: ln() bit-patterns are libm-
# dependent, ratios are IEEE-exact in every engine). The per-term
# contributions are summed in FIXED expression order (t0 + t1 + t2), not
# via an aggregate, so the double result is bit-identical across engines
# and partitionings.
_BM25_Q = ["spark", "vector", "merge"]
_BM25_K1, _BM25_B = 1.5, 0.75

# greatest(df, 1): a query term absent from the corpus (df=0) must score
# 0 for every doc (tf=0 numerator), not NULL (Spark x/0) vs inf*0=NaN
# (DuckDB float division) — guarded IDENTICALLY on both engines.
_BM25_PARTS_SQL = " + ".join(
    f"(CAST(n_docs AS DOUBLE) / greatest(df_{i}, 1.0)) * "
    f"(tf_{i} / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"
    for i in range(len(_BM25_Q))
)

_BM25_CTES = rf"""toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
  FROM documents
),
tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tk GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id,
         {', '.join(f"CAST(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_{i}" for i, t in enumerate(_BM25_Q))}
  FROM tk GROUP BY doc_id
),
dfreq AS (
  SELECT
    {', '.join(f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}" for i in range(len(_BM25_Q)))}
  FROM tf
),
scored AS (
  SELECT tf.doc_id, ({_BM25_PARTS_SQL}) AS score
  FROM tf JOIN dl USING (doc_id), corpus, dfreq
)"""

_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 10
"""


def _bm25_scored(spark: SparkSession) -> DataFrame:
    """(doc_id, score) BM25 frame shared by text_bm25_topk and
    hybrid_search_rerank — one definition of the scoring plan."""
    docs = spark.table("documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).cast("double").alias(f"tf_{i}")
            for i, t in enumerate(_BM25_Q)
        ],
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).cast("double").alias(f"df_{i}")
            for i in range(len(_BM25_Q))
        ],
    )
    parts = None
    for i in range(len(_BM25_Q)):
        # greatest(df,1): zero-df query terms score 0, not NULL (see the
        # identical guard in _BM25_PARTS_SQL)
        term_part = (
            F.col("n_docs").cast("double") / F.greatest(F.col(f"df_{i}"), F.lit(1.0))
        ) * (
            F.col(f"tf_{i}")
            / (
                F.col(f"tf_{i}")
                + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        parts = term_part if parts is None else parts + term_part
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id", parts.alias("score")
    )


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a fixed query-term set — the
    retrieval primitive of RAG-corpus curation, as a pure relational
    plan: tokenize once, per-doc lengths + per-term tfs in ONE
    conditional aggregation, corpus stats (N, avgdl, per-term df) reduced
    to a single broadcast row, then a take-ordered top-10 (never a global
    sort). Rarity weight is the log-free N/df (see module comment)."""
    from pyspark.sql import Window

    scored = _bm25_scored(spark)
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    # rank window runs on the 10 surviving rows only (post take-ordered)
    return top.withColumn("rank", F.row_number().over(w))


# ---- bigram-LM familiarity (perplexity-proxy filtering) -----------------
_BIGRAM_ORACLE = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS a
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i] || ' ' || a[i + 1])) AS bg
  FROM arr
),
c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY bg),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
  FROM c2 GROUP BY 1
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(c2.c2) AS BIGINT) AS sum_bigram,
       CAST(SUM(c1.c1) AS BIGINT) AS sum_prefix,
       CAST(SUM(c2.c2) AS DOUBLE) / CAST(SUM(c1.c1) AS DOUBLE) AS familiarity
FROM bg
JOIN c2 USING (bg)
JOIN c1 ON split_part(bg.bg, ' ', 1) = c1.w1
GROUP BY bg.doc_id
"""


@query("corpus_bigram_familiarity", oracle=_BIGRAM_ORACLE)
def corpus_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a corpus-fit bigram model
    (the KenLM-filtering idiom of LLM data pipelines, relational form):
    familiarity = Σ c(w1,w2) / Σ c(w1·) over a doc's bigrams — high for
    docs whose bigrams are corpus-typical, low for noise. Determinism by
    construction: both sums are exact integers (one double division at
    the end), so no float-aggregation-order hazard. Scale: bigram counts
    are hash aggregations; the occurrence joins shuffle on bigram/prefix
    keys — linear in tokens, no all-pairs anywhere. Docs with < 2 tokens
    have no bigrams and drop out (same in the oracle)."""
    docs = spark.table("documents")
    arr = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    bigrams = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    c1 = (
        c2.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .agg(F.sum("c2").cast("bigint").alias("c1"))
    )
    return (
        bg.join(c2, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("c2").cast("bigint").alias("sum_bigram"),
            F.sum("c1").cast("bigint").alias("sum_prefix"),
        )
        .withColumn(
            "familiarity",
            F.col("sum_bigram").cast("double") / F.col("sum_prefix").cast("double"),
        )
    )


# ---- hybrid retrieval: BM25 recall -> embedding rerank ------------------
def _hybrid_oracle() -> str:
    from hadoop_common_spark.operators.similarity import cosine_sql

    return f"""
WITH {_BM25_CTES},
bmtop AS (
  SELECT doc_id, score AS bm25 FROM (
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
    FROM scored
  ) WHERE rk <= 20
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
rer AS (
  SELECT b.doc_id, b.bm25,
         {cosine_sql('e.embedding', 'qv.q')} AS cos
  FROM bmtop b JOIN embeddings e ON b.doc_id = e.vec_id, qv
)
SELECT doc_id, bm25, cos, rank FROM (
  SELECT doc_id, bm25, cos,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS INT) AS rank
  FROM rer
) WHERE rank <= 10
"""


@query("hybrid_search_rerank", oracle=_hybrid_oracle())
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the modern RAG search pipeline END-TO-END:
    BM25 lexical recall (top-20 candidates — cheap, high-recall) ->
    embedding rerank by exact cosine to a query vector (vec_id 0's
    embedding; documents and embeddings align on doc_id == vec_id) ->
    final top-10 carrying both scores. The candidate set is take-ordered
    (no global sort), the embedding join touches 20 rows, and the query
    vector broadcasts — at 100 TB only the BM25 recall stage scans the
    corpus; the rerank cost is per-candidate."""
    from pyspark.sql import Window

    from hadoop_common_spark.operators.similarity import dot_exact

    scored = _bm25_scored(spark)
    bmtop = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.col("score").alias("bm25"))
    )
    emb = spark.table("embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    normed = emb.select(
        F.col("vec_id"), vd.alias("e"), F.sqrt(dot_exact(vd, vd)).alias("nrm")
    )
    qv = normed.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("q"), F.col("nrm").alias("qn")
    )
    rer = (
        bmtop.join(normed, bmtop["doc_id"] == normed["vec_id"])
        .crossJoin(F.broadcast(qv))
        .withColumn(
            "cos", dot_exact(F.col("e"), F.col("q")) / (F.col("nrm") * F.col("qn"))
        )
        .select("doc_id", "bm25", "cos")
    )
    w = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        rer.orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )


_GOPHER_ORACLE = r"""
SELECT doc_id, word_count_ok, mean_word_len_ok, hash_ratio_ok,
       ellipsis_ratio_ok, stopword_ok, alpha_word_ok, distinct_ratio_ok,
       (word_count_ok AND mean_word_len_ok AND hash_ratio_ok
        AND ellipsis_ratio_ok AND stopword_ok AND alpha_word_ok
        AND distinct_ratio_ok) AS keep
FROM (
  SELECT doc_id,
         n_tok BETWEEN 50 AND 100000 AS word_count_ok,
         n_tok > 0 AND (CAST(sum_tok_chars AS DOUBLE) / n_tok) BETWEEN 3.0 AND 10.0
           AS mean_word_len_ok,
         n_tok > 0 AND (CAST(n_hash AS DOUBLE) / n_tok) < 0.1 AS hash_ratio_ok,
         n_tok > 0 AND (CAST(n_ellipsis AS DOUBLE) / n_tok) < 0.3
           AS ellipsis_ratio_ok,
         n_stop >= 2 AS stopword_ok,
         n_tok > 0 AND (CAST(n_alpha_tok AS DOUBLE) / n_tok) >= 0.8
           AS alpha_word_ok,
         n_tok > 0 AND (CAST(n_dist AS DOUBLE) / n_tok) > 0.2
           AS distinct_ratio_ok
  FROM (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_dist,
           CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
                AS BIGINT) AS sum_tok_chars,
           length(text) - length(replace(text, '#', '')) AS n_hash,
           (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis,
           len(list_filter(toks, t -> list_contains(
               ['the','be','to','of','and','that','have','with'], lower(t))))
             AS n_stop,
           len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
             AS n_alpha_tok
    FROM (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents
    )
  )
)
"""


@query("corpus_gopher_filter", oracle=_GOPHER_ORACLE)
def corpus_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher data-quality rule set as ONE scan-speed
    projection — per-document rule booleans plus the conjunction `keep`:
    word-count band (50..100k), mean word length band (3..10), '#' and
    '...' symbol ratios, >=2 canonical stopwords, >=80% alphabetic
    words, distinct-token ratio > 0.2. Every rule is a built-in
    expression over one scan (zero shuffles, zero UDFs); at 100 TB this
    runs at I/O speed, which is the entire point of rule-based quality
    filtering before any model-based scoring."""
    toks = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    base = spark.table("documents").select(
        "doc_id",
        F.col("text"),
        toks.alias("toks"),
    )
    n_tok = F.size("toks")
    sum_chars = F.coalesce(
        F.aggregate(
            F.transform(F.col("toks"), lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ),
        F.lit(0).cast("bigint"),
    )
    stop = F.array(*[F.lit(s) for s in
                     ["the", "be", "to", "of", "and", "that", "have", "with"]])
    n_stop = F.size(F.filter(F.col("toks"), lambda t: F.array_contains(stop, F.lower(t))))
    n_alpha = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[A-Za-z]")))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    flags = base.select(
        "doc_id",
        n_tok.between(50, 100000).alias("word_count_ok"),
        ((n_tok > 0) & (sum_chars.cast("double") / n_tok).between(3.0, 10.0)).alias(
            "mean_word_len_ok"
        ),
        ((n_tok > 0) & (n_hash.cast("double") / n_tok < 0.1)).alias("hash_ratio_ok"),
        ((n_tok > 0) & (n_ell.cast("double") / n_tok < 0.3)).alias("ellipsis_ratio_ok"),
        (n_stop >= 2).alias("stopword_ok"),
        ((n_tok > 0) & (n_alpha.cast("double") / n_tok >= 0.8)).alias("alpha_word_ok"),
        (
            (n_tok > 0)
            & (F.size(F.array_distinct("toks")).cast("double") / n_tok > 0.2)
        ).alias("distinct_ratio_ok"),
    )
    keep = (
        F.col("word_count_ok")
        & F.col("mean_word_len_ok")
        & F.col("hash_ratio_ok")
        & F.col("ellipsis_ratio_ok")
        & F.col("stopword_ok")
        & F.col("alpha_word_ok")
        & F.col("distinct_ratio_ok")
    )
    return flags.withColumn("keep", keep)


# Hard-negative mining for retrieval training: lexically-similar
# documents (high BM25 for the query) that are NOT near-duplicates of
# the top hit — the classic "hard negatives" a contrastive retriever
# trains against. Composes two existing tiers in one lazy plan: the BM25
# scorer and the MinHash band-candidate graph (near-dup exclusion uses
# the CANDIDATE stage — anything sharing a band with the anchor is too
# close to be a negative).
def _hard_neg_oracle() -> str:
    from hadoop_common_spark.queries.dedup import _MINHASH_CTES

    return f"""
WITH {_BM25_CTES},
{_MINHASH_CTES},
anchor AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
nd AS (
  SELECT CASE WHEN c.id_a = a.doc_id THEN c.id_b ELSE c.id_a END AS doc_id
  FROM cand c, anchor a
  WHERE c.id_a = a.doc_id OR c.id_b = a.doc_id
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
  WHERE doc_id NOT IN (SELECT doc_id FROM nd)
    AND doc_id NOT IN (SELECT doc_id FROM anchor)
) WHERE rank <= 10
"""


@query("text_hard_negatives", oracle=_hard_neg_oracle())
def text_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hard negatives for the fixed BM25 query: highest-BM25
    documents excluding the anchor (top-1 hit) and every MinHash
    band-candidate of the anchor. The anchor is a ONE-ROW frame joined
    broadcast (no collect); near-dup exclusion is a left-anti join
    against the band candidates touching the anchor — both sides reuse
    the existing scorer/banding plans, so the whole mine is one lazy
    DAG with TakeOrderedAndProject at the top."""
    from hadoop_common_spark.queries.dedup import _band_candidates
    from pyspark.sql import Window

    scored = _bm25_scored(spark)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    anchor = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("anchor_id"))
    )

    cand = _band_candidates(spark.table("documents"))
    nd = (
        cand.join(
            F.broadcast(anchor),
            (F.col("id_a") == F.col("anchor_id")) | (F.col("id_b") == F.col("anchor_id")),
        )
        .select(
            F.when(F.col("id_a") == F.col("anchor_id"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("doc_id")
        )
    )
    excluded = nd.unionByName(anchor.select(F.col("anchor_id").alias("doc_id")))
    kept = scored.join(excluded, "doc_id", "left_anti")
    return (
        kept.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "score", "rank")
    )


# Inverted index — the canonical MapReduce example (the reference ships
# wordcount/grep; the inverted index is the retrieval-side sibling every
# search/RAG pipeline builds over a corpus): term -> document-frequency,
# total term-frequency, and the head of the postings list. The postings
# HEAD is the part that breaks at 100 TB (a stopword's full postings
# list is the corpus), so it is computed with the two-phase grouped
# top-k (operators/skew.py) — a hot term spreads over n_salts reducers
# and at most k*n_salts of its rows survive to the final per-term rank.
_INVINDEX_ORACLE = r"""
WITH occ AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS term
  FROM documents WHERE trim(text) <> ''
),
pairs AS (SELECT term, doc_id, COUNT(*) AS tf FROM occ GROUP BY term, doc_id),
stats AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(tf) AS BIGINT) AS tf_total
  FROM pairs GROUP BY term
),
heads AS (
  SELECT term,
         array_to_string(
           list_transform(list_slice(list(doc_id ORDER BY doc_id), 1, 5),
                          x -> CAST(x AS VARCHAR)), ',') AS top_postings
  FROM pairs GROUP BY term
)
SELECT term, df, tf_total, top_postings
FROM stats JOIN heads USING (term)
ORDER BY df DESC, term
LIMIT 100
"""


@query("text_inverted_index", oracle=_INVINDEX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index head: per term, document frequency, total term
    frequency, and the first 5 doc_ids of the postings list (ascending,
    comma-joined); top-100 terms by df. Scale: ONE (term, doc_id)
    aggregation feeds both legs; df/tf_total are map-side-combined
    BIGINT partials; the postings head uses the skew-proof two-phase
    grouped top-k so a stopword never funnels its full postings list
    through one reducer; final join is term-keyed on already-tiny
    sides; top-100 is TakeOrderedAndProject."""
    from hadoop_common_spark.operators.skew import top_k_per_group_two_phase

    docs = spark.table("documents").filter(F.trim(F.col("text")) != "")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    pairs = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("tf_total"),
    )
    heads = (
        top_k_per_group_two_phase(
            pairs.select("term", "doc_id"), ["term"], 5, [F.col("doc_id").asc()]
        )
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("top_postings")
        )
    )
    return (
        stats.join(heads, "term")
        .select("term", "df", "tf_total", "top_postings")
        .orderBy(F.col("df").desc(), "term")
        .limit(100)
    )


# Windowed PMI co-occurrence (the collocation/phrase-mining statistic —
# word2vec's SGNS objective is implicitly factorizing this matrix):
# token pairs within distance <= 3, scored by the ratio form of PMI.
# DETERMINISM NOTE: log-free by construction — pmi_ratio =
# (N * c_ab) / (c_a * c_b) over exact BIGINT counts, evaluated with one
# fixed association order of IEEE multiplies/divides (correctly rounded,
# bit-identical on both engines); no transcendental anywhere.
_PMI_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents WHERE trim(text) <> ''
),
uni AS (
  SELECT u AS tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
),
pairs AS (
  SELECT least(t[i], t[i + d]) AS tok_a, greatest(t[i], t[i + d]) AS tok_b
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, least(3, len(t) - 1))) AS d) ds,
       LATERAL (SELECT unnest(generate_series(1, len(t) - d)) AS i) isq
),
pc AS (
  SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM pairs GROUP BY tok_a, tok_b
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
SELECT tok_a, tok_b, c_ab, ua.c AS c_a, ub.c AS c_b,
       (CAST(n_pairs AS DOUBLE) * CAST(c_ab AS DOUBLE))
         / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS pmi_ratio
FROM pc
JOIN uni ua ON pc.tok_a = ua.tok
JOIN uni ub ON pc.tok_b = ub.tok
CROSS JOIN tot
WHERE c_ab >= 5
ORDER BY pmi_ratio DESC, tok_a, tok_b
LIMIT 100
"""


@query("text_pmi_pairs", oracle=_PMI_ORACLE)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 token collocations by ratio-form PMI over a +/-3-token
    co-occurrence window (c_ab >= 5). Pair generation is MAP-SIDE
    row-form double explode (operators/textstats.cooccurrence_pair_rows
    — no self-join on position, which would shuffle every token once
    per window slot; the interpreted zip_with array build it replaces
    measured 4× slower at the 100× tier, and per-element element_at
    inside transform(sequence(...)) 30x slower still at sf0.1); pair
    and unigram counts are map-side-combined aggregations,
    and the pair aggregate feeds both the filtered table and the grand
    total through one ReusedExchange; the two vocabulary joins are hash
    joins keyed on the token; N attaches as a broadcast single-row
    scalar; top-100 is TakeOrderedAndProject."""
    from hadoop_common_spark.operators.textstats import cooccurrence_pair_rows

    docs = spark.table("documents").filter(F.trim(F.col("text")) != "")
    t = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    # row-form pair generation (double explode + post-Generate indexing):
    # the explode(zip_with(...)) form ran the pair build interpreted —
    # measured 4× slower at the 100× tier (see cooccurrence_pair_rows)
    pairs = cooccurrence_pair_rows(docs, t, 3)
    uni = (
        docs.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # pc_all feeds BOTH the filtered pair table and the grand total, so
    # the expensive pair aggregation's shuffle is computed once and
    # reused (identical subplan -> ReusedExchange), instead of paying
    # the explode+agg twice
    pc_all = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    pc = pc_all.filter(F.col("c_ab") >= 5)
    tot = pc_all.agg(F.sum("c_ab").cast("bigint").alias("n_pairs"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    pmi = (F.col("n_pairs").cast("double") * F.col("c_ab").cast("double")) / (
        F.col("c_a").cast("double") * F.col("c_b").cast("double")
    )
    return (
        pc.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select("tok_a", "tok_b", "c_ab", "c_a", "c_b", pmi.alias("pmi_ratio"))
        .orderBy(F.col("pmi_ratio").desc(), "tok_a", "tok_b")
        .limit(100)
    )


# Hashed-feature linear classifier INFERENCE — the fastText-style
# quality-filter pass every LLM corpus runs (CCNet/RefinedWeb keep/drop
# models): score = sum over tokens of w[h(token) mod B]. The hashing
# trick is the entire scale story: no vocabulary table, no dictionary
# join — the model is a pure function of the token bytes, so inference
# is map-side-only at any corpus size. Weights here are a deterministic
# md5-derived stand-in (the engine ships the scoring OPERATOR; a real
# deployment broadcasts trained coefficients keyed by bucket — same
# plan, one bounded broadcast more).
_QLIN_B = 4096


def _qlin_w_sql() -> str:
    """DuckDB weight-of-token fragment — THE scorer definition's SQL
    rendering; text_quality_linear_score and text_score_calibration must
    score identically (the split_90_5_5 one-definition rule), so both
    oracles render from this helper."""
    from hadoop_common_spark.operators.dedup import hash60_sql

    bucket = hash60_sql("t") + f" % {_QLIN_B}"
    return hash60_sql(f"'qlw:' || CAST({bucket} AS VARCHAR)") + " % 2001 - 1000"


def _qlin_toks_col():
    """Token array of lower(trim(text)) — Spark side of the scorer."""
    return F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )


def _qlin_score_col(toks):
    """Exact-BIGINT hashed-feature score over a token array column."""
    from hadoop_common_spark.operators.dedup import hash60

    def w(t):
        bucket = F.pmod(hash60(t), F.lit(_QLIN_B))
        return (
            F.pmod(
                hash60(F.concat(F.lit("qlw:"), bucket.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )

    return F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + w(t).cast("bigint")
    )


def _qlin_oracle() -> str:
    w = _qlin_w_sql()
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(COALESCE(list_sum(list_transform(ts, t -> {w})), 0)
            AS BIGINT) AS lin_score,
       CAST(COALESCE(list_sum(list_transform(ts, t -> {w})), 0) >= 0
            AS INT) AS quality_pass
FROM toks
"""


@query("text_quality_linear_score", oracle=_qlin_oracle())
def text_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document linear quality score: tokens of lower(trim(text)),
    bucket = hash60(token) mod 4096, weight = hash60-derived integer in
    [-1000, 1000], score = exact BIGINT sum, pass = score >= 0. The
    whole model evaluates inside one F.aggregate over the token array —
    ZERO shuffles, no UDF, no vocabulary join (the hashing trick); the
    plan is a single projected scan, which is why this filter is
    affordable as the first pass over 100 TB."""
    toks = _qlin_toks_col()
    score = _qlin_score_col(toks)
    return (
        spark.table("documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            score.alias("lin_score"),
            (score >= 0).cast("int").alias("quality_pass"),
        )
    )


# Score calibration (r6) — the eval-family member for the linear
# quality scorer: bin documents by model score and report per-bin
# agreement with an independent label (is the doc long, n_chars >=
# 300). A reliability-diagram table is how a corpus pipeline decides
# where to put the keep/drop threshold and whether the scorer is
# monotone against ground truth. Bin = floor(score/500) computed in
# DOUBLE on both engines (|score| <= ~1000*n_tokens << 2^52, so the
# division and floor are exact — avoids the Spark `div`-truncates vs
# DuckDB `//`-floors divergence on negatives).
def _calib_oracle() -> str:
    # renders THE scorer (_qlin_w_sql) — never a local copy, so a scorer
    # tune can't silently leave the calibration measuring the old model
    w = _qlin_w_sql()
    return f"""
WITH toks AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents WHERE trim(text) <> ''
),
scored AS (
  SELECT doc_id, n_chars,
         CAST(COALESCE(list_sum(list_transform(ts, t -> {w})), 0)
              AS BIGINT) AS lin_score
  FROM toks
)
SELECT CAST(FLOOR(CAST(lin_score AS DOUBLE) / 500.0) AS INT) AS score_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_label_pos,
       CAST(MIN(lin_score) AS BIGINT) AS min_score,
       CAST(MAX(lin_score) AS BIGINT) AS max_score
FROM scored GROUP BY score_bin
"""


@query("text_score_calibration", oracle=_calib_oracle())
def text_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for text_quality_linear_score: per 500-wide
    score bin, document count and positives of an independent length
    label (n_chars >= 300). Scale: the scorer stays the zero-shuffle
    hashed-feature map-side pass; the calibration adds exactly ONE
    partial-aggregated shuffle over |bins| groups (dozens of rows
    whatever the corpus size)."""
    score = _qlin_score_col(_qlin_toks_col())
    return (
        spark.table("documents")
        .filter(F.trim(F.col("text")) != "")
        .select(score.alias("lin_score"), "n_chars")
        .groupBy(
            F.floor(F.col("lin_score").cast("double") / 500.0)
            .cast("int")
            .alias("score_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_chars") >= 300).cast("int"))
            .cast("bigint")
            .alias("n_label_pos"),
            F.min("lin_score").cast("bigint").alias("min_score"),
            F.max("lin_score").cast("bigint").alias("max_score"),
        )
    )
