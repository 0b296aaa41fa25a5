"""Graph queries: iterative algorithms as first-class relational plans.

PageRank here is the training-pipeline shape (link-graph quality
signals for corpus filtering — the published web-corpus pipelines weight
documents by centrality); connected components (the other iterative
graph op) lives in operators/graph.py and is oracle-checked via
dedup_cluster_resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.queries import query

_UNIT = 10**12
_DAMP = 85
_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank (5 iterations) over the
    customer→supplier purchase graph. Every step is integer arithmetic
    (see operators/graph.pagerank_fixed_point), so the CTE chain is
    bit-identical to the Spark loop. DuckDB SUM(BIGINT) yields HUGEINT —
    cast back at every step."""
    base = (_UNIT * (100 - _DAMP)) // 100
    ctes = [
        "e AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS v "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u)",
        "ed AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u))",
        "nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        f"r0 AS (SELECT node, CAST({_UNIT} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT n.node, CAST({base} + {_DAMP} * (COALESCE(c.s, 0) // 100) + ({_DAMP} * (COALESCE(c.s, 0) % 100)) // 100 AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN (SELECT ed.v, CAST(SUM(rank // deg) AS BIGINT) AS s "
            f"FROM ed JOIN r{i} ON ed.u = r{i}.node GROUP BY ed.v) c ON n.node = c.v)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{_ITERS}"


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (5 iterations, d=0.85) over the
    customer→supplier purchase graph. Integer micro-unit ranks make the
    iteration order- and engine-independent (float PageRank is not
    reproducible under re-partitioning); each iteration is the canonical
    two-shuffle join+agg, lineage truncated every other round — the plan
    shape that runs PageRank on billion-edge graphs."""
    from hadoop_common_spark.operators.graph import pagerank_fixed_point

    edges = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
    )
    return pagerank_fixed_point(
        edges, "src", "dst", iters=_ITERS, unit=_UNIT, damping_pct=_DAMP
    )


# Distinct undirected adjacent-bigram edges e(u < v) of the documents'
# whitespace tokens: the word co-occurrence graph of both bigram queries.
_BIGRAM_EDGE_CTES = r"""WITH bg AS (
  SELECT doc_id, t AS toks
  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        FROM documents)
),
raw AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> [toks[i], toks[i + 1]])) AS pr
  FROM bg
),
e AS (
  SELECT DISTINCT least(pr[1], pr[2]) AS u, greatest(pr[1], pr[2]) AS v
  FROM raw WHERE pr[1] <> pr[2]
),
"""

_TRIANGLE_ORACLE = f"""
{_BIGRAM_EDGE_CTES}nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
SELECT
  CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT COUNT(*)
        FROM e a JOIN e b ON b.u = a.v JOIN e c ON c.u = a.u AND c.v = b.v
       ) AS BIGINT) AS n_triangles
"""


def _bigram_edges(spark: SparkSession) -> DataFrame:
    """Spark side of _BIGRAM_EDGE_CTES: one (src, dst) row per adjacent
    token pair; the triangle operators orient and dedup them."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    prs = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    return (
        spark.table("documents")
        .select(F.explode(prs).alias("p"))
        .select(F.col("p.w1").alias("src"), F.col("p.w2").alias("dst"))
    )


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the word co-occurrence graph (distinct
    adjacent-bigram edges) — the standard clustering-coefficient
    primitive, computed with degree-ordered orientation so wedge fan-out
    is bounded by O(sqrt(m)) per node regardless of hub words ('the'
    neighboring half the vocabulary is exactly the skew case the
    orientation neutralizes). The oracle counts the same triangles via
    the canonical x<y<z three-way join."""
    from hadoop_common_spark.operators.graph import triangle_count

    return triangle_count(_bigram_edges(spark), "src", "dst")


_CLUSTERING_ORACLE = f"""
{_BIGRAM_EDGE_CTES}deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e a JOIN e b ON b.u = a.v JOIN e c ON c.u = a.u AND c.v = b.v
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS node FROM tri)
  GROUP BY node
)
SELECT deg.node, deg.deg,
       CAST(COALESCE(per_node.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg >= 2
            THEN (2.0 * CAST(COALESCE(per_node.n_triangles, 0) AS DOUBLE))
                 / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN per_node USING (node)
"""


@query("graph_clustering_coefficient", oracle=_CLUSTERING_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the word co-occurrence
    graph (2T / deg(deg-1)) — the node-level companion of
    graph_triangle_count, same degree-ordered wedge pipeline with each
    closed triangle crediting its three vertices. Integer counts + one
    final double division keep coefficients engine-exact."""
    from hadoop_common_spark.operators.graph import triangle_participation

    return triangle_participation(_bigram_edges(spark), "src", "dst")

_LP_ROUNDS = 3

# bipartite purchase graph with disjoint id namespaces (2*custkey vs
# 2*suppkey+1 — custkeys and suppkeys overlap as raw ints). The
# small-quantity filter sparsifies the otherwise near-complete bipartite
# graph so 3 rounds leave real structure (18 labels over ~1.2k nodes at
# sf0.01 instead of total collapse) — and it's a pushed-down scan
# predicate, not a post-join filter.
_LP_EDGES_SQL = """
e0 AS (SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       WHERE l_quantity <= 2)
"""


def _purchase_edges(spark: SparkSession) -> DataFrame:
    """Spark side of _LP_EDGES_SQL (duplicates kept): the sparsified
    bipartite purchase graph in the 2*custkey / 2*suppkey+1 encoding."""
    return (
        spark.table("orders")
        .join(spark.table("lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_quantity") <= 2)
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
    )


def _label_prop_oracle() -> str:
    ctes = [
        _LP_EDGES_SQL.strip(),
        "und AS (SELECT src AS u, dst AS v FROM e0 UNION SELECT dst, src FROM e0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)",
    ]
    for i in range(_LP_ROUNDS):
        ctes.append(
            f"l{i + 1} AS (SELECT l.node, least(l.label, COALESCE(m.nl, l.label)) AS label "
            f"FROM l{i} l LEFT JOIN (SELECT und.u, MIN(p.label) AS nl "
            f"FROM und JOIN l{i} p ON und.v = p.node GROUP BY und.u) m ON l.node = m.u)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l{_LP_ROUNDS} GROUP BY label"
    )


@query("graph_label_propagation", oracle=_label_prop_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round min-label propagation over the bipartite
    customer–supplier purchase graph (3 BSP rounds, one neighbor-min
    shuffle each — see operators/graph.min_label_rounds): the label
    histogram shows the component structure forming. A constant round
    count keeps the whole computation one declarative, oracle-replayable
    plan; run-to-convergence CC (pointer jumping, O(log n) rounds) is
    the operators/graph.connected_components path checked via
    dedup_cluster_resolution."""
    from hadoop_common_spark.operators.graph import min_label_rounds

    labels = min_label_rounds(_purchase_edges(spark), rounds=_LP_ROUNDS)
    return labels.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))


_BFS_ROUNDS = 4


def _bfs_oracle() -> str:
    """Unrolled fixed-round BFS (4 rounds) over the sparsified bipartite
    purchase graph — pure integer hop counts, so the CTE chain replays
    the Spark BSP loop bit-identically."""
    ctes = [
        "e0 AS (SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE l_quantity <= 2)",
        "und AS (SELECT DISTINCT u, v FROM "
        "(SELECT src AS u, dst AS v FROM e0 UNION ALL SELECT dst, src FROM e0))",
        "nodes AS (SELECT DISTINCT u AS node FROM und)",
        "d0 AS (SELECT node, CASE WHEN node = (SELECT MIN(node) FROM nodes) "
        "THEN CAST(0 AS BIGINT) END AS dist FROM nodes)",
    ]
    for i in range(_BFS_ROUNDS):
        ctes.append(
            f"d{i + 1} AS (SELECT n.node, "
            "LEAST(COALESCE(n.dist, c.cand), COALESCE(c.cand, n.dist)) AS dist "
            f"FROM d{i} n LEFT JOIN ("
            "SELECT und.u AS node, CAST(MIN(d.dist) + 1 AS BIGINT) AS cand "
            f"FROM und JOIN d{i} d ON und.v = d.node "
            "WHERE d.dist IS NOT NULL GROUP BY und.u) c ON n.node = c.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, dist AS distance FROM d{_BFS_ROUNDS} WHERE dist IS NOT NULL"
    )


@query("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round BFS / unweighted single-source shortest paths (4 BSP
    rounds) from the minimum node id over the sparsified bipartite
    customer–supplier purchase graph (same 2k / 2k+1 node encoding as
    graph_label_propagation) — the reachability/lineage primitive the
    graph tier lacked (PageRank = centrality, CC = clustering, triangles
    = density, label-prop = communities, BFS = distance). Per round: ONE
    neighbor-min shuffle over the (node, dist) state — state is linear
    in nodes, never in edges, and the constant round count keeps it one
    declarative oracle-replayable plan. Returns reached nodes only."""
    from hadoop_common_spark.operators.graph import bfs_min_distance

    return bfs_min_distance(_purchase_edges(spark), "src", "dst", rounds=_BFS_ROUNDS)
