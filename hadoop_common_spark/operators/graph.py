"""Distributed connected components over an edge DataFrame.

The missing last step of every near-duplicate pipeline: MinHash/SimHash/
Jaccard emit *pairs*, but deduplicating a corpus needs *clusters* —
duplicate groups are transitive (A~B, B~C => {A,B,C} even if A!~C), and
the keep-one decision is per cluster, not per pair.

The reference engine has no graph operator; its closest artifact is the
chained-jobs idiom (JobControl, MRC/mapreduce/lib/jobcontrol/
JobControl.java:57) that this loop generalizes: each iteration is one
declarative Spark job, the driver only orchestrates.

Algorithm: hash-min label propagation with pointer jumping.
  - neighbor-min: label(u) <- min(label(u), min_{v in N(u)} label(v))
  - pointer jump: label(u) <- label(label(u))  (path compression)
The jump step gives the O(log n)-round convergence of the small-star/
large-star family (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) instead of O(diameter) for plain propagation —
the difference between 5 and 500 shuffles on a chain-shaped cluster.

Scale notes (100 TB): state per round is one (node, label) table —
linear in nodes, never materializes components; every step is an
equi-join Catalyst plans as a shuffle (or broadcast, if the frontier
collapses) hash join; `localCheckpoint` truncates the growing lineage so
round N doesn't replay rounds 1..N-1; convergence is an ``Observation``
metric (count of changed labels) collected by the eager localCheckpoint's
own job — no separate count() action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough).
    Nodes appearing only as isolated endpoints still get a row; callers
    wanting singleton nodes not present in any edge should left-join the
    result onto their full node set (see queries/dedup.py).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # CLOSED-neighborhood edges (self-loop per node): min over them in one
    # join+agg IS least(own label, neighbor min) — this folds the separate
    # per-round least() left-join the r2-r4 form paid into the aggregate
    # (measured: one fewer shuffle join per round, ~25% off CC wall time
    # at the 10x tier where per-round job overhead dominates)
    sym = sym.unionByName(
        labels.select(F.col("node").alias("u"), F.col("node").alias("v"))
    ).localCheckpoint(eager=True)

    from pyspark.sql import Observation

    for i in range(max_iter):
        # neighbor-min over the closed neighborhood (includes self); the
        # self-loop row (v == u) carries the node's OWN previous label, so
        # one aggregate yields both the stepped label and the old label —
        # convergence later needs no join back to the previous round
        stepped = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("v") == F.col("u"), F.col("label"))).alias("_old"),
            )
        )
        # pointer jump: compress label -> label(label)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # convergence as an OBSERVED metric on the checkpoint's own job
        # (metrics are collected when the eager localCheckpoint executes,
        # verified on this Spark) — the r2-r11 form ran a separate
        # filter+limit(1).count() job per round over the checkpointed
        # frame; at small per-round volumes the loop's cost is JOBS, not
        # rows, so one job per round instead of two is ~25% off the whole
        # CC wall time (measured on the minhash-pairs cluster graph).
        obs = Observation(f"cc_round_{i}")
        jumped = (
            stepped.join(parent, stepped["label"] == parent["p_node"], "left")
            .select(
                "node",
                F.coalesce("p_label", "label").alias("label"),
                "_old",
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("_old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("node", "label")
        if (obs.get.get("changed") or 0) == 0:
            break

    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_blocked(
    edges: DataFrame, src: str, dst: str, block_col: str
) -> DataFrame:
    """Exact connected components for a BLOCK-PARTITIONED edge set: every
    edge lies within one block and every node appears in exactly one
    block. Callers: ``corpus_semantic_dedup`` (single-bucket LSH — pairs
    only ever join vectors of the same bucket) and
    ``entity_link_clusters`` (pairs only join records of the same
    nation, and each record has one nation).

    The disjoint-union structure turns the O(log n)-round iterative CC
    into ONE shuffle on the block key + a per-block union-find in a
    ``groupBy().applyInArrow`` kernel over pyarrow tables (no pandas
    frame is built per block) — no driver loop, no per-round
    checkpoint/convergence jobs. Per-task cost is O(E_block α); block
    occupancy is the same knob that already bounds candidate-pair
    generation, so a block that fits the pair join fits this too. For
    graphs whose edges CROSS blocks (MinHash bands, multi-probe LSH) use
    :func:`connected_components` — this operator's precondition is the
    caller's to guarantee.

    Returns (node, component) with component = min node id in the
    cluster, identical to :func:`connected_components` on any input
    meeting the precondition."""
    import pyarrow as pa

    def per_block(tbl: pa.Table) -> pa.Table:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        us, vs = tbl.column(src).to_pylist(), tbl.column(dst).to_pylist()
        for a, b in zip(us, vs):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = sorted(set(us) | set(vs))
        return pa.table(
            {
                "node": pa.array(nodes, pa.int64()),
                "component": pa.array([find(n) for n in nodes], pa.int64()),
            }
        )

    return (
        edges.select(F.col(block_col).alias("_blk"), src, dst)
        .groupBy("_blk")
        .applyInArrow(per_block, "node long, component long")
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    unit: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over a directed edge list in FIXED-POINT integer
    arithmetic: ranks are bigint micro-units (``unit`` = 1.0), every
    step is integer multiply/floor-divide, and per-node contribution
    sums are bigint sums — so the result is bit-identical under any
    partitioning, summation order, or engine (IEEE-double PageRank is
    not: float addition doesn't commute). Dangling mass is dropped (the
    standard simplification) and damping is ``damping_pct/100`` applied
    as integer ops: r' = (1-d)*unit + d*Σ(r_in div out_deg).

    Scale: each iteration is one join on src + one agg on dst — the same
    two hash shuffles any distributed PageRank does; the plan is built
    lazily across iterations (no driver-side state), with a
    ``localCheckpoint`` every other round to stop lineage growth.

    Overflow contract: total mass never grows (dangling mass is dropped,
    damping shrinks), so any node's contribution sum is < n_nodes *
    ``unit``; the damping multiply is decomposed as d*(s div 100) +
    (d*(s mod 100)) div 100 so intermediates stay below that bound —
    pick ``unit`` such that n_nodes * unit < 2^63 (e.g. 10**9 for a
    billion-node graph; the default 10**12 is safe to ~9M nodes)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    e = e.localCheckpoint(eager=True)
    out_deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e.join(out_deg, "u").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    base = (unit * (100 - damping_pct)) // 100
    ranks = nodes.withColumn("rank", F.lit(unit).cast("bigint"))
    for i in range(iters):
        contrib = (
            e_deg.join(ranks, e_deg["u"] == ranks["node"])
            .select(F.col("v"), F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["v"], "left")
            .select(
                "node",
                (
                    F.lit(base).cast("bigint")
                    # == (d*s) div 100, but the intermediate stays < s
                    # (85*s would overflow int64 on hub-heavy graphs)
                    + F.expr(
                        f"{damping_pct} * (coalesce(s, 0L) div 100)"
                        f" + ({damping_pct} * (coalesce(s, 0L) % 100)) div 100"
                    )
                ).alias("rank"),
            )
        )
        if i % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count via degree-ordered edge orientation — the
    classic scalable formulation (orient each edge from its lower-
    (degree, id) endpoint; generate wedges only from out-neighbors;
    close each wedge against the undirected edge set). Every triangle is
    produced by exactly its minimum-(degree, id) vertex, and the wedge
    fan-out per node is bounded by the orientation's out-degree —
    O(sqrt(m)) for any graph (arboricity bound), which is what keeps a
    celebrity node with 10^7 neighbors from generating 10^14 wedges.
    Three equi-joins, all shuffle-partitioned on node keys.

    Input may list edges in any direction/with duplicates; self-loops
    are dropped. Returns one row: (n_nodes, n_edges, n_triangles).

    Derived from :func:`triangle_participation` (one wedge pipeline in
    the codebase): Σdeg = 2·|E| (handshake) and each triangle credits
    its three vertices, so Σ per-node triangles = 3·T — both divisions
    exact integer arithmetic."""
    tp = triangle_participation(edges, src, dst)
    return tp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.expr("sum(deg) div 2"), F.lit(0)).cast("bigint").alias("n_edges"),
        F.coalesce(F.expr("sum(n_triangles) div 3"), F.lit(0)).cast("bigint").alias("n_triangles"),
    )


def triangle_participation(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (2T / deg(deg-1)) — same degree-ordered wedge pipeline as
    :func:`triangle_count`, but each closed triangle credits all three
    vertices (explode) before a per-node rollup. Nodes in no triangle
    appear with zero; degree-1 nodes have coefficient 0 by convention
    (the 0/0 case). The division is two exact integers -> one double op,
    so coefficients are engine-exact."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_first = F.col("du") <= F.col("dv")  # e has u < v: id tie-break free
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"),
    )
    a = oriented.select(F.col("s"), F.col("d").alias("d1"))
    b = oriented.select(F.col("s"), F.col("d").alias("d2"))
    wedges = a.join(b, "s").filter(F.col("d1") < F.col("d2"))
    closed = wedges.join(e, (F.col("d1") == F.col("u")) & (F.col("d2") == F.col("v")))
    per_node = (
        closed.select(
            F.explode(F.array(F.col("s"), F.col("d1"), F.col("d2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                (2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double"))
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def min_label_rounds(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """FIXED-round min-label propagation: label(u) after round r is the
    minimum node id within r hops — the snapshot form of label
    propagation (community seeds, partial CC frontier). Unlike
    :func:`connected_components` (pointer-jumped to convergence, a
    driver-side loop with count() actions), the round count here is a
    constant, so the whole computation is ONE declarative plan an
    external oracle can replay exactly — and each round is a single
    neighbor-min shuffle (edges both directions + groupBy min), the
    textbook BSP step. Returns (node, label)."""
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        nbr_min = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
    return labels


def bfs_min_distance(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """FIXED-round BFS / single-source shortest path (unweighted) from
    the minimum node id: distance(v) after round r is the hop count of
    the shortest path within r hops — exact for every node whose true
    distance <= r; still-unreached nodes are omitted. Same BSP shape as
    :func:`min_label_rounds` (the round count is a constant, so the
    whole computation is ONE declarative plan an oracle can replay):
    each round is one neighbor-min shuffle (edges both directions +
    groupBy min) over the DISTANCE frame (one row per node — the
    frontier state, never the edge list, is what updates). The source
    is the min node id, attached as a one-row broadcast scalar.
    Returns (node, distance) for reached nodes, distance BIGINT."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    nodes = und.select(F.col("u").alias("node")).distinct()
    source = nodes.agg(F.min("node").alias("_s"))
    dist = nodes.crossJoin(F.broadcast(source)).select(
        "node",
        F.when(F.col("node") == F.col("_s"), F.lit(0).cast("bigint")).alias("dist"),
    )
    for _ in range(rounds):
        nbr = (
            und.join(dist.filter(F.col("dist").isNotNull()), und["v"] == dist["node"])
            .groupBy("u")
            .agg((F.min("dist") + 1).cast("bigint").alias("cand"))
        )
        dist = dist.join(nbr, dist["node"] == nbr["u"], "left").select(
            "node",
            F.least(
                F.coalesce(F.col("dist"), F.col("cand")),
                F.coalesce(F.col("cand"), F.col("dist")),
            ).alias("dist"),
        )
    return dist.filter(F.col("dist").isNotNull()).select(
        "node", F.col("dist").alias("distance")
    )
