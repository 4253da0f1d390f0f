"""Iterative graph algorithms as DataFrame loops (SURVEY.md §2.11
iterative tier — sibling of operators/dedup.py's connected
components and operators/clustering.py's Lloyd k-means).

PageRank here follows the same engine-portable determinism contract
as k-means: ranks round to 6 dp after every iteration and all
cross-row accumulation routes through exact DECIMAL, so an unrolled
chained-CTE SQL oracle reproduces every round bit-for-bit.

Scale shape per iteration: ONE key shuffle (contributions grouped
by destination). The rank vector is |nodes| rows and joins the
edge relation on src — when |nodes| is bounded (entity graphs,
category graphs) Spark broadcasts it automatically; when it isn't,
the join co-partitions with the previous round's output. Driver
state is zero: ranks live in DataFrames end-to-end, and the loop
count is a fixed hyperparameter (no data-dependent convergence
collect in the hot path).

Dangling nodes (no out-edges): the default leaks their mass — the
classic simplification; ranks still order correctly for
link-analysis use. ``pagerank(redistribute_dangling=True)`` is the
mass-conserving variant (oracle-checked: trade_pagerank_dangling) —
one extra 1-row global aggregate per round re-injects the dangling
mass through the restart distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked


def normalize_edges(
    edges: DataFrame, src: str, dst: str, weight: str
) -> DataFrame:
    """Collapse multi-edges and attach transition probabilities:
    p(u→v) = w(u,v) / Σ_v' w(u,v'). Weights accumulate in DECIMAL so
    p is identical on any partitioning; output (src, dst, p)."""
    agg = (
        edges.groupBy(src, dst)
        .agg(
            F.sum(F.col(weight).cast("decimal(28,8)"))
            .cast("double")
            .alias("__w")
        )
    )
    outw = agg.groupBy(src).agg(
        F.sum(F.col("__w").cast("decimal(28,8)")).cast("double").alias("__ow")
    )
    return (
        agg.join(outw, src)
        .select(src, dst, (F.col("__w") / F.col("__ow")).alias("p"))
    )


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    iterations: int = 3,
    damping: float = 0.85,
    redistribute_dangling: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank, fixed iteration count.

    r_0(v) = p0(v); r_{t+1}(v) = (1−d)·p0(v) + d · Σ_u r_t(u)·p(u→v),
    every r rounded to 6 dp (the determinism contract). Output:
    (node, rank). N counts distinct nodes on either edge end.

    ``seeds=None`` (default) is classic PageRank: p0 = 1/N uniform.
    ``seeds`` = a 1-column DataFrame of node ids makes it
    PERSONALIZED PageRank: p0 = 1/|S| on the seed set, 0 elsewhere —
    the restart distribution concentrates on the seeds, so ranks
    measure proximity to them (the recommendation / related-items
    form). Same plan per round; the only addition is a broadcast
    |S|-marker on the node relation and a 1-row seed count.

    ``redistribute_dangling=True`` adds the mass-conserving term:
    r_{t+1}(v) = (1−d)·p0(v) + d · (Σ_u r_t(u)·p(u→v) + D_t·p0(v))
    where D_t = Σ_{u dangling} r_t(u) — the rank parked on nodes
    with no out-edges, re-injected through the restart distribution
    instead of leaking (uniform case: D_t/N, the classic fix;
    personalized case: back to the seeds, the standard PPR
    convention). Cost: ONE extra global aggregate per round (a
    1-row decimal sum over the dangling slice of the rank vector,
    attached back via the same broadcast one-row-relation pattern as
    N) — the plan stays one dst-keyed shuffle per round with zero
    data-sized driver state. The default leaks the mass (ordering is
    usually unaffected for link analysis); flip this on when rank
    VALUES feed a downstream computation that assumes a probability
    distribution.
    """
    # both the transition relation and the node set feed every
    # iteration's plan — persist them once (same rationale as LPA)
    norm = persist_tracked(normalize_edges(edges, src, dst, weight))
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # N rides along as a broadcast one-row relation (same pattern as
    # the IVF centroid model) — no literal baked per-plan, no
    # data-sized driver state. The always-0 NON-FOLDABLE join key
    # makes it a BroadcastHashJoin, not a nested-loop cross (house
    # pattern, see operators/retrieval.py BM25 stats note).
    k0_node = F.pmod(F.xxhash64("node"), F.lit(1)).cast("int")
    n_nodes = F.broadcast(
        nodes.agg(F.count(F.lit(1)).alias("__n")).withColumn(
            "__k", F.pmod(F.col("__n"), F.lit(1)).cast("int")
        )
    )
    if seeds is None:
        # uniform restart: p0 = 1/N for every node
        nodes = (
            nodes.withColumn("__k", k0_node)
            .join(n_nodes, "__k")
            .select("node", (F.lit(1.0) / F.col("__n")).alias("__p0"))
        )
    else:
        seed_col = seeds.columns[0]
        seed_set = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("__is_seed", F.lit(1))
        )
        n_seeds = F.broadcast(
            seed_set.agg(F.count(F.lit(1)).alias("__ns")).withColumn(
                "__k", F.pmod(F.col("__ns"), F.lit(1)).cast("int")
            )
        )
        nodes = (
            nodes.join(F.broadcast(seed_set), "node", "left")
            .withColumn("__k", k0_node)
            .join(n_seeds, "__k")
            .select(
                "node",
                F.when(
                    F.col("__is_seed").isNotNull(),
                    F.lit(1.0) / F.col("__ns"),
                )
                .otherwise(F.lit(0.0))
                .alias("__p0"),
            )
        )
    # the p0-carrying node relation feeds every round — persist once
    nodes = persist_tracked(nodes)
    ranks = nodes.select("node", F.round(F.col("__p0"), 6).alias("rank"))
    dangling = None
    if redistribute_dangling:
        # nodes with no out-edges — static over the iteration
        dangling = nodes.join(
            norm.select(F.col(src).alias("node")).distinct(),
            "node",
            "left_anti",
        )
    for _ in range(iterations):
        contrib = (
            norm.join(ranks, norm[src] == ranks["node"])
            .groupBy(F.col(dst).alias("node"))
            .agg(
                F.sum(
                    (F.col("rank") * F.col("p")).cast("decimal(28,14)")
                )
                .cast("double")
                .alias("__c")
            )
        )
        inflow = F.coalesce("__c", F.lit(0.0))
        step = nodes.join(contrib, "node", "left").withColumn("__k", k0_node)
        if redistribute_dangling:
            # D_t as a broadcast ONE-ROW relation (decimal sum over
            # the dangling slice; non-foldable always-0 key keeps the
            # attach a BroadcastHashJoin — house pattern)
            dm = F.broadcast(
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.coalesce(
                        F.sum(F.col("rank").cast("decimal(28,14)")),
                        F.lit(0).cast("decimal(28,14)"),
                    )
                    .cast("double")
                    .alias("__dm")
                )
                .withColumn(
                    "__k", F.pmod(F.col("__dm").cast("int"), F.lit(1)).cast("int")
                )
            )
            step = step.join(dm, "__k")
            # uniform keeps the historical __dm/N float expression
            # (bit-parity with the recorded oracles); personalized
            # re-injects through the restart distribution
            if seeds is None:
                inflow = inflow + F.col("__dm") / F.col("__n")
            else:
                inflow = inflow + F.col("__dm") * F.col("__p0")
        teleport = (
            (F.lit(1.0) - F.lit(damping)) / F.col("__n")
            if seeds is None
            else (F.lit(1.0) - F.lit(damping)) * F.col("__p0")
        )
        ranks = (
            step.join(n_nodes, "__k")
            .select(
                "node",
                F.round(teleport + F.lit(damping) * inflow, 6).alias("rank"),
            )
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection) with a
    deterministic update rule, fixed iteration count — the third
    iterative-DataFrame algorithm beside :func:`pagerank` and
    operators/dedup.py's connected components.

    The graph is treated as UNDIRECTED (edges are symmetrized and
    multi-edges collapsed, weights accumulated in exact DECIMAL).
    Every node starts labeled with its own id; each round, node v
    adopts the label carrying the max total incident weight among
    its neighbors' current labels, ties broken by MIN label — the
    classic LPA tiebreak made engine-portable: the argmax is
    ``min(struct(-score, label))``, a lexicographic struct min over
    exact decimals, so partition merge order cannot perturb it and
    an unrolled-CTE SQL oracle reproduces every round exactly.

    Scale shape per round: ONE join of the label vector onto the
    edge relation (co-partitioned on the node key across rounds) +
    ONE (node, label)-keyed agg + ONE node-keyed argmax agg. Driver
    state: none (labels live in a DataFrame; iteration count is a
    hyperparameter, as in pagerank — no convergence collect).

    Output: (node, label) — nodes sharing a label form a community.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w_dec = F.col("__w").cast("decimal(28,8)")
    und = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"),
            F.col(weight).alias("__w"),
        )
        .unionByName(
            edges.select(
                F.col(dst).alias("u"), F.col(src).alias("v"),
                F.col(weight).alias("__w"),
            )
        )
        .groupBy("u", "v")
        .agg(F.sum(w_dec).alias("w"))
    )
    # the edge relation is re-read by EVERY round's join — persist it
    # once or the upstream build (source joins + symmetrize + agg)
    # re-executes O(iterations) times (see operators/_cache.py)
    # (measured: an extra repartition("u") before the persist buys
    # nothing here — the |nodes|-sized label vector broadcasts, so
    # the per-round joins never re-shuffle the edge relation; the
    # round cost is the genuine (v, label) score aggregation)
    und = persist_tracked(und)
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iterations):
        scores = (
            und.join(labels, und["u"] == labels["node"])
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.sum("w").alias("s"))
        )
        labels = (
            scores.groupBy(F.col("v").alias("node"))
            .agg(
                F.min(
                    F.struct((-F.col("s")).alias("ns"), F.col("label"))
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )
    return labels


def label_propagation_oracle_sql(
    edges_sql: str, iterations: int = 3
) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`label_propagation`.

    ``edges_sql`` must select columns (u, v, w) — DIRECTED edges with
    raw weights; symmetrization and multi-edge collapse happen here,
    mirroring the operator. The per-round argmax is a window
    ``row_number() OVER (PARTITION BY v ORDER BY s DESC, label)`` —
    the same total order as the struct min."""
    parts = [
        f"""raw AS ({edges_sql}),
    edges0 AS (
        SELECT u, v, SUM(CAST(w AS DECIMAL(28,8))) AS w
        FROM (
            SELECT u, v, w FROM raw
            UNION ALL
            SELECT v AS u, u AS v, w FROM raw
        )
        GROUP BY u, v
    ),
    labels0 AS (SELECT DISTINCT u AS node, u AS label FROM edges0)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""s{i} AS (
        SELECT e.v, l.label, SUM(e.w) AS s
        FROM edges0 e JOIN labels{i - 1} l ON e.u = l.node
        GROUP BY 1, 2
    ),
    labels{i} AS (
        SELECT v AS node, label FROM (
            SELECT v, label,
                   row_number() OVER (
                       PARTITION BY v ORDER BY s DESC, label
                   ) AS rn
            FROM s{i}
        ) WHERE rn = 1
    )""")
    body = ",\n    ".join(parts)
    return f"WITH {body}\n    SELECT node, label FROM labels{iterations}"


def count_triangles(
    edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Triangle count of an undirected simple graph given as
    CANONICAL edges (a < b) — the graph-density statistic behind
    clustering-coefficient and community-quality checks (the fourth
    graph primitive beside components, PageRank, and LPA).

    The classic ordered two-path join: (a,b) ⋈ (b,c) ⋈ (a,c) with
    a < b < c, so every triangle is produced exactly once. The a < b
    canonical orientation is what bounds the join at scale (each
    wedge is generated once, not six times); for heavy-hub graphs
    the standard refinement is degree-ordered orientation — same
    plan shape, just a different comparison key, noted here rather
    than built because the co-purchase graphs this feeds are
    support-thresholded (bounded degree by construction).

    Output: one row, (n_edges, n_wedges, n_triangles) — the wedge
    count comes free from the first join and gives the global
    clustering coefficient 3·triangles/wedges downstream.
    """
    # e feeds FOUR consumers (both wedge-join sides, the closing
    # join side, and the edge count) and `edges` is typically an
    # expensive upstream tower (pair_rules' basket self-join);
    # wedges feeds TWO (its count and the closing join).
    # Unpersisted, Spark re-executes each tower per consumer (guide
    # §2.4) — persist once; the caller's pipeline_session releases
    # it (operators/_cache.py).
    e = persist_tracked(
        edges.select(
            F.col(a_col).alias("a"), F.col(b_col).alias("b")
        ).distinct()
    )
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = persist_tracked(
        e.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    )
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    # the three 1-row counts join on the non-foldable always-0 key
    # (house pattern) — a literal cross of 1-row relations would trip
    # the registry-wide cartesian audit, and rightly: the audit can't
    # see cardinalities, only plan shapes
    key = lambda c: F.pmod(F.col(c), F.lit(1)).cast("int")  # noqa: E731
    ne = e.agg(F.count(F.lit(1)).alias("n_edges")).withColumn(
        "__k", key("n_edges")
    )
    nw = wedges.agg(F.count(F.lit(1)).alias("n_wedges")).withColumn(
        "__k", key("n_wedges")
    )
    nt = tris.agg(F.count(F.lit(1)).alias("n_triangles")).withColumn(
        "__k", key("n_triangles")
    )
    return (
        ne.join(F.broadcast(nw), "__k")
        .join(F.broadcast(nt), "__k")
        .select("n_edges", "n_wedges", "n_triangles")
    )


def k_core(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    k: int,
    max_rounds: int = 30,
) -> DataFrame:
    """Iterative k-core peel of an undirected simple graph — the
    degeneracy-based density filter (fifth graph primitive beside
    components, PageRank, LPA, and triangles).

    Each round drops every node whose CURRENT degree is < k along
    with its incident edges; surviving degrees shrink and the peel
    repeats until a fixpoint. The survivor set is exactly the k-core
    (the maximal subgraph with min degree >= k).

    Convergence follows the connected_components house pattern: each
    round ends in ``localCheckpoint`` (truncates lineage — without
    it the plan tree triples per round) and a 1-row edge-count
    aggregate; the peel only ever removes edges, so an unchanged
    count is a fixpoint. Exhausting ``max_rounds`` without
    converging RAISES (a silently-partial peel would overstate the
    core) — peel rounds scale with the graph's degeneracy ordering
    depth, typically O(10) for support-thresholded co-occurrence
    graphs. The scalar collect per round is the documented
    convergence-sum exception to the no-driver-state rule.

    Because the peel is monotone, a fixed-round unrolled-CTE oracle
    with rounds >= the convergence round reproduces the result
    exactly (:func:`k_core_oracle_sql` — extra rounds are no-ops).

    Input edges may be directed/multi — they are symmetrized and
    deduplicated first (degree = distinct-neighbor count). Scale
    shape per round: ONE (node)-keyed degree agg + TWO semi-joins
    pruning the edge relation; the edge relation only ever shrinks.

    Output: (node, degree) for nodes in the k-core (degree = final
    within-core degree).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    # the symmetrizing union references the input TWICE — persist the
    # canonical selection first or an expensive upstream edge build
    # (e.g. a within-order self-join) executes once per branch
    base = persist_tracked(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    und = (
        base.unionByName(
            base.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    prev_edges = und.count()
    converged = prev_edges == 0
    for _ in range(max_rounds):
        if converged:
            break
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.where(F.col("degree") >= k).select("u")
        und = (
            und.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint()
        )
        n_edges = und.count()
        if n_edges == prev_edges:
            converged = True
        prev_edges = n_edges
    if not converged:
        raise RuntimeError(
            f"k_core did not converge in {max_rounds} peel rounds — "
            "raise max_rounds (rounds scale with the graph's peel "
            "depth; support-thresholded graphs converge in O(10))."
        )
    return (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def k_core_oracle_sql(edges_sql: str, k: int, rounds: int = 8) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`k_core`. ``edges_sql``
    selects DIRECTED raw edges (u, v); symmetrize + dedup + the
    fixed-round peel replay here."""
    # every e{i} is referenced three times by round i+1 (the edge
    # scan + the two IN filters) — DuckDB inlines plain CTEs, which
    # would re-expand the base join 3^rounds times; MATERIALIZED
    # pins each round's relation to one evaluation
    parts = [
        f"""raw AS MATERIALIZED ({edges_sql}),
    e0 AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
            SELECT u, v FROM raw WHERE u <> v
            UNION ALL
            SELECT v AS u, u AS v FROM raw WHERE u <> v
        )
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""keep{i} AS MATERIALIZED (
        SELECT u FROM e{i - 1} GROUP BY u HAVING COUNT(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{i - 1} e
        WHERE e.u IN (SELECT u FROM keep{i})
          AND e.v IN (SELECT u FROM keep{i})
    )""")
    body = ",\n    ".join(parts)
    return (
        f"WITH {body}\n    SELECT u AS node, COUNT(*) AS degree "
        f"FROM e{rounds} GROUP BY u"
    )


def bfs_distances(
    edges: DataFrame,
    src: str,
    dst: str,
    sources: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source bounded-hop BFS: minimum hop count from ANY
    source node, following DIRECTED edges, up to ``max_hops``.

    Frontier expansion with a min-distance merge: dist_0 = 0 on the
    source set; each hop joins the CURRENT frontier onto the edge
    relation and keeps newly reached nodes (left_anti against the
    settled set — the textbook level-synchronous BFS). Nodes beyond
    ``max_hops`` are absent from the output (bounded result, bounded
    work — the 100 TB contract: each hop is one join + one distinct,
    and the frontier relation is the only thing that grows).

    ``sources`` must have a column named like ``src``'s alias target
    ``node`` OR a single column (taken as the node id). Output:
    (node, hops).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = persist_tracked(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    )
    src_col = sources.columns[0]
    settled = sources.select(
        F.col(src_col).alias("node"), F.lit(0).alias("hops")
    ).distinct()
    frontier = settled.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            # checkpoint the new frontier: it feeds BOTH the settled
            # union and the next hop's expansion join, and the
            # anti-join references settled (which references every
            # prior frontier) — truncating here keeps the plan tree
            # linear in hops instead of 2^hops
            .localCheckpoint()
        )
        settled = settled.unionByName(
            nxt.select("node", F.lit(h).alias("hops"))
        )
        frontier = nxt
    return settled


def bfs_oracle_sql(
    edges_sql: str, sources_sql: str, max_hops: int = 4
) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`bfs_distances`.
    ``edges_sql`` selects (u, v) directed; ``sources_sql`` selects a
    single column ``node``."""
    # MATERIALIZED for the same reason as the k-core oracle: s{h} is
    # referenced twice by round h+1 (frontier join + NOT IN), which
    # plain-CTE inlining would re-expand exponentially
    parts = [
        f"""e AS MATERIALIZED (SELECT DISTINCT u, v FROM ({edges_sql})),
    s0 AS MATERIALIZED (
        SELECT DISTINCT node, 0 AS hops FROM ({sources_sql}))"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(f"""f{h} AS MATERIALIZED (
        SELECT DISTINCT e.v AS node FROM e
        JOIN s{h - 1} ON e.u = s{h - 1}.node
        WHERE s{h - 1}.hops = {h - 1}
          AND e.v NOT IN (SELECT node FROM s{h - 1})
    ),
    s{h} AS MATERIALIZED (
        SELECT node, hops FROM s{h - 1}
        UNION ALL
        SELECT node, {h} AS hops FROM f{h}
    )""")
    body = ",\n    ".join(parts)
    return f"WITH {body}\n    SELECT node, hops FROM s{max_hops}"


def local_clustering(
    edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Per-node local clustering coefficient — how close each
    node's neighborhood is to a clique (the node-level refinement of
    :func:`count_triangles`'s global census).

    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), reported in exact 1e6
    fixed point (integer DIV — engine-portable, no float division),
    NULL for degree < 2 (undefined: no wedge to close).

    Input edges may be arbitrary direction/multiplicity — they are
    canonicalized (least, greatest), self-loops dropped, distinct.
    Triangles enumerate once via the ordered two-path join
    (a < b < c, the count_triangles shape) and then credit each of
    their three corners — one explode of the |triangles| relation,
    never of the corpus. Scale shape: the wedge join is bounded by
    Σ deg² like the census; everything after is hash aggs.

    Output: (node, degree, n_triangles, lcc_micro).
    """
    canon = persist_tracked(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e2 = canon.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = canon.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = canon.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    tri_per_node = (
        tris.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri_per_node, "node", "left")
        .withColumn(
            "n_triangles", F.coalesce("n_triangles", F.lit(0))
        )
        .withColumn(
            "lcc_micro",
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2 * n_triangles * 1000000) DIV "
                    "(degree * (degree - 1))"
                ),
            ),
        )
    )


def local_clustering_oracle_sql(edges_sql: str) -> str:
    """DuckDB oracle for :func:`local_clustering` — ``edges_sql``
    selects raw (u, v) edges; canonicalize + census replay here."""
    return f"""
    WITH raw AS ({edges_sql}),
    canon AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM raw WHERE u <> v
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT a AS node FROM canon
            UNION ALL SELECT b FROM canon
        ) GROUP BY node
    ),
    tris AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM canon e1
        JOIN canon e2 ON e1.b = e2.a
        JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tpn AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
               (2 * COALESCE(t.n_triangles, 0) * 1000000)
               // (d.degree * (d.degree - 1))
           END AS lcc_micro
    FROM deg d LEFT JOIN tpn t USING (node)"""
