"""Iterative clustering (SURVEY.md §2.11 extension tier): Lloyd
k-means over an embedding column — the training step behind the IVF
similarity index (queries.similarity_q.ivf_blocked_neardup uses
label blocking; this learns the blocks instead).

Scale design: the only state that crosses iterations is the k×dim
centroid matrix — tiny — so each Lloyd round is
  1. assignment: a NARROW map (distances folded per-row with
     ``F.aggregate`` against the centroid model attached via a
     one-row broadcast hash join; no shuffle, whole-stage codegen),
  2. update: one hash aggregate over (cluster, dim) — k·dim groups,
     map-side partial combine — then a k·dim-row collect to the
     driver (the legitimate driver-side step: broadcastable model
     state, NOT data).
At 100 TB the assignment pass dominates and scales linearly with
executors; nothing per-iteration grows with |rows|.

Determinism contract (what makes this oracle-checkable): init =
the k lowest-id vectors; centroids are rounded to 6 dp after every
update (and at init), so both engines feed bit-identical centroid
literals into the next distance pass; per-row distance folds are
sequential left-to-right in both Spark (``F.aggregate``) and DuckDB
(``list_sum`` over ``list_transform``); argmin tie-breaks on
cluster id. Float mean accumulation order across rows differs
between engines, which the 6 dp rounding absorbs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked, release
from top_produce_etl_spark.operators.topn import top_n_window


def _cents_rel(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """The centroid model as a ONE-ROW relation
    (``__cent_vecs: array<array<double>>``, ``__cent_cids:
    array<int>``) — attached to data via a constant-key broadcast
    hash join.

    Why not literals: a k×dim literal array embeds k·dim constant
    nodes in the expression tree, and Catalyst analysis + codegen of
    that tree dominated the assignment scan (measured 1.77 s for a
    5000-row scan at k=16, dim=64 — pure fixed overhead, re-paid on
    every Lloyd round and every IVF map). A broadcast single-row
    join carries the same arrays as plain columns: identical
    arithmetic (bit-identical results), ~k·dim× smaller expression,
    and the broadcast is one row regardless of corpus size."""
    vecs = [[float(v) for v in cvec] for _, cvec in cents]
    cids = [int(cid) for cid, _ in cents]
    return spark.createDataFrame(
        [(0, vecs, cids)],
        "__ck int, __cent_vecs array<array<double>>, __cent_cids array<int>",
    )


def _dist_structs(vec_col: str) -> Column:
    """Array of (squared-distance, cid) structs against the attached
    centroid columns (see :func:`_cents_rel`).

    The k distance folds share ONE lambda body: ``zip_with`` over
    the 2-D centroid array and the parallel cid array. The fold is
    sequential left-to-right per centroid, argmin tie-breaks on cid
    via the struct ordering — the determinism contract the oracle
    depends on."""
    return F.zip_with(
        F.col("__cent_vecs"),
        F.col("__cent_cids"),
        # .alias() inside an HOF lambda doesn't name struct fields;
        # the cast does (and fixes the field types in one place).
        lambda cvec, cid: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    cvec,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            cid,
        ).cast("struct<d:double,cid:int>"),
    )


def _attach_cents(
    df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    # constant-key broadcast HASH join (not crossJoin): identical
    # one-row attach, but the plan stays BroadcastHashJoin so the
    # repo-wide "no BroadcastNestedLoopJoin" plan audit keeps its
    # teeth for accidental cartesians. The always-0 key must be
    # NON-FOLDABLE (derived from a real column) or Catalyst constant-
    # folds the equality away and re-plans the BNLJ — same trick as
    # the corpus-stats attach in operators/retrieval.py.
    return (
        df.withColumn(
            "__ck", F.pmod(F.size(F.col(vec_col)), F.lit(1)).cast("int")
        )
        .join(F.broadcast(_cents_rel(df.sparkSession, cents)), "__ck")
        .drop("__ck")
    )


def with_nearest_cell(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    out: str = "cluster",
) -> DataFrame:
    """Add the nearest-centroid id: ``array_min`` over the
    (distance, cid) structs is the lexicographic (min-distance,
    then min-cid) argmin."""
    return (
        _attach_cents(df, vec_col, cents)
        .withColumn(out, F.array_min(_dist_structs(vec_col)).getField("cid"))
        .drop("__cent_vecs", "__cent_cids")
    )


def with_probe_cells(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    n_probe: int,
    out: str = "cells",
    margin: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """Add the probe list — the centroid ids a query must search —
    as an array (sorted structs sort by distance first).

    ``margin=None``: the fixed ``n_probe`` nearest cells.

    ``margin=m`` (distance-ordered multiprobe, round-4 verdict #4):
    the ``n_probe`` nearest PLUS every further cell whose squared
    distance exceeds the ``n_probe``-th nearest's by at most
    ``m × (d_{n_probe-1} − d_0)`` — the gap measured RELATIVE to the
    query's own routing spread, capped at ``max_probe`` (default
    ``2·n_probe``). Recall misses under fixed probing are boundary
    queries — the true neighbor's cell ranks just past n_probe,
    separated by a sliver — and in high dimensions raw distances
    concentrate (every cell sits within a few % of every other), so
    an absolute or multiplicative threshold is unselective; the
    per-query spread normalization is what separates "rank-5 is a
    coin flip from rank-4" from "rank-5 is genuinely farther".
    Spending extra probes only where the gap is thin buys the recall
    tail for a near-zero mean-probe increase (the same reallocation
    that took LSH 0.8667 → 1.0 at half cost).
    """
    ranked = F.array_sort(_dist_structs(vec_col))
    if margin is None:
        probes = F.slice(ranked, 1, n_probe)
    else:
        # F.get is 0-based and NULL-safe past the end (ANSI mode);
        # a corpus with <= n_probe cells probes everything
        d0 = F.get(ranked, 0).getField("d")
        dn = F.get(ranked, n_probe - 1).getField("d")
        thr = dn + F.lit(float(margin)) * (dn - d0)
        probes = F.filter(
            F.slice(ranked, 1, max_probe or 2 * n_probe),
            lambda s: s.getField("d")
            <= F.coalesce(thr, F.lit(float("inf"))),
        )
    return (
        _attach_cents(df, vec_col, cents)
        .withColumn(out, F.transform(probes, lambda s: s.getField("cid")))
        .drop("__cent_vecs", "__cent_cids")
    )


def _assign(
    df: DataFrame, id_col: str, vec_col: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Nearest-centroid assignment as one narrow map (broadcast
    model + projection)."""
    return with_nearest_cell(
        df.select(id_col, vec_col), vec_col, cents
    ).select(F.col(id_col), "cluster")


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
) -> list[tuple[int, list[float]]]:
    """Fit Lloyd k-means and return the centroid model as
    (cid, vector) pairs — the broadcastable state an IVF index or a
    later assignment pass needs. Same determinism contract as
    :func:`kmeans_lloyd` (which is assignment = fit + one map)."""
    init_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    cents: list[tuple[int, list[float]]] = [
        (i, [round(float(x), 6) for x in r[vec_col]])
        for i, r in enumerate(init_rows)
    ]
    for _ in range(iters):
        # update: per-(cluster, dim) mean, rounded — k·dim rows back
        # to the driver (model state, broadcast next round as
        # literals; at cluster scale this is the classic
        # "small model, big data" iteration shape). The cluster id is
        # a narrow expression over the vector itself, so assignment
        # and update fuse into ONE scan + hash aggregate per round —
        # no self-join on id (which would shuffle |rows| twice).
        # The assignment MUST be its own projection below the
        # posexplode: fused into the same select, the k-centroid
        # distance scan lands above the Generate and is re-evaluated
        # per exploded element (measured 13.0s vs 0.8s per round on
        # sf0.1 — a dim× blowup).
        assigned = with_nearest_cell(
            df.select(F.col(vec_col).alias("__v")), "__v", cents
        )
        rows = (
            assigned.select("cluster", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("v"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cluster"], {})[r["dim"]] = r["v"]
        cents = [
            (cid, [dims[d] for d in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return cents


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
) -> DataFrame:
    """Lloyd k-means: ``iters`` update rounds, returning the final
    (id, cluster) assignment against the last centroids.

    Deterministic init: the k lowest-id vectors, rounded to 6 dp.
    """
    cents = kmeans_fit(df, id_col, vec_col, k, iters)
    return _assign(df, id_col, vec_col, cents)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    threshold: float = 0.35,
    scoring: str = "decimal",
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision per document
    (Abbas et al. 2023, "SemDeDup": cluster the embedding space,
    then drop all-but-one of each within-cluster near-duplicate
    set). The cheap deterministic keep rule used here: a document is
    ``dropped`` iff a LOWER-id document in the SAME learned cell has
    cosine ≥ ``threshold`` with it — chains of similarity can drop a
    whole run of docs while keeping each run's lowest id, which is
    the paper's "keep one representative per epsilon-ball" intent
    without an iterative fixpoint.

    Scale design (why this beats the all-pairs cosine near-dup at
    100 TB): pairs are scored ONLY within a k-means cell, so the
    comparison cost is Σ|cell|² — k grows with the corpus to bound
    |cell|, exactly the IVF argument (operators/clustering.py::
    ivf_topk). The cell model is k·dim driver state; assignment is
    one narrow broadcast-model map; the pair join shuffles on the
    cell id. Decimal scoring keeps the whole decision oracle-exact
    (the kmeans unrolled-CTE oracle composes with a pair-join CTE).

    Output: (id_col, cluster, dropped) — one row per input document.
    """
    assigned, pairs = _cell_pairs(df, id_col, vec_col, k, iters, scoring)
    drops = (
        pairs.filter(F.col("__cos") >= threshold)
        .select(F.col("__b").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(drops, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("__drop"), F.lit(False)).alias("dropped"),
        )
    )


def _cell_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    scoring: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared cluster-then-compare machinery: learn cells, assign,
    and score every within-cell (a < b) pair. Returns (assigned —
    id/cluster/vec/norm, pairs — __a/__b/cluster/__cos). Σ|cell|²
    pair cost; the cell-id join is the only pair-sized shuffle."""
    from top_produce_etl_spark.operators.similarity import dot_fn

    dot = dot_fn(scoring)
    cents = kmeans_fit(df, id_col, vec_col, k=k, iters=iters)
    assigned = with_nearest_cell(
        df.select(id_col, vec_col), vec_col, cents, out="cluster"
    ).withColumn("__n", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
    a = assigned.select(
        F.col(id_col).alias("__a"), "cluster",
        F.col(vec_col).alias("__va"), F.col("__n").alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("__b"), "cluster",
        F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("__a") < F.col("__b"))
        .withColumn(
            "__cos",
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
    )
    return assigned, pairs


def contrastive_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    pos_threshold: float = 0.35,
    neg_threshold: float = 0.05,
    scoring: str = "decimal",
) -> DataFrame:
    """Contrastive training-pair mining from the embedding space:
    within each learned cell, (a, b) pairs with cosine ≥
    ``pos_threshold`` become POSITIVES (semantically close — the
    anchor/paraphrase side of a contrastive loss) and pairs with
    cosine ≤ ``neg_threshold`` become HARD NEGATIVES — close enough
    to share a cell (the model must work to separate them), provably
    dissimilar by score. The in-between band is dropped (ambiguous
    supervision). Same Σ|cell|² cost bound and oracle-exact decimal
    scoring as :func:`semantic_dedup` (shared machinery).

    Output: (a_id, b_id, cluster, cosine, pair_label ∈ pos|neg)."""
    _, pairs = _cell_pairs(df, id_col, vec_col, k, iters, scoring)
    return (
        pairs.withColumn(
            "pair_label",
            F.when(F.col("__cos") >= pos_threshold, "pos").when(
                F.col("__cos") <= neg_threshold, "neg"
            ),
        )
        .filter(F.col("pair_label").isNotNull())
        .select(
            F.col("__a").alias("a_id"),
            F.col("__b").alias("b_id"),
            "cluster",
            F.col("__cos").alias("cosine"),
            "pair_label",
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    scoring: str = "decimal",
    fit_sample_mod: int | None = None,
    probe_margin: float | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors: learn ``n_cells`` k-means
    cells, assign the corpus once (the inverted file), then score
    each query ONLY against its ``n_probe`` nearest cells — cost
    drops from |Q|·|corpus| to ~|Q|·|corpus|·(n_probe/n_cells),
    the partition-pruning property that survives any corpus scale.

    Plan shape: cell model is driver-resident (k·dim floats) and
    enters both assignment maps as literals — no join for routing.
    The only shuffle is the (cell)-keyed equi-join between probed
    queries and the inverted file, then a per-query top-k window.
    Exact cosine on scored pairs (``scoring="decimal"``, the
    oracle-exact default) — approximate only in WHICH pairs are
    scored, so the recall test compares pair sets, not values.
    ``scoring="double"`` swaps in the codegen'd double fast path
    (operators.similarity._dbl_dot): ~2× cheaper scoring, identical
    neighbor sets on this fixture (recall-gated in tests).

    Output: query_id, neighbor_id, cosine, rank (matches
    cosine_topk_bruteforce's schema).
    """
    from top_produce_etl_spark.operators.similarity import dot_fn

    dot = dot_fn(scoring)
    fit_corpus = corpus
    if fit_sample_mod is not None:
        # production 100 TB path: fit the tiny cell model on a
        # DETERMINISTIC id-keyed sample (k-means quality needs only
        # enough points per cell, ~O(100·k), not the corpus), then
        # assign the FULL corpus. Deterministic mod keeps the model
        # — and therefore results — reproducible run-to-run. The
        # xxhash64 key of pq.py::_train_sample fits a worse cell model
        # here: 0.70 recall vs the 0.8 gate of
        # test_ivf_sample_fit_keeps_recall (sf0.001, mod 2, n_probe 6).
        fit_corpus = corpus.filter(
            F.pmod(F.col(id_col), F.lit(fit_sample_mod)) == 0
        )
    cents = kmeans_fit(fit_corpus, id_col, vec_col, k=n_cells, iters=iters)
    inv = with_nearest_cell(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        "__cv",
        cents,
        out="cell",
    ).withColumn("__cn", F.sqrt(dot(F.col("__cv"), F.col("__cv"))))
    probes = (
        with_probe_cells(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
            ),
            "__qv",
            cents,
            n_probe,
            out="__cells",
            margin=probe_margin,
            max_probe=max_probe,
        )
        .select(
            "query_id", "__qv", F.explode("__cells").alias("cell")
        )
        .withColumn("__qn", F.sqrt(dot(F.col("__qv"), F.col("__qv"))))
    )
    scored = (
        probes.join(inv, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
        )
    )
    return top_n_window(
        scored, "query_id", "cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "cosine", "rank")


def k_center_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    sample_mod: int | None = None,
    sample_salt: str = "kc-v1",
) -> DataFrame:
    """Greedy k-center / farthest-first traversal: a DIVERSE subset
    of k embedding rows (Gonzalez 1985 — a 2-approximation of the
    k-center cover; in LLM-data curation this is the classic
    diversity-selection / coreset-seed pass complementing the
    similarity-dedup operators, which REMOVE near-twins, by
    POSITIVELY selecting spread-out exemplars).

    Each round scores every point by its squared distance to the
    nearest already-selected center (broadcast model literals, the
    kmeans_fit shape: one scan + TakeOrdered(1), no data-sized
    driver state — selected vectors are k·dim model rows) and
    selects the farthest (tie-break: lowest id; center vectors are
    6dp-rounded like kmeans init, the oracle's determinism
    contract).

    Greedy Gonzalez is inherently k scans; at 100 TB the standard
    scale-out is Gonzalez-on-a-coreset: ``sample_mod=m`` first
    restricts the CANDIDATE POOL to the deterministic portable-hash
    sample (salt‖id) % m == 0 — a 1/m coreset, append-stable and
    salt-refreshable like the splits tier — and runs the exact
    greedy over it, so the k scans touch 1/m of the data. The
    sampled path stays FULLY oracle-checkable (the hash is
    cross-engine) and its diversity is probed on planted geometry in
    bench.py (``kcenter_probe``: every pick must land in a distinct
    planted group, sampled or not).

    Output: (sel_round int, id, radius double) — ``radius`` is the
    selected point's distance-to-cover, 6dp, a non-increasing
    sequence that IS the k-center coverage-radius curve (over the
    candidate pool when sampled).
    """
    pts = df.select(F.col(id_col), F.col(vec_col))
    if sample_mod:
        from top_produce_etl_spark.functions.portable_hash import (
            composite_hash_col,
        )

        keyed = f"concat('{sample_salt}', CAST({id_col} AS STRING))"
        pts = pts.where(composite_hash_col(keyed) % sample_mod == 0)
    # the greedy loop re-reads the pool k times — persist it (the
    # caller's pipeline_session releases it), fanned out
    # first: the per-round distance scan is pure map-side work and a
    # one-row-group fixture file scans as ONE task (guide §2.5);
    # distances are row-local against literal centers and each pick
    # is an exact (distance DESC, id ASC) TakeOrdered, so placement
    # cannot change the selection
    from top_produce_etl_spark.io.sources import fan_out

    pts = persist_tracked(fan_out(pts))
    seed_rows = pts.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed_rows:
        raise ValueError(
            "k_center_select: empty candidate pool "
            f"(sample_mod={sample_mod} filtered out every row — "
            "lower it or pass sample_mod=None)"
        )
    first = seed_rows[0]

    def _dist_to(cvec: list[float]) -> Column:
        # same arithmetic as _dist_structs' inner fold, against ONE
        # literal center (no broadcast attach needed): per-element
        # (x - y)² zipped then left-fold summed — bit-identical to
        # the element of the old array_min that this center
        # contributed
        carr = F.array(*[F.lit(float(v)) for v in cvec])
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                carr,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    cvec = [round(float(x), 6) for x in first[vec_col]]
    rows = [(0, first[id_col], 0.0)]
    # INCREMENTAL Gonzalez (guide §2.4 "don't recompute what you
    # already have"): carry each point's distance-to-cover __d and
    # per round min it against ONLY the newest center —
    # min(min(d₀..d₋₁), d_new) = min(d₀..d_new) exactly (doubles,
    # no NaN: sums of squares), so every pick and radius is
    # bit-identical to the full recompute the oracle unrolls, at
    # O(n·k) distance folds instead of O(n·k²). Each round's state
    # is persisted (the TakeOrdered pick materializes it) and the
    # previous round's released eagerly — ≤2 pool-sized caches live.
    state = pts.select(
        F.col(id_col), F.col(vec_col), _dist_to(cvec).alias("__d")
    )
    prev = None
    for r in range(1, k):
        state = persist_tracked(state)
        cand = (
            state.orderBy(F.col("__d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()[0]
        )
        if prev is not None:
            release(prev)
        prev = state
        cvec = [round(float(x), 6) for x in cand[vec_col]]
        rows.append((r, cand[id_col], round(float(cand["__d"]), 6)))
        if r < k - 1:
            state = state.select(
                F.col(id_col),
                F.col(vec_col),
                F.least(F.col("__d"), _dist_to(cvec)).alias("__d"),
            )
    return df.sparkSession.createDataFrame(
        rows, schema=f"sel_round int, {id_col} bigint, radius double"
    )


def k_center_oracle_sql(
    k: int = 8,
    sample_mod: int | None = None,
    sample_salt: str = "kc-v1",
) -> str:
    """Round-unrolled DuckDB twin of :func:`k_center_select` over
    the embeddings table (same CTE scheme as the kmeans oracle).
    ``sample_mod`` mirrors the coreset pre-pass bit-identically via
    the portable hash."""
    from top_produce_etl_spark.functions.portable_hash import (
        composite_hash_sql,
    )

    src = "embeddings"
    if sample_mod:
        h = composite_hash_sql(
            f"concat('{sample_salt}', CAST(vec_id AS VARCHAR))"
        )
        src = (
            f"(SELECT * FROM embeddings"
            f" WHERE ({h}) % {sample_mod} = 0)"
        )
    dist_expr = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) ^ 2))"
    )
    sql = f"""WITH pool AS (SELECT * FROM {src}),
cents0 AS (
  SELECT vec_id, list_transform(embedding,
         x -> ROUND(CAST(x AS DOUBLE), 6)) AS cvec
  FROM (SELECT * FROM pool ORDER BY vec_id LIMIT 1)
)"""
    for r in range(1, k):
        sql += f""",
dist{r} AS (
  SELECT e.vec_id, MIN({dist_expr}) AS d
  FROM pool e CROSS JOIN cents{r - 1} c
  GROUP BY e.vec_id
),
pick{r} AS (
  SELECT vec_id, ROUND(d, 6) AS radius
  FROM dist{r} ORDER BY d DESC, vec_id LIMIT 1
),
cents{r} AS (
  SELECT * FROM cents{r - 1}
  UNION ALL
  SELECT e.vec_id, list_transform(e.embedding,
         x -> ROUND(CAST(x AS DOUBLE), 6))
  FROM pool e JOIN pick{r} USING (vec_id)
)"""
    picks = " UNION ALL ".join(
        f"SELECT {r} AS sel_round, vec_id, radius FROM pick{r}"
        for r in range(1, k)
    )
    sql += f"""
SELECT 0 AS sel_round, vec_id, CAST(0 AS DOUBLE) AS radius FROM cents0
UNION ALL
{picks}"""
    return sql
