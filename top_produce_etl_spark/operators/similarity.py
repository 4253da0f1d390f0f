"""Similarity search over embedding columns (SURVEY.md §2.11):
brute-force cosine top-k (the exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Scale design:
- Brute force broadcasts the QUERY set and streams the corpus —
  cost |Q|·|C|·dim with no corpus shuffle; right-sized when |Q| is
  small (the common "probe a handful of vectors" case). The corpus
  never collects to the driver.
- The LSH variant (random-hyperplane signs → bucket join) bounds
  candidate pairs by bucket collisions; exact re-scoring on the
  candidates only. Hyperplanes are derived deterministically from
  a seed via xxhash64 so results are reproducible run-to-run.
- Dot products accumulate in exact DECIMAL (see functions.numeric
  rationale) so scores are independent of partitioning and
  bit-comparable to a serial oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.operators.topn import top_n_window


def _dec_dot(a: Column, b: Column) -> Column:
    """Exact-decimal dot product of two float arrays (as double).

    The ORACLE-EXACT twin: decimal accumulation is associative, so
    the score is independent of partitioning and bit-comparable to a
    serial DuckDB fold. Interpreted decimal arithmetic is the main
    cost of the scoring pass — use :func:`_dbl_dot` where exactness
    vs an external oracle isn't required (same pattern as SimHash's
    portable-hash oracle twin vs its xxhash64 production path)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    acc = F.aggregate(
        prod,
        F.lit(0).cast("decimal(28,14)"),
        lambda s, v: (s + v.cast("decimal(28,14)")).cast("decimal(28,14)"),
    )
    return acc.cast("double")


def _dbl_dot(a: Column, b: Column) -> Column:
    """Double-precision dot product — the PRODUCTION fast path.

    Plain IEEE-double left-to-right fold: stays in codegen'd
    primitive arithmetic (no decimal interpretation), ~2× cheaper on
    the scoring-dominated ANN queries. Still deterministic per row
    (the fold is sequential within one array), but NOT
    bit-comparable to an engine that accumulates in another order —
    so the decimal twin stays the CORRECTNESS entry and this path is
    gated by a recall-equality test against it
    (tests/test_dedup_similarity.py)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def dot_fn(scoring: str):
    """Select the dot-product kernel: ``"decimal"`` (oracle-exact) or
    ``"double"`` (fast path)."""
    if scoring == "decimal":
        return _dec_dot
    if scoring == "double":
        return _dbl_dot
    raise ValueError(f"unknown scoring mode: {scoring!r}")


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    scoring: str = "decimal",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: query_id, neighbor_id, cosine, rank (1..k). Excludes
    self-matches. Queries are broadcast; ranking tie-breaks on
    neighbor id for determinism. ``scoring="double"`` swaps the
    oracle-exact decimal dot for the codegen'd double fast path
    (same neighbor sets on this fixture — recall-gated in tests).
    """
    from top_produce_etl_spark.io.sources import fan_out

    dot = dot_fn(scoring)
    # Norms are hoisted out of the pair expression: computed once per
    # row (|Q|+|C| folds) instead of once per pair (2·|Q|·|C|)
    # — bit-identical values, ~3× less scoring work, and exactly the
    # oracle's norms-CTE shape.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", F.sqrt(dot(F.col("__qv"), F.col("__qv"))))
    # fan_out: the |C|·|Q| scoring work runs in the CORPUS scan's
    # tasks (queries are broadcast) — a one-row-group fixture file
    # scans as one task and serializes the whole scoring pass
    # (guide §2.5). Decimal dots are exact and double dots are
    # row-local folds, so placement cannot change any score.
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
    ).withColumn("__cn", F.sqrt(dot(F.col("__cv"), F.col("__cv"))))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "cosine",
        dot(F.col("__qv"), F.col("__cv"))
        / (F.col("__qn") * F.col("__cn")),
    )
    return top_n_window(
        scored, "query_id", "cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "cosine", "rank")


def _hyperplane_sign(vec_col: Column, plane_idx: int, dim: int) -> Column:
    """Sign of <v, h_i> where h_i is a deterministic ±1 hyperplane:
    component j = +1 if xxhash64(plane_idx, j) is even else -1.
    Rademacher hyperplanes preserve the SimHash/cosine-LSH
    collision-probability property and need no stored matrix."""
    signs = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.when(
            F.pmod(F.xxhash64(F.lit(plane_idx), j), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0)),
    )
    dot = F.aggregate(
        F.zip_with(vec_col, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return (dot > 0).cast("int")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
    scoring: str = "decimal",
) -> DataFrame:
    """Approximate top-k cosine: random-hyperplane LSH buckets
    (n_tables independent tables of n_planes bits), candidates =
    corpus vectors sharing a bucket with the query in ANY table,
    exact cosine re-scoring on candidates only.

    Tuning (measured on the embeddings fixture, where true
    neighbors sit at ~60° — the hard near-uniform case): per-table
    hit rate is ~(1-θ/π)^n_planes, so recall is bought with TABLES
    and candidate cost with PLANES (expected candidates per query ≈
    n_tables · |corpus| / 2^n_planes). 6×8 ≈ 0.3 recall@5, 4×16 ≈
    0.88 (deterministic — hyperplanes are hash-seeded; see
    tests/test_dedup_similarity.py recall gate). Tightly clustered
    real-world embeddings (θ small) tolerate many more planes.

    ``multiprobe`` (round-3 verdict): the QUERY side additionally
    probes every bucket at Hamming distance 1 from its code — the
    classic multi-probe LSH trade. Per-table hit probability rises
    from c^b to c^b + b·c^(b-1)(1-c) (c = 1-θ/π, b = n_planes) for
    a query-side-only fanout of ×(1+n_planes); the CORPUS side is
    untouched, so at scale (small |Q|, huge corpus) the extra cost
    is only in the bucket join's probe rows, never in corpus
    shuffle width. Multiprobe recall headroom is better SPENT than
    banked: 4 planes × 8 tables WITH multiprobe beats 4×16 without
    it on both axes (fixture: recall@3 1.0 vs 0.87 at half the
    corpus bucketing work — corpus-side cost scales with n_tables,
    probe cost only with the small query side). ``scoring`` selects
    the candidate-rescoring kernel like
    :func:`cosine_topk_bruteforce`: ``"double"`` is the production
    path (this query is approximate — there is no external oracle
    to be bit-exact against); ``"decimal"`` remains for twin
    comparisons.

    Output schema matches :func:`cosine_topk_bruteforce`; rank may
    have < k rows per query when recall misses (approximate by
    design — the driver records a rows-only check).
    """

    dot = dot_fn(scoring)

    def bucket_cols(df: DataFrame, idc: str, probe: bool) -> DataFrame:
        out = df.withColumn(
            f"__{idc}_n", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
        )
        entries = []
        for t in range(n_tables):
            bits = [
                _hyperplane_sign(F.col(vec_col), t * n_planes + p, dim)
                for p in range(n_planes)
            ]
            code = None
            for b in bits:
                code = b if code is None else (code * 2 + b)
            out = out.withColumn(f"__bkt{t}", code)
            entries.append(
                F.struct(
                    F.lit(t).alias("table"), F.col(f"__bkt{t}").alias("bucket")
                )
            )
            if probe:
                entries.extend(
                    F.struct(
                        F.lit(t).alias("table"),
                        F.col(f"__bkt{t}")
                        .bitwiseXOR(F.lit(1 << p))
                        .alias("bucket"),
                    )
                    for p in range(n_planes)
                )
        return out.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(f"__{idc}_v"),
            f"__{idc}_n",
            F.inline(F.array(*entries)),
        )

    qb = bucket_cols(queries, "query_id", probe=multiprobe)
    cb = bucket_cols(corpus, "neighbor_id", probe=False)
    candidates = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "__query_id_v", "__query_id_n",
            "neighbor_id", "__neighbor_id_v", "__neighbor_id_n",
        )
        .distinct()
    )
    scored = candidates.withColumn(
        "cosine",
        dot(F.col("__query_id_v"), F.col("__neighbor_id_v"))
        / (F.col("__query_id_n") * F.col("__neighbor_id_n")),
    )
    return top_n_window(
        scored, "query_id", "cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "cosine", "rank")


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b) above threshold,
    via the same hyperplane-LSH blocking + exact rescoring."""
    def bucketed(idc: str) -> DataFrame:
        out = df.withColumn(
            f"__{idc}_n", F.sqrt(_dec_dot(F.col(vec_col), F.col(vec_col)))
        )
        for t in range(n_tables):
            bits = [
                _hyperplane_sign(F.col(vec_col), t * n_planes + p, dim)
                for p in range(n_planes)
            ]
            code = None
            for b in bits:
                code = b if code is None else (code * 2 + b)
            out = out.withColumn(f"__bkt{t}", code)
        return out.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(f"__{idc}_v"),
            f"__{idc}_n",
            F.posexplode(
                F.array(*[F.col(f"__bkt{t}") for t in range(n_tables)])
            ).alias("table", "bucket"),
        )

    a = bucketed("a_id")
    b = bucketed("b_id")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "__a_id_v", "__a_id_n", "b_id", "__b_id_v", "__b_id_n")
        .distinct()
    )
    return (
        cand.withColumn(
            "cosine",
            _dec_dot(F.col("__a_id_v"), F.col("__b_id_v"))
            / (F.col("__a_id_n") * F.col("__b_id_n")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, qvec_col: str = "qvec", scale_col: str = "qscale"
) -> DataFrame:
    """Symmetric int8 quantization of a float-vector column.

    Per row: ``scale = 127 / max(|v_i|)`` (guarded against the
    all-zero vector), ``q_i = round(v_i * scale)`` ∈ [-127, 127].
    The 100 TB rationale: an int8 vector is 4× smaller than float32
    — 4× less scan, shuffle, and cache footprint for the ANN corpus
    — and integer dot products stay in codegen'd primitive
    arithmetic. Quantization is write-once (store ``qvec`` +
    ``qscale`` alongside or instead of the float column via the
    normal sink); queries quantize on the fly.

    Deterministic and engine-portable: float→double widening is
    exact, the scalar expression tree is fixed-order IEEE, and
    round-half-up on doubles matches DuckDB's round — so quantized
    scores are bit-comparable to a SQL oracle (no float-accumulation
    caveat like the double dot-product fast path).
    """
    absmax = F.greatest(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))).cast(
            "double"
        ),
        F.lit(1e-12),
    )
    scale = F.lit(127.0) / absmax
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    return df.withColumn(qvec_col, qvec).withColumn(scale_col, scale)


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-vector columns (as
    long). Bounded by dim·127² — no overflow, no rounding, fully
    associative: the score is independent of partitioning AND
    bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k cosine neighbors on int8-quantized vectors.

    Same broadcast-queries / streamed-corpus shape as
    :func:`cosine_topk_bruteforce`, but scoring runs on the
    quantized representation: ``qcosine = dot(qa, qb) /
    (‖qa‖·‖qb‖)`` with exact integer dots. The per-vector scale
    cancels out of the cosine, so it isn't needed at score time —
    only ``qvec`` ships. Approximate versus the float cosine (8-bit
    rounding error), but fully DETERMINISTIC and oracle-checkable,
    unlike float fast paths; recall vs the exact result is pinned in
    tests. Output: query_id, neighbor_id, qcosine, rank.
    """
    q = quantize_embeddings(
        queries.select(F.col(id_col).alias("query_id"), vec_col), vec_col
    ).select("query_id", F.col("qvec").alias("__qv"))
    c = quantize_embeddings(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col), vec_col
    ).select("neighbor_id", F.col("qvec").alias("__cv"))
    q = q.withColumn(
        "__qn", F.sqrt(_int_dot(F.col("__qv"), F.col("__qv")).cast("double"))
    )
    c = c.withColumn(
        "__cn", F.sqrt(_int_dot(F.col("__cv"), F.col("__cv")).cast("double"))
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "qcosine",
        _int_dot(F.col("__qv"), F.col("__cv")).cast("double")
        / (F.col("__qn") * F.col("__cn")),
    )
    return top_n_window(
        scored, "query_id", "qcosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "qcosine", "rank")


def cosine_topk_adc(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Asymmetric top-k cosine (ADC): int8-quantized CORPUS, full-
    precision QUERIES. The corpus — the side that dominates storage,
    scan, and shuffle at 100 TB — keeps the 4x int8 compression of
    :func:`cosine_topk_quantized`, while the |Q|-small query side
    stays float, so quantization noise enters each score ONCE
    instead of twice (the standard faiss/ScaNN trade: symmetric
    recall loss roughly halves at identical corpus bytes).

    Scoring is decimal-accumulated (each query-float x corpus-int
    product is one exact double, folded in DECIMAL), so the whole
    pipeline stays oracle-checkable like the symmetric variant —
    no float-order caveat. Output: query_id, neighbor_id,
    adc_cosine, rank.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", F.sqrt(_dec_dot(F.col("__qv"), F.col("__qv"))))
    c = quantize_embeddings(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col), vec_col
    ).select("neighbor_id", F.col("qvec").alias("__cv"))
    c = c.withColumn(
        "__cn", F.sqrt(_int_dot(F.col("__cv"), F.col("__cv")).cast("double"))
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "adc_cosine",
        _dec_dot(F.col("__qv"), F.col("__cv"))
        / (F.col("__qn") * F.col("__cn")),
    )
    return top_n_window(
        scored, "query_id", "adc_cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "adc_cosine", "rank")


def _ord(v):
    """Total-order key for id tiebreaks in driver-side greedy loops:
    matches SQL ordering for the id types used here (numbers by
    value, strings lexicographically)."""
    return v


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    pool: int = 10,
    rel_weight: int = 70,
    div_weight: int = 30,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: k results per query
    that trade relevance against redundancy — the diversified
    retrieval step a RAG / training-data sampler runs AFTER ANN so
    its k slots don't fill with near-duplicates of one hit.

    Two stages:
    1. Candidate pool — exact top-``pool`` per query
       (:func:`cosine_topk_bruteforce`, decimal scoring).
    2. Greedy MMR over the pool: pick argmax of
       ``rel_weight·rel − div_weight·max_sim_to_selected`` each
       round (λ = rel_weight/(rel_weight+div_weight) in the classic
       formulation, expressed as INTEGER weights over 1e6
       fixed-point cosines so every comparison is exact integer
       arithmetic — no cross-engine float ordering risk), ties by
       min neighbor id. Round 1 is pure relevance.

    The greedy loop unrolls to k−1 DataFrame rounds (k is a small
    constant): each round ONE join of the pairwise-sim relation onto
    the selected set + ONE argmax agg via ``min(struct(-score,
    id))`` — the LPA/pagerank house pattern. All relations are
    bounded by |Q|·pool² (pairwise sims among candidates), never by
    corpus size; the corpus is touched only by stage 1's scan.

    Output: (query_id, neighbor_id, mmr_rank 1..k).
    """
    if not 1 <= k <= pool:
        raise ValueError(f"need 1 <= k <= pool, got k={k}, pool={pool}")
    if rel_weight < 0 or div_weight < 0 or rel_weight + div_weight == 0:
        raise ValueError("weights must be non-negative, not both zero")
    micro = lambda c: F.round(c * F.lit(1e6)).cast("long")  # noqa: E731
    # PERSIST the pool and its pairwise sims: every greedy round's
    # plan references both (remaining-set anti-join + max-sim join),
    # so without a persist the corpus-scan candidate stage re-executes
    # O(k) times — measured 13 s → ~2 s at sf0.1 with k=5. The
    # caller's pipeline_session releases them.
    cands = persist_tracked(
        cosine_topk_bruteforce(
            corpus, queries, id_col, vec_col, k=pool, scoring="decimal"
        ).select(
            "query_id", "neighbor_id", micro(F.col("cosine")).alias("rel_micro")
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    ).withColumn("__n", F.sqrt(_dec_dot(F.col("__v"), F.col("__v"))))
    ca = cands.join(vecs, cands["neighbor_id"] == vecs["__vid"]).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    cb = cands.join(vecs, cands["neighbor_id"] == vecs["__vid"]).select(
        F.col("query_id").alias("__qb"),
        F.col("neighbor_id").alias("other_id"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = persist_tracked(
        ca.join(
            cb,
            (ca["query_id"] == cb["__qb"])
            & (ca["cand_id"] != cb["other_id"]),
        )
        .select(
            "query_id",
            "cand_id",
            "other_id",
            micro(
                _dec_dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("sim_micro"),
        )
    )
    # GREEDY SELECTION, driver-side. The selection state is |Q|·pool
    # relevance integers + |Q|·pool² pairwise-sim integers — bounded
    # by the QUERY side (like the k-means k·dim centroid model and the
    # IVF centroid relation), never by corpus size, so this is a
    # model-sized collect under the house rule. The first cut ran the
    # greedy as k unrolled DataFrame rounds; at pool=10 that plan is
    # ~30 shuffle stages over 100-row relations and scheduling
    # overhead dominated (13 s at sf0.1, vs ~2 s for the distributed
    # scoring stages themselves). The arithmetic here is the same
    # integer fixed-point score and min-id tiebreak the unrolled-CTE
    # oracle computes, so parity is unchanged.
    rel: dict = {}
    for r in cands.collect():
        rel.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["rel_micro"]
    sim: dict = {}
    for r in pairs.collect():
        sim[(r["query_id"], r["cand_id"], r["other_id"])] = r["sim_micro"]
    out_rows = []
    for qid, cand_rel in rel.items():
        chosen: list = []
        remaining = set(cand_rel)
        for t in range(1, k + 1):
            if not remaining:
                break
            if t == 1:
                best = min(
                    remaining, key=lambda c: (-cand_rel[c], _ord(c))
                )
            else:
                best = min(
                    remaining,
                    key=lambda c: (
                        -(
                            rel_weight * cand_rel[c]
                            - div_weight
                            * max(sim[(qid, c, s_)] for s_ in chosen)
                        ),
                        _ord(c),
                    ),
                )
            chosen.append(best)
            remaining.discard(best)
            out_rows.append((qid, best, t))
    schema = (
        cands.select("query_id", "neighbor_id").schema.add(
            "mmr_rank", "integer", False
        )
    )
    return cands.sparkSession.createDataFrame(out_rows, schema)


def standardize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Corpus-wide per-dimension z-scoring of an embedding column —
    the preprocessing step upstream of k-means / ANN when raw
    dimensions have wildly different scales (distance metrics
    otherwise overweight wide dims).

    Shape: ONE narrow posexplode → per-dim exact-decimal moments
    (``dim`` rows) → refolded into a single-row array relation that
    joins back onto the corpus via the house always-0-key broadcast
    pattern (see pagerank's N relation) — the corpus itself NEVER
    shuffles and the per-row work is one ``zip_with``. Population
    std; zero-variance dims emit NULL for that position (0/0
    guarded). Output: (id, z_micro: array<bigint>) at 1e6 fixed
    point — integer output so the cross-engine contract is exact.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    ex = df.select(
        F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select("pos", F.col("v").cast("double").alias("v"))
    stats = (
        ex.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(28,14)")).alias("s"),
            F.sum(
                (F.col("v") * F.col("v")).cast("decimal(28,14)")
            ).alias("ss"),
        )
        .select(
            "pos",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias(
                "mean"
            ),
            F.when(
                (
                    F.col("n").cast("double") * F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double")
                )
                > 0,
                F.sqrt(
                    (
                        F.col("n").cast("double")
                        * F.col("ss").cast("double")
                        - F.col("s").cast("double")
                        * F.col("s").cast("double")
                    )
                    / (F.col("n").cast("double") * F.col("n").cast("double"))
                ),
            ).alias("std"),
        )
    )
    model = F.broadcast(
        stats.agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "mean", "std"))
            ).alias("__m")
        )
        .select(
            F.transform("__m", lambda s: s["mean"]).alias("__means"),
            F.transform("__m", lambda s: s["std"]).alias("__stds"),
        )
        # NON-FOLDABLE always-0 key (house pattern, see pagerank's N
        # relation): a literal 0 would constant-fold and Catalyst
        # would plan the join as a cartesian — which the registry
        # audit rightly rejects; keyed on data it stays a
        # BroadcastHashJoin
        .withColumn(
            "__k", F.pmod(F.size("__means"), F.lit(1)).cast("int")
        )
    )
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(id_col), F.lit(1)).cast("int").alias("__k"),
    )
    idx = F.sequence(F.lit(1), F.lit(dim))
    return keyed.join(model, "__k").select(
        "id",
        F.transform(
            idx,
            lambda i: F.round(
                (
                    F.element_at("__v", i).cast("double")
                    - F.element_at("__means", i)
                )
                / F.element_at("__stds", i)
                * F.lit(1e6)
            ).cast("bigint"),
        ).alias("z_micro"),
    )


def ranking_overlap(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """ANN quality report IN the engine: per-query overlap between an
    approximate ranking and the exact one — ``n_common`` (the
    recall@k numerator) and ``first_hit_rank`` (the MRR ingredient;
    NULL when the approximate list misses entirely). The standing
    bench recall gates compute this driver-side; as an operator it
    runs where the rankings live — evaluating an index over a 100 TB
    corpus without collecting either ranking. One equi-join on
    (query, neighbor) + one per-query agg."""
    rel = exact.select(query_col, neighbor_col).withColumn(
        "__rel", F.lit(1)
    )
    return (
        approx.join(rel, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(
            F.sum(F.coalesce(F.col("__rel"), F.lit(0)))
            .cast("int")
            .alias("n_common"),
            F.min(
                F.when(F.col("__rel") == 1, F.col(rank_col))
            ).alias("first_hit_rank"),
        )
    )


def centroid_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    side_col: Column,
) -> DataFrame:
    """Embedding-space drift monitor: per group, the cosine between
    the MEAN embedding of two snapshots (``side_col`` = 0/1 — e.g.
    old/new ingest, last week/this week). A new encoder version, a
    source shift, or a poisoned batch moves the centroid long before
    per-document checks fire; this is the embedding-space sibling of
    the scalar drift gates (PSI/KS/chi², operators/stats.py).

    Plan: one posexplode + (group, side, dim) hash agg — the k-means
    update shape, |groups|·2·dim result rows — then a per-group join
    of the two tiny mean vectors and one decimal-exact cosine.
    Nothing data-sized past the first agg. Determinism contract:
    means rounded to 6 dp (identical doubles both engines), decimal
    dot folds → the output cosine is oracle-exact.

    Output: (group_col, cos_shift, n_old, n_new); groups missing a
    side are omitted (no drift measurable)."""
    ex = df.select(
        F.col(group_col),
        side_col.cast("int").alias("__side"),
        F.posexplode(vec_col).alias("__dim", "__x"),
    )
    means = (
        ex.groupBy(group_col, "__side", "__dim")
        .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("__m"))
    )
    vecs = (
        means.groupBy(group_col, "__side")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__dim", "__m"))
            ).alias("__s")
        )
        .select(
            group_col,
            "__side",
            F.transform(
                F.col("__s"), lambda t: t.getField("__m")
            ).alias("__vec"),
        )
    )
    counts = (
        df.select(group_col, side_col.cast("int").alias("__side"))
        .groupBy(group_col, "__side")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    a = vecs.filter(F.col("__side") == 0).select(
        group_col, F.col("__vec").alias("__va")
    )
    b = vecs.filter(F.col("__side") == 1).select(
        group_col, F.col("__vec").alias("__vb")
    )
    na = counts.filter(F.col("__side") == 0).select(
        group_col, F.col("__n").alias("n_old")
    )
    nb = counts.filter(F.col("__side") == 1).select(
        group_col, F.col("__n").alias("n_new")
    )
    return (
        a.join(b, group_col)
        .withColumn(
            "cos_shift",
            _dec_dot(F.col("__va"), F.col("__vb"))
            / (
                F.sqrt(_dec_dot(F.col("__va"), F.col("__va")))
                * F.sqrt(_dec_dot(F.col("__vb"), F.col("__vb")))
            ),
        )
        .join(na, group_col)
        .join(nb, group_col)
        .select(group_col, "cos_shift", "n_old", "n_new")
    )


# ---------------------------------------------------------------------------
# Random projection (wave 4)


def _rp_sign(i: Column, j: Column) -> Column:
    """Deterministic ±1 projection-matrix entry for (input dim i,
    output dim j) — pure integer arithmetic, so BOTH engines (and
    any future one) reproduce the matrix without sharing hash
    libraries:

        h1 = (i·40503 + j·10859) mod 65521
        h2 = (h1² + i·7919 + j·104729) mod 65521
        sign(i, j) = 1 − 2·(h2 mod 2)

    The QUADRATIC term is load-bearing: any purely linear mix makes
    column j+1 a shifted copy of column j (fixed Δj ⇒ fixed
    argument offset), i.e. heavily correlated projection directions
    and an effective rank far below out_dim — measured cosine-MAE
    0.52 on the 64→16 fixture vs 0.18 for this form (true-random
    reference 0.19, theory sqrt(2/(π·16)) ≈ 0.20). h1² mod p breaks
    the shift structure; 65521 is the largest 16-bit prime, keeping
    h1² < 2^33 inside exact int64 (ANSI-safe — no wraparound in
    either engine)."""
    il, jl = i.cast("long"), j.cast("long")
    h1 = (il * F.lit(40503) + jl * F.lit(10859)) % F.lit(65521)
    h2 = (h1 * h1 + il * F.lit(7919) + jl * F.lit(104729)) % F.lit(65521)
    return (F.lit(1) - F.lit(2) * (h2 % F.lit(2))).cast("int")


def random_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    out_col: str = "proj",
    scoring: str = "decimal",
) -> DataFrame:
    """Sparse-sign random projection of an embedding column to
    ``out_dim`` dims — the Johnson–Lindenstrauss compression step
    that cuts ANN shuffle bytes by dim_in/out_dim while roughly
    preserving angles (Achlioptas-style ±1 matrix; no dense
    Gaussian needed).

    proj[j] = round(Σ_i sign(i, j) · v[i], 6) — the projection
    matrix is the deterministic :func:`_rp_sign` closed form, so no
    model relation ships anywhere: the "matrix" is an expression.
    Scale shape: a pure per-row column computation (zero shuffle,
    zero driver state); at 100 TB this runs map-side in the same
    stage as the scan, and every DOWNSTREAM shuffle (LSH banding,
    IVF cell joins, k-means rounds) moves out_dim/dim_in of the
    bytes.

    ``scoring="decimal"`` (default) accumulates each component in
    exact DECIMAL — partition-order-proof and bit-comparable to a
    DuckDB fold (each ±v[i] term is exact in ANY arithmetic: ±1·x
    never rounds). ``scoring="double"`` is the codegen'd fast twin
    (sequential in-row fold — deterministic per row, not
    oracle-portable; same pattern as _dbl_dot).
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if scoring not in ("decimal", "double"):
        raise ValueError(f"scoring must be decimal|double, got {scoring!r}")
    vec = F.col(vec_col)
    idx = F.sequence(F.lit(0), F.size(vec) - F.lit(1))

    def component(j: Column) -> Column:
        term = lambda i: (  # noqa: E731
            F.element_at(vec, i + F.lit(1)).cast("double")
            * _rp_sign(i, j).cast("double")
        )
        if scoring == "decimal":
            acc = F.aggregate(
                idx,
                F.lit(0).cast("decimal(28,14)"),
                lambda s, i: (s + term(i).cast("decimal(28,14)")).cast(
                    "decimal(28,14)"
                ),
            ).cast("double")
        else:
            acc = F.aggregate(
                idx, F.lit(0.0), lambda s, i: s + term(i)
            )
        return F.round(acc, 6)

    return df.withColumn(
        out_col,
        F.transform(F.sequence(F.lit(0), F.lit(out_dim - 1)), component),
    )


def random_project_oracle_sql(
    dim_in: int, out_dim: int, table: str = "embeddings",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB CTE body computing the SAME projection long-form:
    (id, j, value). Compose into larger oracles (top-k, clustering)
    or select directly."""
    return f"""
    SELECT {id_col}, j,
           round(CAST(SUM(CAST(
               CAST({vec_col}[i + 1] AS DOUBLE)
               * (1 - 2 * (((((i * 40503 + j * 10859) % 65521)
                             * ((i * 40503 + j * 10859) % 65521)
                             + i * 7919 + j * 104729) % 65521) % 2))
           AS DECIMAL(28,14))) AS DOUBLE), 6) AS value
    FROM {table},
         unnest(range(0, {dim_in})) r(i),
         unnest(range(0, {out_dim})) rj(j)
    GROUP BY 1, 2"""


def projection_quality_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    query_pred: Column,
) -> DataFrame:
    """One-row JL quality report for :func:`random_project`:
    how well projected cosine approximates full-dim cosine over the
    (query × corpus) pair set.

    This — NOT top-k recall — is the contract random projection
    actually makes: |cos_proj − cos_true| concentrates at
    ~sqrt(2/(π·out_dim)) (≈0.2 at out_dim=16). On corpora with real
    near-dup structure (cos ≥ 0.9 vs background ≈ 0) that error is
    decisive for cheap candidate blocking; on uniform-on-the-sphere
    fixtures top-k gaps (~0.02) sit BELOW the noise floor, so a
    recall gate would measure the fixture, not the operator. The
    report pins the estimator's accuracy directly and is fully
    oracle-checkable (projection exact, errors deterministic).

    Output: (n_pairs, cos_mae, cos_max_err) — mae decimal-summed
    then 6-dp-rounded; max is order-free.
    """
    proj = random_project(df, vec_col, out_dim, out_col="__p")
    q = proj.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("__p").alias("__qp"),
    )
    c = proj.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col("__p").alias("__cp"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos_true = _dec_dot(F.col("__qv"), F.col("__cv")) / (
        F.sqrt(_dec_dot(F.col("__qv"), F.col("__qv")))
        * F.sqrt(_dec_dot(F.col("__cv"), F.col("__cv")))
    )
    cos_proj = _dec_dot(F.col("__qp"), F.col("__cp")) / (
        F.sqrt(_dec_dot(F.col("__qp"), F.col("__qp")))
        * F.sqrt(_dec_dot(F.col("__cp"), F.col("__cp")))
    )
    err = F.abs(cos_proj - cos_true)
    return pairs.select(err.alias("__err")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("__err").cast("decimal(28,14)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("cos_mae"),
        F.round(F.max("__err"), 6).alias("cos_max_err"),
    )


def mean_pool_vectors(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str,
    out: str = "pooled",
) -> DataFrame:
    """Element-wise MEAN of an embedding column per group — the
    chunk→document pooling step every retrieval pipeline runs after
    chunk-level embedding (a doc's vector = mean of its chunks'; the
    same primitive builds per-label/per-source centroid tables for
    drift monitors and IVF seed models).

    Plan shape: one posexplode to (group, dim, value) + one
    (group, dim) hash-agg + one in-row reassembly (``array_sort`` of
    (dim, v) structs — no second shuffle, no collect_list of whole
    vectors). Shuffle carries |groups|·dim rows regardless of corpus
    size. Determinism: the kmeans centroid contract — per-dim
    ``round(avg(double), 6)`` — so the pooled table is bit-identical
    cross-engine.

    Output: (group_cols…, n_vectors, ``out`` array<double>).
    """
    exploded = df.select(
        *group_cols,
        F.posexplode(F.col(vec_col)).alias("__dim", "__v"),
    )
    per_dim = exploded.groupBy(*group_cols, "__dim").agg(
        F.round(F.avg(F.col("__v").cast("double")), 6).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_dim.groupBy(*group_cols)
        .agg(
            F.max("__n").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct("__dim", "__m"))
            ).alias("__dm"),
        )
        .select(
            *group_cols,
            "n_vectors",
            F.transform(
                F.col("__dm"), lambda s: s.getField("__m")
            ).alias(out),
        )
    )


def rerank_exact(
    corpus: DataFrame,
    shortlist: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    scoring: str = "decimal",
) -> DataFrame:
    """Stage 2 of retrieve-then-rerank — THE production ANN serving
    composition: a cheap index (IVF×PQ / LSH / quantized) proposes a
    per-query shortlist, and only those |Q|·N pairs are rescored
    against the FULL-PRECISION vectors. The expensive exact kernel
    never sees the corpus-sized pair space; the approximate index
    never decides the final order.

    ``shortlist`` carries (query_id, neighbor_id) — any retrieval
    tier's output. Scale shape: the shortlist is broadcast into two
    id-keyed joins against the corpus (vector fetch by key — at
    100 TB this is the point-lookup the stored-index tier serves),
    then one per-query window. Scoring mirrors
    :func:`cosine_topk_bruteforce`'s hoisted-norm kernel exactly, so
    the decimal path is oracle-exact over the candidate pairs.

    Output: query_id, neighbor_id, cosine, rank (1..k).
    """
    dot = dot_fn(scoring)
    # distinct: any retrieval tier may emit the same (query, neighbor)
    # pair twice (e.g. two LSH bands, pre-fusion rank lists); a dup
    # here would occupy two of the k ranks. Cheap — the shortlist is
    # |Q|·N and already broadcast-sized.
    cand = shortlist.select("query_id", "neighbor_id").distinct()
    q = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", F.sqrt(dot(F.col("__qv"), F.col("__qv"))))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", F.sqrt(dot(F.col("__cv"), F.col("__cv"))))
    scored = (
        q.join(F.broadcast(cand), "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            dot(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
        )
    )
    return top_n_window(
        scored, "query_id", "cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "cosine", "rank")
