"""Product quantization (PQ) for embedding compression + ANN.

The quantization tier so far compresses uniformly: int8 scalar
(4×, operators/similarity.py::quantize_embeddings), asymmetric int8
ADC, and random-projection dimension cuts. PQ (Jégou, Douze, Schmid
2011 — the faiss workhorse) is the codebook family: split each
vector into S subvectors, k-means each subspace to C codewords, and
store S small code ids per vector — 64 float dims become S=8 bytes
(32× smaller than float32) while distances stay computable against
the codebooks.

Spark-first design (100 TB shape):
- train: ALL S subspaces per Lloyd round in ONE scan + ONE
  (subspace, code, dim) hash-agg (see pq_train) — the same "small
  model, big data" loop as IVF/k-means (S·C·d driver state only);
  production trains on a bounded sample, the fixture path trains on
  the whole table so the DuckDB oracle can re-derive identical
  codebooks.
- model: all S codebooks ride ONE one-row broadcast relation
  (``array<array<array<double>>>``) — the _cents_rel lesson:
  literal arrays of this size dominate codegen, a one-row join
  carries them as plain columns at identical arithmetic.
- encode: S narrow argmin expressions per row — map-side only,
  zero shuffle; the encoded corpus is the thing you STORE.
- search (ADC style): queries stay full-precision; a candidate's
  vector is RECONSTRUCTED from its codewords and scored with the
  exact-decimal cosine kernel, so the whole pipeline remains
  oracle-checkable bit-for-bit. ``scoring="lut"`` is the classic
  physical shortcut to the SAME mathematical score: each query
  precomputes an S×C table of subvector dots against the broadcast
  codebooks (plus a model-side S×C squared-norm table), so a
  candidate scores in S array lookups + S adds — no 64-dim
  reconstruction, no per-pair dim-loop. Same neighbor sets as the
  decimal twin (FP association differs in the last ulps; the sets
  are pinned in tests/test_pq.py).
- one search core: the in-memory searches (:func:`pq_topk`,
  :func:`ivfpq_topk`) and the stored-index searches
  (``*_topk_from_index``) differ only in where the coded corpus
  comes from — the memoized :func:`pq_encode` of the raw vectors, or
  the parquet ``codes`` store. Everything after that is shared:
  ``_query_side`` builds the query rows (the per-query LUT and norm,
  optionally routed to probe cells), ``_corpus_side`` the candidate
  rows (codes + model-side norm, or the reconstructed vector), and
  ``_search`` joins them (a broadcast cross, or the equi-join on the
  probed cell), scores, and cuts with
  ``operators.topn.top_n_window``. The store has one codebook
  writer/reader and one code writer (``cell``-partitioned for
  IVF×PQ).
- train-once: the model is driver-side Python lists (S·C·d floats);
  ``cache_key`` memoizes it per (corpus-key, params) so repeated
  queries — the bench steady state, or a session serving many
  searches — train ONCE and reuse, the production shape (faiss
  trains offline; only encode/search ride the query path).

Determinism contract (the kmeans oracle scheme): init = codewords
from the C lowest-id vectors' subvectors, 6 dp rounding at init and
after every update, argmin tie-breaks on codeword position, empty
codewords drop. Codes are 1-based POSITIONS in the cid-ordered
codebook so the oracle's row_number enumeration matches.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked
from top_produce_etl_spark.operators.clustering import (
    kmeans_fit,
    with_nearest_cell,
    with_probe_cells,
)
from top_produce_etl_spark.operators.similarity import dot_fn
from top_produce_etl_spark.operators.topn import top_n_window
SUBSPACES = 8
CODES = 16

# Trained models memoized per (cache_key, params): driver-side
# S·C·d Python floats — model-sized by construction, never data-
# sized. Keyed explicitly by the CALLER (e.g. the fixture dir) so
# distinct corpora never share a model; a caller reusing one
# cache_key for a DIFFERENT corpus gets the stale model — that is
# the documented contract (same as faiss index files on disk).
# Entries are stored as (session_app_id | None, value): DataFrame-
# valued entries (encoded corpus, inverted lists) are session-bound
# and EVICTED at lookup time once their session is gone (ADVICE r6
# — the cache must not leak stale DataFrames across session
# restarts in one process). Pure-model entries (app_id None: Python
# float lists) legitimately outlive sessions.
_MODEL_CACHE: dict[tuple, tuple[str | None, object]] = {}


def _cached(key: tuple | None, fit, app_id: str | None = None):
    if key is None:
        return fit()
    if app_id is not None:
        # purge every session-bound entry from dead sessions — O(cache)
        dead = [
            k
            for k, (aid, _) in _MODEL_CACHE.items()
            if aid is not None and aid != app_id
        ]
        for k in dead:
            del _MODEL_CACHE[k]
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = (app_id, fit())
    return _MODEL_CACHE[key][1]


def pq_cache_clear() -> None:
    """Drop every memoized model/index (tests, corpus swaps)."""
    _MODEL_CACHE.clear()


def _train_sample(df: DataFrame, id_col: str, mod: int | None) -> DataFrame:
    """The deterministic 1/``mod`` training sample keyed by
    ``xxhash64(id)`` (see :func:`pq_train`); the whole frame when
    ``mod`` is None."""
    if mod is None:
        return df
    if mod < 2:
        raise ValueError(f"train_sample_mod must be >= 2, got {mod}")
    return df.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(17)), F.lit(mod)) == 0
    )


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    iters: int = 1,
    train_sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Fit the S codebooks: ``books[s][pos-1] = subvector``
    (position-dense; empty codewords drop on update, like
    kmeans_fit).

    ALL subspaces train in the same pass: init is ONE collect of the
    C lowest-id vectors (sliced driver-side), and each Lloyd round
    is ONE scan — the S per-subspace assignments are S narrow argmin
    expressions over the broadcast model, the vector posexplodes
    once, and a single (subspace, code, dim) hash-agg updates every
    codebook (S·C·d model rows back to the driver). A per-subspace
    kmeans_fit loop computes the same model in S× the scans and 2S×
    the driver round-trips — measured 9.3 s → the fused trainer at
    sf0.1.

    ``train_sample_mod`` (r6 verdict #5 — standard faiss practice):
    train on a deterministic 1/mod sample instead of the full
    corpus. Codebook quality needs ~O(100·C) points per subspace,
    not the corpus, so index builds at 100 TB sample aggressively.
    The sample key is ``xxhash64(id)`` — NOT ``id % mod``, which
    would correlate with any id-structured data layout (synthembs
    plants group = id % groups; an arithmetic sample would silently
    train on a subset of groups). Reproducible run-to-run; the
    probe's planted recall gate runs against the sampled model in
    bench (``pq_probe``)."""
    if dim % subspaces:
        raise ValueError(f"dim {dim} not divisible by {subspaces}")
    df = _train_sample(df, id_col, train_sample_mod)
    d = dim // subspaces
    init_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(codes)
        .collect()
    )
    books: list[list[list[float]]] = [
        [
            [round(float(x), 6) for x in r[vec_col][s * d:(s + 1) * d]]
            for r in init_rows
        ]
        for s in range(subspaces)
    ]
    for _ in range(iters):
        enc = pq_encode(df, id_col, vec_col, books, keep_vec=True)
        longf = enc.select(
            F.col("codes"),
            F.posexplode(F.col(vec_col)).alias("__p0", "__x"),
        ).select(
            (F.col("__p0") / d).cast("int").alias("__s"),
            F.element_at(
                F.col("codes"), ((F.col("__p0") / d).cast("int") + 1)
            ).alias("__code"),
            F.pmod(F.col("__p0"), F.lit(d)).alias("__i"),
            F.col("__x"),
        )
        rows = (
            longf.groupBy("__s", "__code", "__i")
            .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("v"))
            .collect()
        )
        by_s: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            by_s.setdefault(r["__s"], {}).setdefault(r["__code"], {})[
                r["__i"]
            ] = r["v"]
        books = [
            [
                [cw[i] for i in sorted(cw)]
                for _, cw in sorted(by_s.get(s, {}).items())
            ]
            for s in range(subspaces)
        ]
    return books


def _pq_rel(spark, books: list[list[list[float]]]) -> DataFrame:
    """The PQ model as a ONE-ROW broadcastable relation: the S
    codebooks plus the S×C codeword squared-norm table (computed
    driver-side once — the LUT path's denominator never touches a
    reconstructed vector)."""
    vecs = [[[float(x) for x in cv] for cv in book] for book in books]
    n2 = [
        [float(sum(x * x for x in cv)) for cv in book] for book in books
    ]
    return spark.createDataFrame(
        [(0, vecs, n2)],
        "__pk int, __pq_vecs array<array<array<double>>>,"
        " __pq_n2 array<array<double>>",
    )


def _attach_model(df: DataFrame, vec_col: str, books) -> DataFrame:
    # non-foldable always-0 key → BroadcastHashJoin (audit contract)
    return (
        df.withColumn(
            "__pk", F.pmod(F.size(F.col(vec_col)), F.lit(1)).cast("int")
        )
        .join(F.broadcast(_pq_rel(df.sparkSession, books)), "__pk")
        .drop("__pk")
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    out: str = "codes",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, codes): 1-based codeword positions per subspace — S
    narrow argmin expressions, no shuffle. Subvector slices are
    materialized in their own projection first so codegen doesn't
    re-slice per codeword (the staged-tokenization lesson in
    functions/text.py)."""
    subspaces = len(books)
    d = len(books[0][0])
    staged = _attach_model(df.select(F.col(id_col), vec_col), vec_col, books)
    for s in range(subspaces):
        staged = staged.withColumn(
            f"__s{s}", F.slice(F.col(vec_col), s * d + 1, d)
        )
    def _cand_fn(s: int):
        # a closure, NOT a `s=s` default arg — PySpark counts lambda
        # parameters to bind HOF variables, and a defaulted third
        # parameter reads as a 3-arg lambda (NUM_ARGS_MISMATCH)
        def fn(cv, p):
            return F.struct(
                _sq_dist(F.col(f"__s{s}"), cv).alias("d"),
                p.alias("p"),
            ).cast("struct<d:double,p:int>")

        return fn

    code_cols = []
    for s in range(subspaces):
        book = F.element_at(F.col("__pq_vecs"), s + 1)
        cands = F.zip_with(
            book, F.sequence(F.lit(1), F.size(book)), _cand_fn(s)
        )
        code_cols.append(F.array_min(cands).getField("p"))
    cols = [F.col(id_col), F.array(*code_cols).alias(out)]
    if keep_vec:
        cols.append(F.col(vec_col))
    return staged.select(*cols)


def _lut_col(vec_col: str, subspaces: int, d: int) -> Column:
    """Per-QUERY S×C dot table against the broadcast codebooks:
    lut[s][c] = <q_s, codebook[s][c]> — computed once per query row
    (|Q|-small), carried into the scoring join as S·C doubles."""
    def _book_fn(book, s):
        lo = (s.cast("int")) * d + 1
        sub = F.slice(F.col(vec_col), lo, d)
        return F.transform(
            book,
            lambda cv: F.aggregate(
                F.zip_with(sub, cv, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
        )

    return F.transform(F.col("__pq_vecs"), _book_fn)


def _codeword_terms(table: str, subspaces: int) -> list[Column]:
    """Per-subspace lookup of each candidate's codeword in an S×C
    table: ``table[s][codes[s]]`` for every subspace s."""
    return [
        F.element_at(
            F.element_at(F.col(table), s + 1),
            F.element_at(F.col("codes"), s + 1),
        )
        for s in range(subspaces)
    ]


def _lut_score(subspaces: int) -> Column:
    """Candidate score in S lookups + S adds (fully unrolled —
    stays inside whole-stage codegen): Σ_s lut[s][codes[s]]."""
    return reduce(operator.add, _codeword_terms("__lut", subspaces))


def _lut_norm(subspaces: int) -> Column:
    """Reconstructed-vector norm from the model's squared-norm
    table: ‖recon‖² = Σ_s ‖codebook[s][codes[s]]‖² (subvectors are
    disjoint coordinate blocks, so the squares just concatenate)."""
    return F.sqrt(
        reduce(operator.add, _codeword_terms("__pq_n2", subspaces))
    )


def _recon(subspaces: int) -> Column:
    """The reconstructed vector: the S codewords, concatenated."""
    return F.flatten(F.array(*_codeword_terms("__pq_vecs", subspaces)))


def _query_side(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    scoring: str,
    cells: tuple[list[tuple[int, list[float]]], int] | None = None,
) -> DataFrame:
    """The query rows of every search. LUT scoring: (query_id,
    __lut, __qn) — the per-query S×C dot table against the broadcast
    codebooks plus the query's IEEE-double norm, once per query.
    Reconstruction scoring: (query_id, __qv, __qn), the norm in the
    scoring kernel. ``cells=(cents, n_probe)`` also routes each query
    to its probe cells (``__cells``, before the LUT/norm columns)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    if scoring == "lut":
        q = _attach_model(q, "__qv", books)
    probe = []
    if cells is not None:
        q = with_probe_cells(q, "__qv", *cells, out="__cells")
        probe = ["__cells"]
    if scoring == "lut":
        return (
            q.withColumn(
                "__lut", _lut_col("__qv", len(books), len(books[0][0]))
            )
            .withColumn(
                "__qn",
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            F.col("__qv"),
                            lambda x: x.cast("double") * x.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda acc, z: acc + z,
                    )
                ),
            )
            .select("query_id", *probe, "__lut", "__qn")
        )
    dot = dot_fn(scoring)
    return q.withColumn(
        "__qn", F.sqrt(dot(F.col("__qv"), F.col("__qv")))
    ).select("query_id", *probe, "__qv", "__qn")


def _corpus_side(
    coded: DataFrame,
    books: list[list[list[float]]],
    scoring: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The candidate rows of every search, from a coded frame of
    (neighbor_id, codes, *keep) — the in-memory encode or the stored
    ``codes``. LUT scoring: (neighbor_id, *keep, codes, __rn) with
    the norm from the model's squared-norm table. Reconstruction
    scoring: (neighbor_id, *keep, __rv, __rn)."""
    subspaces = len(books)
    c = _attach_model(coded, "codes", books)
    if scoring == "lut":
        return c.select(
            "neighbor_id", *keep, "codes", _lut_norm(subspaces).alias("__rn")
        )
    dot = dot_fn(scoring)
    return (
        c.withColumn("__rv", _recon(subspaces))
        .withColumn("__rn", F.sqrt(dot(F.col("__rv"), F.col("__rv"))))
        .select("neighbor_id", *keep, "__rv", "__rn")
    )


def _search(
    q: DataFrame,
    c: DataFrame,
    subspaces: int,
    scoring: str,
    k: int,
    probed: bool = False,
) -> DataFrame:
    """The one scoring core: pair queries with candidates, score,
    and keep the top ``k`` per query. ``probed``: each query meets
    only the candidates of its probe cells (the cell-keyed equi-join
    of IVF); otherwise the broadcast-queries cross — the standard
    |Q|-small ANN scoring shape (cosine_topk_bruteforce/adc exemption
    in the plan audit)."""
    if probed:
        pairs = (
            q.withColumn("cell", F.explode("__cells"))
            .drop("__cells")
            .join(c, "cell")
        )
    else:
        pairs = c.crossJoin(F.broadcast(q))
    if scoring == "lut":
        num = _lut_score(subspaces)
    else:
        num = dot_fn(scoring)(F.col("__qv"), F.col("__rv"))
    scored = pairs.filter(
        F.col("query_id") != F.col("neighbor_id")
    ).withColumn("pq_cosine", num / (F.col("__qn") * F.col("__rn")))
    return top_n_window(
        scored, "query_id", "pq_cosine", k, tiebreak="neighbor_id"
    ).select("query_id", "neighbor_id", "pq_cosine", "rank")


def _trained_books(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    subspaces: int,
    codes: int,
    cache_key: str | None,
) -> list[list[list[float]]]:
    """The codebooks, memoized per (cache_key, dim, subspaces,
    codes) when ``cache_key`` is given — train once, search many."""
    return _cached(
        ("pq", cache_key, dim, subspaces, codes) if cache_key else None,
        lambda: pq_train(
            corpus, id_col, vec_col, dim, subspaces=subspaces, codes=codes
        ),
    )


def _memo_persisted(
    tag: str,
    scoring: str,
    cache_key: str | None,
    corpus: DataFrame,
    params: tuple,
    fit,
) -> DataFrame:
    """The candidate rows an in-memory search scores, built by
    ``fit``. The encoded corpus is what production STORES (faiss
    builds the index offline; only search rides the query path) —
    with ``cache_key`` it is memoized under (tag, cache_key, app id,
    *params), reconstruction entries as (tag-recon, …, scoring), and
    persisted via the house steady-state registry, so repeated
    searches skip re-encoding. Keyed by Spark app id: a DataFrame
    must not outlive its session."""
    if not cache_key:
        return fit()
    app_id = corpus.sparkSession.sparkContext.applicationId
    key = (
        (tag, cache_key, app_id, *params)
        if scoring == "lut"
        else (f"{tag}-recon", cache_key, app_id, *params, scoring)
    )
    return persist_tracked(_cached(key, fit, app_id=app_id))


def _coded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(neighbor_id, codes), plus the nearest coarse ``cell`` when
    ``cents`` is given — the coded corpus an in-memory search
    memoizes and the index store holds."""
    enc = pq_encode(
        df, id_col, vec_col, books, keep_vec=cents is not None
    ).withColumnRenamed(id_col, "neighbor_id")
    if cents is None:
        return enc
    return with_nearest_cell(enc, vec_col, cents, out="cell").drop(vec_col)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    scoring: str = "decimal",
    cache_key: str | None = None,
) -> DataFrame:
    """Asymmetric PQ top-k cosine: full-precision queries scored
    against the corpus's codeword representation. ``scoring`` picks
    the kernel:

    - "decimal": reconstruct + exact-decimal dot (oracle-exact, the
      battery entry);
    - "double": reconstruct + codegen'd IEEE dot (the ivf_topk_fast
      precedent);
    - "lut": the classic production ADC — per-query S×C dot tables
      + the model's squared-norm table; a candidate never
      reconstructs and scores in S lookups (same mathematical score
      as "double", FP association aside; set parity pinned in
      tests/test_pq.py).

    ``cache_key`` (e.g. the fixture dir) memoizes the trained model
    driver-side — train once, search many. Output: query_id,
    neighbor_id, pq_cosine, rank.
    """
    books = _trained_books(
        corpus, id_col, vec_col, dim, subspaces, codes, cache_key
    )
    c = _memo_persisted(
        "pq-enc", scoring, cache_key, corpus, (dim, subspaces, codes),
        lambda: _corpus_side(
            _coded(corpus, id_col, vec_col, books), books, scoring
        ),
    )
    q = _query_side(queries, id_col, vec_col, books, scoring)
    return _search(q, c, subspaces, scoring, k)


def _write_codebooks(spark, books: list[list[list[float]]], path: str) -> None:
    """``path/codebooks``: (subspace, pos, cvec, n2) — S·C model
    rows, including the squared norms the LUT denominator needs."""
    rows = [
        (s, p + 1, [float(x) for x in cv], float(sum(x * x for x in cv)))
        for s, book in enumerate(books)
        for p, cv in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, pos int, cvec array<double>, n2 double"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def _read_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The stored books — a model-sized collect (S·C rows)."""
    by_s: dict[int, dict[int, list[float]]] = {}
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        by_s.setdefault(r["subspace"], {})[r["pos"]] = list(r["cvec"])
    return [[by_s[s][p] for p in sorted(by_s[s])] for s in sorted(by_s)]


def _write_codes(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    path: str,
    mode: str,
    cents: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Encode ``batch`` and write it to ``path/codes`` — partitioned
    by ``cell`` when ``cents`` assigns cells (IVF×PQ)."""
    writer = _coded(batch, id_col, vec_col, books, cents).write.mode(mode)
    if cents is not None:
        writer = writer.partitionBy("cell")
    writer.parquet(f"{path}/codes")


def pq_index_save(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    path: str,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    train_sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Materialize the PQ index as PARQUET ARTIFACTS — the offline
    half of the faiss lifecycle: train + encode once at ingest,
    store, and serve every later search from the stored tables
    (``pq_topk_from_index``) with no retraining and no access to the
    raw vectors. ``train_sample_mod`` trains the codebooks on a
    deterministic hash sample (see :func:`pq_train`) — the FULL
    corpus is always encoded; only training samples.

    Artifacts under ``path``:
    - ``codebooks``: (subspace, pos, cvec, n2) — S·C model rows,
      including the precomputed squared norms the LUT denominator
      needs;
    - ``codes``: (neighbor_id, codes) — the 8-bytes-per-vector
      compressed corpus, the thing PQ exists to store.

    Returns the trained books (callers may keep encoding new
    batches with them — append-stable: codes depend only on the
    model, not on other rows)."""
    books = pq_train(
        corpus, id_col, vec_col, dim, subspaces=subspaces, codes=codes,
        train_sample_mod=train_sample_mod,
    )
    _write_codebooks(corpus.sparkSession, books, path)
    _write_codes(corpus, id_col, vec_col, books, path, "overwrite")
    return books


def pq_index_append(
    batch: DataFrame, id_col: str, vec_col: str, path: str
) -> None:
    """Incremental index maintenance: encode a NEW batch with the
    STORED codebooks and append its codes — no retraining, and
    existing codes never change (codes depend only on the model).
    This is the ingest-time half of serving at 100 TB: the model is
    fixed, the coded corpus grows. NOTE: a plain parquet append is
    deterministic but NOT retry-idempotent — re-running the same
    batch duplicates its rows; a production ingest routes this write
    through the exactly-once batch-id-fenced sink
    (io/sinks.py::idempotent append)."""
    books = _read_codebooks(batch.sparkSession, path)
    _write_codes(batch, id_col, vec_col, books, path, "append")


def pq_index_load(
    spark, path: str
) -> tuple[list[list[list[float]]], DataFrame]:
    """Load a stored PQ index: (books, codes DataFrame). The
    codebook read is a model-sized collect (S·C rows); the coded
    corpus stays a lazy scan."""
    return _read_codebooks(spark, path), spark.read.parquet(f"{path}/codes")


def pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Serve top-k from the STORED index (LUT scoring — the serving
    path never touches raw corpus vectors, only the 8-byte codes +
    the S·C model). Same output contract as :func:`pq_topk`."""
    books, enc = pq_index_load(spark, path)
    c = _corpus_side(enc, books, "lut")
    q = _query_side(queries, id_col, vec_col, books, "lut")
    return _search(q, c, len(books), "lut", k)


def pq_topk_oracle_sql(
    dim: int = 64,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    k: int = 3,
    query_pred: str = "vec_id < 10",
    cand_ctes: str | None = None,
) -> str:
    """DuckDB twin of :func:`pq_topk` over the embeddings table:
    per-subspace unrolled 1-iteration Lloyd (the kmeans oracle
    scheme — init = C lowest-id subvectors at 6 dp, argmin tie-break
    on codeword id, update means at 6 dp, empty codewords drop),
    positional encode, codeword reconstruction, and the exact
    DECIMAL cosine of the ADC oracle.

    ``cand_ctes`` (r7, the IVF×PQ composition): extra CTE bodies
    ending in a relation ``cand(query_id, neighbor_id)``; when
    given, scoring restricts to those pairs — exactly ivfpq_topk's
    cell pruning, with the coarse-quantizer CTEs supplied by the
    caller (queries/similarity_q.py::_ivfpq_oracle)."""
    d = dim // subspaces
    parts = []
    enc_parts = []
    rec_parts = []
    for s in range(subspaces):
        lo = s * d  # 0-based offset; DuckDB lists are 1-based
        dist0 = (
            f"list_sum(list_transform(range(1, {d} + 1), "
            f"i -> (CAST(e.embedding[{lo} + i] AS DOUBLE) "
            f"- c.cvec[i]) ^ 2))"
        )
        parts.append(f"""
cb{s}_0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding[{lo + 1}:{lo + d}],
                        x -> ROUND(CAST(x AS DOUBLE), 6)) AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {codes})
),
asg{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {dist0}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cb{s}_0 c
  ) WHERE rn = 1
),
cbl{s} AS (
  SELECT a.cid, t.i AS dim,
         ROUND(AVG(CAST(e.embedding[{lo} + t.i] AS DOUBLE)), 6) AS v
  FROM asg{s} a JOIN embeddings e USING (vec_id),
       UNNEST(generate_series(1, {d})) AS t(i)
  GROUP BY a.cid, t.i
),
cb{s} AS (
  SELECT row_number() OVER (ORDER BY cid) AS pos,
         list(v ORDER BY dim) AS cvec
  FROM (SELECT cid, v, dim FROM cbl{s}) GROUP BY cid
)""")
        enc_parts.append(f"""
enc{s} AS (
  SELECT vec_id, pos FROM (
    SELECT e.vec_id, c.pos,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {dist0.replace("c.cid", "c.pos")}, c.pos) AS rn
    FROM embeddings e CROSS JOIN cb{s} c
  ) WHERE rn = 1
)""")
        rec_parts.append(
            f"SELECT a.vec_id, {lo} + t.i AS dim, c.cvec[t.i] AS v"
            f" FROM enc{s} a JOIN cb{s} c USING (pos),"
            f" UNNEST(generate_series(1, {d})) AS t(i)"
        )
    body = ",".join(parts) + "," + ",".join(enc_parts)
    if cand_ctes:
        body = cand_ctes + "," + body
    recon = " UNION ALL ".join(rec_parts)
    return f"""WITH {body},
recon AS ({recon}),
cnorm AS (
  SELECT vec_id,
         sqrt(CAST(SUM(CAST(v * v AS DECIMAL(28,14))) AS DOUBLE)) AS nrm
  FROM recon GROUP BY vec_id
),
exq AS (
  SELECT vec_id, r.i AS dim, CAST(embedding[r.i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, {dim} + 1)) r(i)
  WHERE {query_pred}
),
qnorm AS (
  SELECT vec_id,
         sqrt(CAST(SUM(CAST(v * v AS DECIMAL(28,14))) AS DOUBLE)) AS nrm
  FROM exq GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CAST(q.v * c.v AS DECIMAL(28,14))) AS DOUBLE) AS dot
  FROM exq q JOIN recon c ON q.dim = c.dim
  {"JOIN cand ON q.vec_id = cand.query_id AND c.vec_id = cand.neighbor_id"
   if cand_ctes else ""}
  WHERE q.vec_id <> c.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, pq_cosine, "rank"
FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.nrm * nc.nrm) AS pq_cosine,
         ROW_NUMBER() OVER (
             PARTITION BY d.query_id
             ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                      d.neighbor_id ASC
         ) AS "rank"
  FROM dots d
  JOIN qnorm nq ON d.query_id = nq.vec_id
  JOIN cnorm nc ON d.neighbor_id = nc.vec_id
)
WHERE "rank" <= {k}"""


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    scoring: str = "decimal",
    cache_key: str | None = None,
) -> DataFrame:
    """IVF×PQ — the full faiss architecture in DataFrame ops: a
    coarse k-means cell index bounds WHICH candidates are scored
    (|Q|·|corpus|·n_probe/n_cells pairs instead of |Q|·|corpus|),
    and PQ codes bound WHAT is stored and shuffled per candidate
    (8 bytes + cell id instead of dim floats). Composes the two
    verified halves unchanged: cell routing from
    operators/clustering.py (ivf_topk's shape — broadcast model,
    one cell-keyed equi-join), scoring from :func:`pq_topk`
    (codeword reconstruction with the decimal/double kernels, or
    the production LUT path — S lookups per candidate, no
    reconstruction, the LUT built once per query before its probe
    cells fan out; train-once ``cache_key`` memoizes both the
    coarse centroids and the codebooks, and persists the coded
    inverted index via the steady-state registry).

    Approximate in WHICH pairs are scored (cell pruning) and in the
    SCORES (quantization) — rows-only battery entry; recall rides
    bench beside ivf/pq, and the pruning property is pinned in
    tests/test_pq.py. Output: query_id, neighbor_id, pq_cosine,
    rank.
    """
    cents = _cached(
        ("ivf", cache_key, n_cells) if cache_key else None,
        lambda: kmeans_fit(corpus, id_col, vec_col, k=n_cells, iters=1),
    )
    books = _trained_books(
        corpus, id_col, vec_col, dim, subspaces, codes, cache_key
    )
    # the cell-keyed PQ-coded inverted index = the stored artifact
    inv = _memo_persisted(
        "ivfpq-inv", scoring, cache_key, corpus,
        (dim, subspaces, codes, n_cells),
        lambda: _corpus_side(
            _coded(corpus, id_col, vec_col, books, cents),
            books,
            scoring,
            keep=("cell",),
        ),
    )
    q = _query_side(
        queries, id_col, vec_col, books, scoring, cells=(cents, n_probe)
    )
    return _search(q, inv, subspaces, scoring, k, probed=True)


def ivfpq_index_save(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    path: str,
    n_cells: int = 16,
    subspaces: int = SUBSPACES,
    codes: int = CODES,
    train_sample_mod: int | None = None,
) -> None:
    """Materialize the full faiss ``IndexIVFPQ`` lifecycle as parquet
    artifacts — the stored-index twin of :func:`ivfpq_topk`, the way
    a 100 TB corpus actually serves ANN: train once at ingest, store
    the coarse centroids + codebooks + the CELL-PARTITIONED coded
    corpus, and answer every later search from the store alone.

    Artifacts under ``path``:
    - ``centroids``: (cell, cvec) — the coarse quantizer,
      n_cells model rows;
    - ``codebooks``: (subspace, pos, cvec, n2) — the PQ model,
      S·C rows (same layout as :func:`pq_index_save`);
    - ``codes``: (neighbor_id, codes) parquet PARTITIONED BY
      ``cell`` — serving filters on the probed cells, so the scan
      physically reads only ``n_probe/n_cells`` of the corpus
      (parquet partition pruning, not a post-scan filter). This is
      what keeps serve latency flat as the corpus grows 10×: the
      probed fraction is constant, the rest of the store is never
      opened.

    ``train_sample_mod`` hash-samples BOTH trainers (coarse k-means
    and the PQ codebooks) with the :func:`pq_train` xxhash64 key —
    model quality needs O(100·C) points, not the corpus; the full
    corpus is always encoded and assigned."""
    spark = corpus.sparkSession
    cents = kmeans_fit(
        _train_sample(corpus, id_col, train_sample_mod),
        id_col, vec_col, k=n_cells, iters=1,
    )
    books = pq_train(
        corpus, id_col, vec_col, dim, subspaces=subspaces, codes=codes,
        train_sample_mod=train_sample_mod,
    )
    spark.createDataFrame(
        [(cid, [float(x) for x in cv]) for cid, cv in cents],
        "cell int, cvec array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_codebooks(spark, books, path)
    _write_codes(corpus, id_col, vec_col, books, path, "overwrite", cents)


def ivfpq_index_load(
    spark, path: str
) -> tuple[
    list[tuple[int, list[float]]], list[list[list[float]]], DataFrame
]:
    """Load a stored IVF×PQ index: (centroids, books, codes). Both
    models are model-sized collects (n_cells and S·C rows); the
    cell-partitioned coded corpus stays a lazy scan."""
    cents = [
        (int(r["cell"]), list(r["cvec"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cents.sort()
    books, enc = pq_index_load(spark, path)
    return cents, books, enc


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Serve top-k from the STORED IVF×PQ index — the scan is
    physically bounded to the probed cells (partition pruning over
    the cell-partitioned codes store), scoring is the LUT kernel
    over 8-byte codes, and the only driver-side state is the probe
    CELL SET (|Q|·n_probe ints). Same output contract as
    :func:`ivfpq_topk`."""
    cents, books, enc = ivfpq_index_load(spark, path)
    q = _query_side(
        queries, id_col, vec_col, books, "lut", cells=(cents, n_probe)
    )
    # the probe cell set: |Q|·n_probe ints — the one collect, model-
    # sized by construction; pushed into the scan as a partition
    # filter so only probed cell directories are ever read
    probe_cells = sorted(
        {
            int(r["c"])
            for r in q.select(F.explode("__cells").alias("c"))
            .distinct()
            .collect()
        }
    )
    inv = _corpus_side(
        enc.filter(F.col("cell").isin(probe_cells)), books, "lut",
        keep=("cell",),
    )
    return _search(q, inv, len(books), "lut", k, probed=True)


def ivfpq_index_append(
    batch: DataFrame, id_col: str, vec_col: str, path: str
) -> None:
    """Incremental IVF×PQ maintenance: encode a NEW batch with the
    STORED codebooks, assign cells with the STORED coarse centroids,
    and append into the cell-partitioned codes store — no
    retraining, existing codes and partition layout untouched
    (codes and cells depend only on the stored models, so appends
    are stable). Same retry-idempotence caveat as
    :func:`pq_index_append`: route production re-runs through the
    batch-id-fenced sink."""
    cents, books, _ = ivfpq_index_load(batch.sparkSession, path)
    _write_codes(batch, id_col, vec_col, books, path, "append", cents)
