"""Product-quantization invariants (operators/pq.py): model shape,
code bounds, determinism, and that reconstruction actually ranks
near-neighbors (recall sanity vs the exact baseline)."""

from __future__ import annotations

from pyspark.sql import functions as F

from top_produce_etl_spark.operators.pq import pq_encode, pq_topk, pq_train


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pq_model_and_code_bounds(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = pq_train(emb, "vec_id", "embedding", dim=64)
    assert len(books) == 8
    assert all(1 <= len(b) <= 16 for b in books)
    assert all(len(cv) == 8 for b in books for cv in b)
    enc = pq_encode(emb, "vec_id", "embedding", books)
    row = enc.agg(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("s"),
    ).collect()[0]
    assert row["lo"] >= 1 and row["s"] == 8
    assert row["hi"] <= max(len(b) for b in books)


def test_pq_encode_rerun_identical(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    books = pq_train(emb, "vec_id", "embedding", dim=64)
    a = pq_encode(emb, "vec_id", "embedding", books).collect()
    b = pq_encode(emb, "vec_id", "embedding", books).collect()
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_pq_rejects_indivisible_dim(spark, sf_dir):
    import pytest

    emb = _emb(spark, sf_dir)
    with pytest.raises(ValueError, match="divisible"):
        pq_train(emb, "vec_id", "embedding", dim=64, subspaces=7)


def test_pq_reconstruction_cosine_error_bounded(spark, sf_dir):
    """The meaningful PQ quality gate on this near-uniform fixture
    is reconstruction-cosine error, not recall (the random-
    projection precedent: true top-3 gaps here are slivers, so
    recall here is noise — the failable recall gate lives on the
    separable synthembs fixture, test_pq_recall_gate_on_separable_
    fixture below, and bench measures it there too). Measured MAE is
    ~0.10 at 32× compression (vs the RP tier's 0.18 at 4×); gate at
    0.2 with headroom, plus a far-better-than-chance recall floor.
    """
    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    n = emb.count()
    exact = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=3)
    # k = corpus size ⇒ the PQ ranking carries a pq_cosine for every
    # (query, candidate) pair; join the exact top pairs against it
    full = pq_topk(emb, queries, "vec_id", "embedding", dim=64, k=n)
    j = exact.join(
        full.select("query_id", "neighbor_id", "pq_cosine"),
        ["query_id", "neighbor_id"],
    )
    stats = j.agg(
        F.avg(F.abs(F.col("cosine") - F.col("pq_cosine"))).alias("mae"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert stats["n"] == 30
    assert stats["mae"] <= 0.2

    exact_set = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }
    top3 = {
        (r["query_id"], r["neighbor_id"])
        for r in full.where(F.col("rank") <= 3).collect()
    }
    # chance overlap ≈ 3/|corpus| ≈ 0.06 at the smoke SF; PQ sits
    # well above it
    assert len(exact_set & top3) / len(exact_set) >= 0.15


def test_pq_fast_twin_same_neighbor_sets(spark, sf_dir):
    """Both fast kernels — reconstructed IEEE-double and the
    production S×C lookup table — must retrieve the same neighbors
    as the decimal oracle twin (scores may differ in the last ulps;
    the SETS must not)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    dec = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3
        ).collect()
    }
    dbl = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="double",
        ).collect()
    }
    lut = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="lut",
        ).collect()
    }
    assert dec == dbl
    assert dec == lut


def test_pq_model_cache_trains_once(spark, sf_dir):
    """cache_key memoizes the trained model: the second call must
    reuse the SAME books object (train-once production shape)."""
    from top_produce_etl_spark.operators.pq import _MODEL_CACHE

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    key = ("pq", "__cache_test__", 64, 8, 16)
    _MODEL_CACHE.pop(key, None)
    pq_topk(
        emb, queries, "vec_id", "embedding", dim=64, k=3,
        scoring="lut", cache_key="__cache_test__",
    ).collect()
    first = _MODEL_CACHE[key]
    pq_topk(
        emb, queries, "vec_id", "embedding", dim=64, k=3,
        scoring="lut", cache_key="__cache_test__",
    ).collect()
    assert _MODEL_CACHE[key] is first
    _MODEL_CACHE.pop(key, None)


def test_ivfpq_prunes_candidates_and_retrieves(spark, sf_dir):
    """IVF×PQ must (a) run end-to-end with exactly-k rows per query,
    (b) agree with plain PQ on most neighbors despite scoring only
    n_probe/n_cells of the corpus (the cells route near-neighbors
    together — that's the index working)."""
    from top_produce_etl_spark.operators.pq import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="double",
        ).collect()
    }
    pruned_rows = ivfpq_topk(
        emb, queries, "vec_id", "embedding", dim=64, k=3,
        scoring="double",
    ).collect()
    assert len(pruned_rows) == 30
    pruned = {(r["query_id"], r["neighbor_id"]) for r in pruned_rows}
    # scoring only ~4/16 of the corpus still recovers most of what
    # exhaustive PQ finds on this fixture
    assert len(full & pruned) / len(full) >= 0.5


def test_pq_recall_gate_on_separable_fixture(spark):
    """The recall gate that can actually FAIL (r5 verdict #1c): on
    the planted-truth synthembs fixture (64 well-separated groups of
    4 near-identical members; true top-3 = the 3 groupmates), a
    correct PQ retrieves the groupmates — recall ≥ 0.9 — because its
    codebooks recover the canonical subspace patterns. A broken
    trainer/encoder/scorer lands near chance (3/255 ≈ 0.01)."""
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators.pq import ivfpq_topk
    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    register_synth_source(spark)
    emb = spark.read.format("synthembs").load()
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(
            emb, queries, "vec_id", "embedding", k=3, scoring="double"
        ).collect()
    }
    # planted truth holds: every exact neighbor is a groupmate
    assert all(a % 64 == b % 64 for a, b in exact)
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="lut",
        ).collect()
    }
    assert len(exact & pq) / len(exact) >= 0.9
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="lut",
        ).collect()
    }
    assert len(exact & ivf) / len(exact) >= 0.9


def test_synthembs_deterministic_rereads(spark):
    """The embedding generator is a pure function of vec_id: two
    reads at different partition counts are row-identical."""
    from top_produce_etl_spark.io.synth_source import register_synth_source

    register_synth_source(spark)
    a = (
        spark.read.format("synthembs")
        .option("partitions", 2).load().collect()
    )
    b = (
        spark.read.format("synthembs")
        .option("partitions", 7).load().collect()
    )
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) == 256 and len(a[0]["embedding"]) == 64


def test_pq_index_save_load_roundtrip_search(spark, sf_dir, tmp_path):
    """The stored-index lifecycle: save (codebooks + 8-byte codes as
    parquet), load, and serve — the served rows (neighbors, ranks
    and scores) must equal the live LUT path's, and the stored model
    must round-trip exactly."""
    from top_produce_etl_spark.operators.pq import (
        pq_index_load,
        pq_index_save,
        pq_topk_from_index,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    path = str(tmp_path / "pqidx")
    books = pq_index_save(emb, "vec_id", "embedding", dim=64, path=path)
    loaded, enc = pq_index_load(spark, path)
    assert loaded == books
    assert enc.columns == ["neighbor_id", "codes"]

    cols = ["query_id", "neighbor_id", "rank", "pq_cosine"]
    live = sorted(
        tuple(r[c] for c in cols)
        for r in pq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            scoring="lut",
        ).collect()
    )
    served = sorted(
        tuple(r[c] for c in cols)
        for r in pq_topk_from_index(
            spark, path, queries, "vec_id", "embedding", k=3
        ).collect()
    )
    assert served == live and len(served) == 30


def test_pq_index_append_grows_corpus_without_retraining(spark, sf_dir, tmp_path):
    """Incremental maintenance: build the index on half the corpus,
    append the other half encoded with the STORED books — appended
    codes must equal a fresh encode under the same model, existing
    codes must be untouched, and serving must retrieve across both
    batches."""
    from top_produce_etl_spark.operators.pq import (
        pq_index_append,
        pq_index_load,
        pq_index_save,
        pq_topk_from_index,
    )

    emb = _emb(spark, sf_dir)
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    path = str(tmp_path / "pqidx2")
    books = pq_index_save(half_a, "vec_id", "embedding", dim=64, path=path)
    before = {
        r["neighbor_id"]: r["codes"]
        for r in pq_index_load(spark, path)[1].collect()
    }
    pq_index_append(half_b, "vec_id", "embedding", path)
    loaded_books, enc = pq_index_load(spark, path)
    assert loaded_books == books
    after = {r["neighbor_id"]: r["codes"] for r in enc.collect()}
    assert len(after) == emb.count()
    assert all(after[k] == v for k, v in before.items())
    expected_b = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(
            half_b, "vec_id", "embedding", books
        ).collect()
    }
    assert all(after[k] == v for k, v in expected_b.items())
    served = pq_topk_from_index(
        spark, path, emb.filter("vec_id < 6"), "vec_id", "embedding", k=5
    ).collect()
    ids = {r["neighbor_id"] for r in served}
    assert len(served) == 30
    assert any(i % 2 == 0 for i in ids) and any(i % 2 == 1 for i in ids)


def test_model_cache_evicts_dead_session_entries():
    """ADVICE r6: DataFrame-valued cache entries are session-bound —
    a lookup under a NEW app id must purge entries from dead
    sessions, while pure-model entries (app_id None) survive."""
    from top_produce_etl_spark.operators.pq import (
        _MODEL_CACHE,
        _cached,
        pq_cache_clear,
    )

    pq_cache_clear()
    try:
        _cached(("pq", "corpus-a", 64), lambda: "model-a")  # model tier
        _cached(
            ("pq-enc", "corpus-a", "app-OLD", 64),
            lambda: "df-old",
            app_id="app-OLD",
        )
        assert len(_MODEL_CACHE) == 2
        got = _cached(
            ("pq-enc", "corpus-a", "app-NEW", 64),
            lambda: "df-new",
            app_id="app-NEW",
        )
        assert got == "df-new"
        keys = set(_MODEL_CACHE)
        assert ("pq-enc", "corpus-a", "app-OLD", 64) not in keys
        assert ("pq", "corpus-a", 64) in keys  # model survives
        # memoization still works within the live session
        again = _cached(
            ("pq-enc", "corpus-a", "app-NEW", 64),
            lambda: "SHOULD-NOT-REFIT",
            app_id="app-NEW",
        )
        assert again == "df-new"
    finally:
        pq_cache_clear()


def test_pq_sampled_training_keeps_planted_recall(spark, tmp_path):
    """r6 verdict #5: codebooks trained on a deterministic xxhash
    1/4 sample must still retrieve groupmates on the separable
    fixture (recall >= 0.9) — training quality needs points per
    codeword, not the corpus. Also pins determinism (same sample ->
    same books) and that the arithmetic id%mod trap is avoided (the
    hash sample covers all planted groups)."""
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators.pq import (
        pq_index_save,
        pq_topk_from_index,
        pq_train,
    )
    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from pyspark.sql import functions as F

    register_synth_source(spark)
    # default fixture: 64 groups x 4 members -> exact top-3 IS the
    # groupmate set (more members per group would make the gate a
    # within-group micro-ranking PQ legitimately can't resolve)
    emb = spark.read.format("synthembs").load()
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(
            emb, queries, "vec_id", "embedding", k=3, scoring="double"
        ).collect()
    }
    # the hash sample must cover (nearly) all planted groups
    sampled_groups = (
        emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(17)), F.lit(4)) == 0
        )
        .select(F.countDistinct("grp"))
        .collect()[0][0]
    )
    # expected coverage ~ 64*(1-(3/4)^4) ~ 44; an id%4 arithmetic
    # sample covers exactly 16 (gcd structure) — 35 separates them
    assert sampled_groups >= 35

    idx = str(tmp_path / "pq_sampled")
    books = pq_index_save(
        emb, "vec_id", "embedding", dim=64, path=idx,
        train_sample_mod=4,
    )
    books2 = pq_train(
        emb, "vec_id", "embedding", dim=64, train_sample_mod=4
    )
    assert books == books2  # deterministic sample -> same model
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk_from_index(
            spark, idx, queries, "vec_id", "embedding", k=3
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.9


def test_ivfpq_index_save_serve_matches_live_and_prunes(
    spark, sf_dir, tmp_path
):
    """The stored IVF×PQ lifecycle (faiss IndexIVFPQ shape): save
    (coarse centroids + codebooks + CELL-PARTITIONED codes), then
    serve from the store alone. Three pins:
    - result parity: identical (query, neighbor, rank) rows as the
      live ivfpq_topk LUT path (both trainers are deterministic, so
      the stored model equals the live model exactly);
    - the serving scan is PARTITION-PRUNED: the served frame's own
      physical plan pushes the probe-cell set into the parquet
      partition filter on ``cell``, so only probed cell directories
      are read (the flat-serve-latency property at 100 TB);
    - the probe set bounds the scan: the cells in that partition
      filter are exactly the queries' probe cells.
    """
    import re

    from top_produce_etl_spark.operators.clustering import with_probe_cells
    from top_produce_etl_spark.operators.pq import (
        ivfpq_index_load,
        ivfpq_index_save,
        ivfpq_topk,
        ivfpq_topk_from_index,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    path = str(tmp_path / "ivfpqidx")
    ivfpq_index_save(
        emb, "vec_id", "embedding", dim=64, path=path, n_cells=8
    )
    cents, books, enc = ivfpq_index_load(spark, path)
    assert len(cents) == 8 and len(books[0][0]) == 64 // len(books)
    assert set(enc.columns) == {"neighbor_id", "codes", "cell"}

    live = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivfpq_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3,
            n_cells=8, n_probe=2, scoring="lut",
        ).collect()
    }
    served_df = ivfpq_topk_from_index(
        spark, path, queries, "vec_id", "embedding", k=3, n_probe=2
    )
    served = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in served_df.collect()
    }
    assert served == live and len(served) == 30

    # partition pruning on the served path itself: the codes scan
    # carries the probe-cell set as a PartitionFilter on ``cell``
    # (pruned at file-listing time, not post-scan)
    p = served_df._sc._jvm.PythonSQLUtils.explainString(
        served_df._jdf.queryExecution(), "formatted"
    )
    pruned = [
        set(map(int, m.group(1).split(",")))
        for line in p.splitlines()
        if "PartitionFilters" in line
        for m in [re.search(r"cell#\d+ IN \(([\d,]+)\)", line)]
        if m
    ]
    probes = {
        int(r["c"])
        for r in with_probe_cells(queries, "embedding", cents, 2, out="cs")
        .select(F.explode("cs").alias("c"))
        .collect()
    }
    assert pruned and all(cells == probes for cells in pruned), p


def test_ivfpq_index_append_grows_store_without_retraining(
    spark, tmp_path
):
    """Incremental IVF×PQ: build on half the separable synthembs
    corpus, append the rest — the stored models must be byte-stable,
    the appended codes must land in the cell partitions, and serving
    over the grown store must still retrieve only groupmates."""
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators.pq import (
        ivfpq_index_append,
        ivfpq_index_load,
        ivfpq_index_save,
        ivfpq_topk_from_index,
    )

    register_synth_source(spark)
    emb = spark.read.format("synthembs").option("rows", 512).load()
    # split by RANGE, not parity: group = id % 64 and members share
    # parity, so an even/odd split hides half the GROUPS from both
    # trainers (the id-correlated-sample pathology pq_train's
    # train_sample_mod docstring warns about — verified here: the
    # parity split collapses group-1 reconstructions to ~0.50
    # cosine). ids 0..255 cover all 64 groups with both parities.
    first = emb.filter("vec_id < 256")
    rest = emb.filter("vec_id >= 256")
    path = str(tmp_path / "ivfpq_grow")
    ivfpq_index_save(
        first, "vec_id", "embedding", dim=64, path=path, n_cells=8
    )
    cents0, books0, enc0 = ivfpq_index_load(spark, path)
    n0 = enc0.count()
    ivfpq_index_append(rest, "vec_id", "embedding", path)
    cents1, books1, enc1 = ivfpq_index_load(spark, path)
    assert (cents1, books1) == (cents0, books0)  # no retraining
    assert enc1.count() == n0 + rest.count()
    served = ivfpq_topk_from_index(
        spark, path, emb.filter("vec_id < 10"),
        "vec_id", "embedding", k=3, n_probe=3,
    ).collect()
    assert len(served) == 30 and all(
        r["query_id"] % 64 == r["neighbor_id"] % 64 for r in served
    )
