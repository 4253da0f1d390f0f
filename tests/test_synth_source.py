"""Custom Python Data Source: schema/options/partition planning,
determinism, planted-duplicate ground truth feeding exact_dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from top_produce_etl_spark.io.synth_source import (
    VOCAB,
    _doc_text,
    register_synth_source,
)


def _read(spark, **opts):
    register_synth_source(spark)
    r = spark.read.format("synthdocs")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_synthdocs_rows_partitions_and_determinism(spark):
    df = _read(spark, rows=1000, partitions=7, tokens=20)
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 7
    assert df.columns == ["doc_id", "text"]
    # all ids exactly once; every doc has the requested token count
    assert df.select("doc_id").distinct().count() == 1000
    assert (
        df.filter(F.size(F.split("text", " ")) != 20).count() == 0
    )
    # deterministic across reads and partitionings
    a = {r.doc_id: r.text for r in df.collect()}
    b = {
        r.doc_id: r.text
        for r in _read(spark, rows=1000, partitions=3, tokens=20).collect()
    }
    assert a == b
    # and matches the driver-side pure function (executor == driver)
    assert a[17] == _doc_text(17, 20, 0)


def test_synthdocs_planted_duplicates_feed_dedup(spark):
    from top_produce_etl_spark.operators.dedup import exact_dedup

    df = _read(spark, rows=500, partitions=4, tokens=30, dup_every=10)
    # ids 1, 11, 21, ... copy the text of 0, 10, 20, ...
    dups = exact_dedup(df, "text", "doc_id").filter(F.col("n_dups") > 1)
    rows = {r.doc_id: r.n_dups for r in dups.collect()}
    assert set(rows) == set(range(0, 500, 10))
    assert all(v == 2 for v in rows.values())


def test_synthdocs_vectorized_matches_scalar_reference(spark):
    """The numpy-vectorized partition kernel must stay bit-identical
    to the scalar reference generator, across every option (zipf
    skew, hot cluster, planted dups)."""
    rows, tokens = 300, 12
    df = _read(
        spark, rows=rows, partitions=5, tokens=tokens, dup_every=10,
        hot_cluster=40, zipf=1.2, vocab=5000,
    )
    got = {r.doc_id: r.text for r in df.collect()}
    assert len(got) == rows
    for i in (0, 1, 9, 10, 11, 137, 259, 260, 261, 299):
        assert got[i] == _doc_text(
            i, tokens, 10, rows=rows, hot_cluster=40, zipf=1.2, vocab=5000
        ), i


def test_synthdocs_hot_cluster_and_zipf_skew(spark):
    import collections

    rows = 400
    df = _read(
        spark, rows=rows, partitions=4, tokens=30, hot_cluster=50, zipf=1.3
    )
    data = {r.doc_id: r.text for r in df.collect()}
    # the last hot_cluster ids all share ONE text
    hot_texts = {data[i] for i in range(rows - 50, rows)}
    assert len(hot_texts) == 1
    # zipf skew: the most frequent token dominates a uniform draw
    counts = collections.Counter(
        t for i, txt in data.items() if i < rows - 50 for t in txt.split()
    )
    top = counts.most_common(1)[0][1]
    assert top > 2.5 * (sum(counts.values()) / len(VOCAB))


def test_minhash_scale_probe_finds_all_planted_pairs(spark):
    """Scale probe: a 20k-doc generated corpus (4x the sf0.1
    fixture) with one planted exact-dup pair per 100 ids — minhash
    must recover EVERY planted pair (exact dups collide in every
    band, so recall on them is structural, not probabilistic), and
    the operator must hold throughput at corpus sizes the fixtures
    never reach."""
    from top_produce_etl_spark.operators.dedup import minhash_lsh_pairs

    df = _read(
        spark, rows=20_000, partitions=32, tokens=54, dup_every=100
    )
    pairs = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", k=5, threshold=0.5
        ).collect()
    }
    planted = {(i, i + 1) for i in range(0, 20_000, 100)}
    assert planted <= pairs
