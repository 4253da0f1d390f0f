"""IO registry round-trips: CSV/JSON readers (reference
``source_type`` dispatch, config_prod.yaml:5) and partitioned
parquet sinks with partition-pruning verification."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from top_produce_etl_spark.io.sinks import write_table
from top_produce_etl_spark.io.sources import read_table


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("east", "apple", 10.5), ("west", "pear", 3.25)],
        "region string, product string, sales double",
    )
    p = str(tmp_path / "csv_out")
    write_table(df, p, fmt="csv", options={"header": "true"})
    back = read_table(
        spark, p, fmt="csv", schema="region string, product string, sales double"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    )
    p = str(tmp_path / "json_out")
    write_table(df, p, fmt="json")
    back = read_table(spark, p, fmt="json", schema="id bigint, name string")
    assert sorted(map(tuple, back.select("id", "name").collect())) == [
        (1, "a"), (2, "b"),
    ]


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [("east", i, float(i)) for i in range(10)]
        + [("west", i, float(i)) for i in range(10)],
        "region string, pid int, sales double",
    )
    p = str(tmp_path / "part_out")
    write_table(df, p, partition_by=["region"])
    # physical layout: region=east/ and region=west/ directories
    assert sorted(
        d for d in os.listdir(p) if d.startswith("region=")
    ) == ["region=east", "region=west"]

    back = read_table(spark, p).filter(F.col("region") == "east")
    assert back.count() == 10
    # partition filter must prune at plan time, not post-scan
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(region" in plan, plan


def test_overwrite_mode(spark, tmp_path):
    p = str(tmp_path / "ow")
    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    write_table(a, p)
    write_table(b, p)
    assert sorted(r["x"] for r in read_table(spark, p).collect()) == [2, 3]


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink → ORC source round-trip: schema and rows survive;
    predicate pushdown works the same as parquet (columnar, embedded
    schema)."""
    from top_produce_etl_spark.io.sinks import write_table
    from top_produce_etl_spark.io.sources import read_table
    from top_produce_etl_spark.plans.audit import plan_audit

    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.0), (3, "a", 7.25)],
        ["id", "tag", "val"],
    )
    path = str(tmp_path / "t_orc")
    write_table(df, path, fmt="orc")
    back = read_table(spark, path, fmt="orc")
    assert back.schema == df.schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    filtered = back.filter(back.id > 1).select("id")
    audit = plan_audit(filtered)
    assert audit["pushed_filters"], "ORC scan lost predicate pushdown"


def test_events_ts_is_ltz_timestamp_batch_and_stream(spark, sf_dir):
    """The events fixture's TIMESTAMP(NANOS) column must land on the
    LTZ TIMESTAMP type under every decode path (bigint via legacy
    conf, TIMESTAMP_NTZ on Spark 4, TIMESTAMP passthrough) in BOTH
    batch and stream — withWatermark rejects NTZ, and parity tests
    need same-typed sides."""
    from top_produce_etl_spark.io.sources import load_table, normalize_event_time
    from top_produce_etl_spark.streaming.jobs import stream_events

    batch = load_table(spark, sf_dir, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"

    stream = stream_events(spark, sf_dir)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"

    # bigint (legacy nanosAsLong) branch: rebuild micros via integer div
    raw = spark.range(1).select(
        (F.lit(1700000000).cast("long") * F.lit(1_000_000_000) + F.lit(123_456_789))
        .cast("long")
        .alias("ts")
    )
    fixed = normalize_event_time(raw)
    assert dict(fixed.dtypes)["ts"] == "timestamp"
    micros = fixed.select(F.unix_micros("ts").alias("us")).collect()[0]["us"]
    assert micros == 1700000000 * 1_000_000 + 123_456  # truncated, not rounded


def test_notebook_path_helper(tmp_path, monkeypatch):
    """add_project_root_to_path walks up to the dir containing the
    package marker, prepends it to sys.path once, and raises when no
    ancestor matches."""
    import sys

    import pytest

    from top_produce_etl_spark.notebook import add_project_root_to_path

    root = tmp_path / "proj"
    (root / "top_produce_etl_spark").mkdir(parents=True)
    deep = root / "notebooks" / "exp1"
    deep.mkdir(parents=True)
    monkeypatch.chdir(deep)
    got = add_project_root_to_path()
    assert got == str(root) and sys.path[0] == str(root)
    add_project_root_to_path()  # idempotent
    assert sys.path.count(str(root)) == 1
    sys.path.remove(str(root))

    monkeypatch.chdir(tmp_path)  # no marker anywhere above
    with pytest.raises(FileNotFoundError):
        add_project_root_to_path(marker="definitely_not_a_real_marker_dir")


def test_sorted_write_narrows_rowgroup_stats(spark, tmp_path):
    """sort_by must cluster values so parquet row-group min/max
    stats become disjoint-ish (data skipping below the partition
    level). Verified against the actual file footers via pyarrow:
    sorted output has non-overlapping per-row-group ranges where an
    unsorted shuffle-salted write overlaps."""
    import glob

    import pyarrow.parquet as pq

    df = (
        spark.range(100_000)
        .selectExpr("cast(hash(id) % 100000 as bigint) as k", "id as v")
        .repartition(1)
    )
    # tiny row groups so each file holds many — the skipping unit
    opts = {"parquet.block.size": str(64 * 1024)}

    def per_file_ranges(path):
        out = {}
        for f in glob.glob(f"{path}/*.parquet"):
            pf = pq.ParquetFile(f)
            out[f] = [
                (
                    pf.metadata.row_group(g).column(0).statistics.min,
                    pf.metadata.row_group(g).column(0).statistics.max,
                )
                for g in range(pf.metadata.num_row_groups)
            ]
        return out

    write_table(df, str(tmp_path / "unsorted"), options=opts)
    write_table(df, str(tmp_path / "sorted"), sort_by=["k"], options=opts)

    def overlaps(groups):
        # strict: a shared single boundary value between adjacent
        # sorted groups is not an overlap for skipping purposes
        rs = sorted(groups)
        return sum(1 for a, b in zip(rs, rs[1:]) if b[0] < a[1])

    unsorted = per_file_ranges(str(tmp_path / "unsorted"))
    srted = per_file_ranges(str(tmp_path / "sorted"))
    assert all(len(gs) > 3 for gs in srted.values())  # multi-group files
    # unsorted: every row group spans ~the whole domain -> all overlap
    assert all(overlaps(gs) == len(gs) - 1 for gs in unsorted.values())
    # sorted: row groups within a file are disjoint -> stats skip
    assert all(overlaps(gs) == 0 for gs in srted.values())


def test_dynamic_partition_overwrite_is_incremental(spark, tmp_path):
    """dynamic_overwrite must replace only the partitions present in
    the incoming frame: rewriting day=2 leaves day=1 bytes untouched
    (incremental re-materialization), where static overwrite would
    truncate the whole table."""
    p = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "day int, v string"
    )
    write_table(full, p, partition_by=["day"])
    assert sorted(r["v"] for r in read_table(spark, p).collect()) == ["a", "b", "c"]

    fix2 = spark.createDataFrame([(2, "C2")], "day int, v string")
    write_table(fix2, p, partition_by=["day"], dynamic_overwrite=True)
    back = sorted((r["day"], r["v"]) for r in read_table(spark, p).collect())
    assert back == [(1, "a"), (1, "b"), (2, "C2")]

    # static overwrite of the same single-day frame truncates day=1
    write_table(fix2, p, partition_by=["day"])
    assert sorted(tuple(r) for r in read_table(spark, p).select("day", "v").collect()) == [(2, "C2")]


def test_range_partitioned_write_gives_disjoint_files(spark, tmp_path):
    """range_partition_by must produce output FILES covering disjoint
    key ranges (globally sorted layout) — file-level skipping for
    range predicates, verified from the parquet footers."""
    import glob

    import pyarrow.parquet as pq

    df = spark.range(50_000).selectExpr(
        "cast(hash(id) % 50000 as bigint) as k", "id as v"
    )
    p = str(tmp_path / "ranged")
    write_table(df, p, range_partition_by=["k"], range_partitions=4)

    spans = []
    for f in glob.glob(f"{p}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        stats = [md.row_group(g).column(0).statistics for g in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(spans) > 1  # actually split across files
    spans.sort()
    assert all(b[0] >= a[1] for a, b in zip(spans, spans[1:]))  # disjoint


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """A table written under two schema versions reads back unified
    under mergeSchema (new column null for old files) — the additive
    schema-evolution contract an append-only 100 TB table relies on."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, a string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, a string, score double"
    ).write.mode("append").parquet(p)

    back = read_table(spark, p, options={"mergeSchema": "true"})
    assert set(back.columns) == {"id", "a", "score"}
    rows = {r["id"]: (r["a"], r["score"]) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_zstd_codec_override(spark, tmp_path):
    """Session default is snappy; a per-write zstd override must
    stick (visible in the file footers) and round-trip."""
    import glob

    import pyarrow.parquet as pq

    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    p = str(tmp_path / "zstd_out")
    write_table(df, p, options={"compression": "zstd"})
    files = glob.glob(f"{p}/*.parquet")
    assert files
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(0).compression
        for f in files
        if pq.ParquetFile(f).metadata.num_rows > 0
    }
    assert codecs == {"ZSTD"}
    assert read_table(spark, p).count() == 100


def test_binary_file_source_reads_payloads(spark, tmp_path):
    """binaryFile ingestion: payload bytes round-trip, glob filters,
    and a path/length-only projection prunes the content column out
    of the scan (no file bytes read for metadata queries)."""
    import re

    from top_produce_etl_spark.io.sources import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01hello")
    (tmp_path / "b.bin").write_bytes(b"\xff" * 1000)
    (tmp_path / "skip.txt").write_text("nope")

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    got = {r["path"].split("/")[-1]: bytes(r["content"]) for r in df.collect()}
    assert got == {"a.bin": b"\x00\x01hello", "b.bin": b"\xff" * 1000}

    meta = df.select("path", "length")
    plan = meta._sc._jvm.PythonSQLUtils.explainString(
        meta._jdf.queryExecution(), "formatted"
    )
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "content" not in rs.group(1), plan


def test_text_source_lines_and_wholetext(spark, tmp_path):
    from top_produce_etl_spark.io.sources import read_text_lines

    p = tmp_path / "doc.txt"
    p.write_text("line one\nline two\n")
    lines = read_text_lines(spark, str(p))
    assert sorted(r["value"] for r in lines.collect()) == [
        "line one", "line two",
    ]
    whole = read_text_lines(spark, str(p), wholetext=True)
    assert [r["value"] for r in whole.collect()] == ["line one\nline two\n"]


def test_compact_table_merges_small_files(spark, tmp_path):
    """64 tiny files -> ceil(total/target) files, rows preserved."""
    from top_produce_etl_spark.io.sinks import compact_table

    out = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(out)
    assert len(spark.read.parquet(out).inputFiles()) == 64

    stats = compact_table(spark, out, target_file_bytes=1 << 30)
    got = spark.read.parquet(out)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1 == len(got.inputFiles())
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_write_time_file_size_targeting(spark, tmp_path):
    """target_file_bytes must land output files near the target at
    BOTH a narrow and a wide row shape (round-4 verdict item 7): the
    sampled probe measures real on-disk bytes/row, so the records-
    per-file cap adapts to width and compression."""
    import os

    from top_produce_etl_spark.io.sinks import write_table

    import pyspark.sql.functions as F

    target = 256 << 10  # 256 KB
    narrow = spark.range(0, 400_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("h")
    ).repartition(2)
    wide = spark.range(0, 40_000).select(
        F.col("id").alias("k"),
        # incompressible-ish wide payload: hex chains keyed by id
        F.concat(*[
            F.hex(F.xxhash64(F.col("id") + F.lit(i))) for i in range(16)
        ]).alias("payload"),
    ).repartition(2)
    for name, df in (("narrow", narrow), ("wide", wide)):
        out = str(tmp_path / name)
        write_table(df, out, target_file_bytes=target)
        sizes = [
            e.stat().st_size
            for e in os.scandir(out)
            if e.name.endswith(".parquet")
        ]
        assert len(sizes) >= 3, (name, sizes)
        # every file capped near target; the BULK of files (all but
        # each task's remainder file) inside the band
        assert max(sizes) <= 2.0 * target, (name, sizes)
        in_band = [s for s in sizes if 0.5 * target <= s <= 1.5 * target]
        assert len(in_band) >= len(sizes) - 2, (name, sorted(sizes))
        # probe dir cleaned up
        assert not os.path.exists(out + "__sizing_tmp")


def test_compact_table_recovers_crash_leftovers(spark, tmp_path):
    """Entry recovery for the non-transactional swap (round-4
    advice): (a) table moved aside but tmp never installed → restore
    from __compact_old; (b) stale __compact_old/__compact_tmp beside
    an intact table → cleared, not merged into the next run."""
    import shutil

    from top_produce_etl_spark.io.sinks import compact_table

    out = str(tmp_path / "crashy")
    spark.range(0, 1000).withColumnRenamed("id", "k").repartition(
        8
    ).write.parquet(out)

    # (a) crash between the two renames: data lives at __compact_old,
    # nothing at path (plus a half-written tmp)
    shutil.move(out, out + "__compact_old")
    (tmp_path / "crashy__compact_tmp").mkdir()
    stats = compact_table(spark, out, target_file_bytes=1 << 30)
    got = spark.read.parquet(out)
    assert got.count() == 1000 and stats["files_before"] == 8
    assert not (tmp_path / "crashy__compact_old").exists()
    assert len(got.inputFiles()) == 1

    # (b) crash after install, before cleanup: stale old dir beside
    # the live table must be deleted, not restored over it
    shutil.copytree(out, out + "__compact_old")
    compact_table(spark, out, target_file_bytes=1 << 30)
    assert not (tmp_path / "crashy__compact_old").exists()
    assert spark.read.parquet(out).count() == 1000


def test_compact_table_sorted_layout(spark, tmp_path):
    """sort_by re-clusters while compacting: files cover disjoint
    key ranges (footer min/max verified via per-file aggregation)."""
    import pyspark.sql.functions as F
    from top_produce_etl_spark.io.sinks import compact_table

    out = str(tmp_path / "frag_sorted")
    spark.range(0, 50_000).withColumnRenamed("id", "k").repartition(
        32
    ).write.parquet(out)

    # force multiple outputs with a small target
    compact_table(spark, out, target_file_bytes=64 << 10, sort_by=["k"])
    got = spark.read.parquet(out)
    per_file = (
        got.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 2
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (_, hi_prev), (lo, _) in zip(spans, spans[1:]):
        assert hi_prev < lo  # disjoint ranges
    assert got.count() == 50_000


def test_read_table_evolved_merges_schemas(spark, tmp_path):
    """Files written under schema v1 (a,b) and v2 (a,b,c) read as
    the union schema, v1 rows NULL in c; plain read would drop or
    mis-type the late column depending on footer pick."""
    import pyspark.sql.functions as F
    from top_produce_etl_spark.io.sources import read_table_evolved

    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(out)
    spark.createDataFrame(
        [(2, "y", 9.5)], "a long, b string, c double"
    ).write.mode("append").parquet(out)

    got = read_table_evolved(spark, out)
    assert set(got.columns) == {"a", "b", "c"}
    rows = {r.a: (r.b, r.c) for r in got.collect()}
    assert rows == {1: ("x", None), 2: ("y", 9.5)}
    assert got.filter(F.col("c").isNull()).count() == 1

    import pytest

    with pytest.raises(ValueError):
        read_table_evolved(spark, out, fmt="csv")


def test_write_table_bloom_filters_add_footer_payload(spark, tmp_path):
    """Bloom-enabled writes carry the filter payload (size delta) and
    round-trip point-predicate reads exactly."""
    from top_produce_etl_spark.io.sinks import write_table

    import glob
    import os

    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "CAST(xxhash64(id) AS STRING) AS payload"
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_table(df, plain)
    write_table(
        df, bloomed, bloom_filter_cols=["payload"], bloom_filter_ndv=20_000
    )
    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet")
    )
    assert size(bloomed) > size(plain) + 1000  # filter bytes present
    probe = spark.read.parquet(bloomed).filter(
        "k = 12345"
    ).select("payload").first()
    want = df.filter("k = 12345").select("payload").first()
    assert probe == want


def test_xml_roundtrip_native_spark4(spark, tmp_path):
    """XML is a NATIVE source in Spark 4 (spark-xml merged into
    core): write with rowTag, read back through the registry
    dispatch with an explicit schema — same no-inference contract as
    CSV/JSON."""
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 7.25)], "id bigint, name string, v double"
    )
    p = str(tmp_path / "xml_out")
    write_table(df, p, fmt="xml", options={"rowTag": "row"})
    back = read_table(
        spark, p, fmt="xml", schema="id bigint, name string, v double"
    )
    assert sorted(map(tuple, back.select("id", "name", "v").collect())) == [
        (1, "a", 2.5), (2, "b", 7.25),
    ]


def test_avro_dispatch_raises_actionable_error(spark):
    import pytest

    with pytest.raises(ValueError, match="spark-avro"):
        read_table(spark, "/tmp/nope", fmt="avro")
    with pytest.raises(ValueError, match="unsupported format"):
        read_table(spark, "/tmp/nope", fmt="xlsx")


def test_manifest_roundtrip_and_tamper_detection(spark, tmp_path):
    """write_manifest → verify_manifest passes on an untouched
    table; appending a row flips the content fields; compaction
    changes the LAYOUT fields while the content fields still agree."""
    from top_produce_etl_spark.io.sinks import (
        compact_table,
        verify_manifest,
        write_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id % 7 AS STRING) AS s"
    )
    df.repartition(4).write.parquet(path)
    m = write_manifest(spark, path, fingerprint_cols=["k", "s"])
    assert m["n_rows"] == 1000 and m["n_files"] == 4

    ok = verify_manifest(spark, path)
    assert ok["ok"] and ok["mismatches"] == []

    # tamper: append one row
    spark.range(1000, 1001).selectExpr(
        "id AS k", "CAST(id % 7 AS STRING) AS s"
    ).write.mode("append").parquet(path)
    bad = verify_manifest(spark, path)
    assert not bad["ok"]
    assert "n_rows" in bad["mismatches"]
    assert "fingerprint" in bad["mismatches"]

    # re-manifest, then compact: layout fields change, content holds
    write_manifest(spark, path, fingerprint_cols=["k", "s"])
    compact_table(spark, path, target_file_bytes=1 << 30)
    after = verify_manifest(spark, path)
    assert "fingerprint" not in after["mismatches"]
    assert "n_rows" not in after["mismatches"]
    assert "n_files" in after["mismatches"]


def test_manifest_missing_raises(spark, tmp_path):
    from top_produce_etl_spark.io.sinks import verify_manifest

    path = str(tmp_path / "t2")
    spark.range(3).write.parquet(path)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="_manifest"):
        verify_manifest(spark, path)


def test_manifest_stats_prune_files(spark, tmp_path):
    """write_manifest(stats_cols=...) records per-file min/max; a
    load_pruned range scan opens ONLY overlapping files and returns
    exactly read+filter."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import verify_manifest, write_manifest
    from top_produce_etl_spark.io.sources import load_pruned

    path = str(tmp_path / "ranged")
    # 4 files with disjoint k ranges (range partitioning + 1 task each)
    spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "k").write.parquet(path)
    m = write_manifest(spark, path, stats_cols=["k"])
    assert m["n_files"] == 4 and m["stats_cols"] == ["k"]
    assert all("stats" in f and "k" in f["stats"] for f in m["files"])

    pruned = load_pruned(spark, path, "k", lo=120, hi=130)
    assert len(pruned.inputFiles()) == 1  # one 100-key file overlaps
    want = sorted(
        r.k for r in spark.read.parquet(path)
        .filter((F.col("k") >= 120) & (F.col("k") <= 130)).collect()
    )
    assert sorted(r.k for r in pruned.collect()) == want

    # disjoint range -> zero files read, schema preserved
    empty = load_pruned(spark, path, "k", lo=5000, hi=6000)
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    # stats in the sidecar don't disturb the layout/content verifier
    assert verify_manifest(spark, path)["ok"]


def test_manifest_stats_null_and_missing_column(spark, tmp_path):
    """All-null files are skipped (a range predicate never matches
    null); a column without stats keeps every file (conservative)."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import write_manifest
    from top_produce_etl_spark.io.sources import load_pruned

    path = str(tmp_path / "nullfile")
    spark.range(0, 5).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.parquet(path)
    spark.range(5, 10).select(
        F.lit(None).cast("long").alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.mode("append").parquet(path)
    write_manifest(spark, path, stats_cols=["k"])
    got = load_pruned(spark, path, "k", lo=0, hi=100)
    # only the file holding non-null k is opened
    assert len(got.inputFiles()) == 1
    assert got.count() == 5
    # pruning on an un-stat'd column keeps all files
    allkept = load_pruned(spark, path, "v", lo=0, hi=100)
    assert len(allkept.inputFiles()) == 2


def test_append_manifest_matches_full_rebuild(spark, tmp_path):
    """Incremental manifest maintenance: after an append, scanning
    ONLY the new files and merging (modular-sum fingerprint, summed
    rows, unioned file stats) must equal a from-scratch
    write_manifest of the whole table."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import (
        append_manifest,
        verify_manifest,
        write_manifest,
    )

    path = str(tmp_path / "grow")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    ).coalesce(2).write.parquet(path)
    write_manifest(
        spark, path, fingerprint_cols=["k", "v"], stats_cols=["k"]
    )

    spark.range(100, 250).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    ).coalesce(3).write.mode("append").parquet(path)

    merged = append_manifest(spark, path)
    scratch = write_manifest(
        spark, path, fingerprint_cols=["k", "v"], stats_cols=["k"]
    )
    assert merged["n_rows"] == scratch["n_rows"] == 250
    assert merged["fingerprint"] == scratch["fingerprint"]
    assert merged["n_files"] == scratch["n_files"] == 5
    assert merged["total_bytes"] == scratch["total_bytes"]
    assert sorted(merged["files"], key=lambda e: e["name"]) == sorted(
        scratch["files"], key=lambda e: e["name"]
    )
    # idempotent: nothing new -> unchanged, and the table verifies
    again = append_manifest(spark, path)
    assert again["fingerprint"] == merged["fingerprint"]
    assert verify_manifest(spark, path)["ok"]


def test_manifest_snapshot_time_travel(spark, tmp_path):
    """Snapshots freeze the file list: reading v1 after appends
    returns the table as of v1, fingerprint-verified; the live read
    sees everything; versions auto-increment and never clobber."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import (
        append_manifest,
        snapshot_manifest,
        write_manifest,
    )
    from top_produce_etl_spark.io.sources import load_snapshot
    from top_produce_etl_spark.operators.quality import table_fingerprint

    path = str(tmp_path / "tt")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    ).coalesce(2).write.parquet(path)
    m1 = write_manifest(spark, path, fingerprint_cols=["k", "v"])
    assert snapshot_manifest(spark, path) == 1

    spark.range(100, 250).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    ).coalesce(2).write.mode("append").parquet(path)
    append_manifest(spark, path)
    assert snapshot_manifest(spark, path) == 2

    old = load_snapshot(spark, path, 1)
    assert old.count() == 100
    fp = table_fingerprint(old, cols=["k", "v"]).collect()[0]
    assert fp["fingerprint"] == m1["fingerprint"]  # integrity holds
    assert load_snapshot(spark, path, 2).count() == 250
    assert spark.read.parquet(path).count() == 250
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="v9"):
        load_snapshot(spark, path, 9)


def test_pruning_report_counts_skippable_files(spark, tmp_path):
    """The sidecar-only report matches what load_pruned actually
    opens."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import write_manifest
    from top_produce_etl_spark.io.sources import load_pruned, pruning_report

    path = str(tmp_path / "pr")
    spark.range(0, 400).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).repartitionByRange(4, "k").write.parquet(path)
    write_manifest(spark, path, stats_cols=["k"])
    rep = pruning_report(spark, path, "k", lo=120, hi=130)
    assert rep["n_files"] == 4 and rep["n_kept"] == 1
    assert rep["n_skipped"] == 3
    assert rep["bytes_kept"] < rep["bytes_total"]
    assert len(load_pruned(spark, path, "k", 120, 130).inputFiles()) == 1


def test_manifest_on_partitioned_table(spark, tmp_path):
    """A ``partition_by`` write puts same-named part files under
    different ``key=value/`` directories: entries are table-relative
    paths, so stats stay per file and snapshot/pruned reads find the
    files and keep the partition column."""
    from top_produce_etl_spark.io.sinks import (
        append_manifest,
        snapshot_manifest,
        verify_manifest,
        write_manifest,
    )
    from top_produce_etl_spark.io.sources import (
        load_pruned,
        load_snapshot,
        pruning_report,
    )

    path = str(tmp_path / "by_region")
    # 2 tasks x 2 regions -> 4 files, 2 distinct basenames
    write_table(
        spark.range(0, 100, 1, 2).select(
            "id",
            F.when(F.col("id") % 2 == 0, "EU").otherwise("US").alias("region"),
        ),
        path,
        partition_by=["region"],
    )
    m = write_manifest(spark, path, stats_cols=["id"])
    assert m["n_files"] == 4 and len({f["name"] for f in m["files"]}) == 4
    assert all(f["name"].startswith("region=") for f in m["files"])
    assert verify_manifest(spark, path)["ok"]
    assert snapshot_manifest(spark, path) == 1

    full = read_table(spark, path)
    snap = load_snapshot(spark, path, 1)
    assert snap.columns == full.columns
    assert sorted(map(tuple, snap.collect())) == sorted(
        map(tuple, full.collect())
    )

    got = load_pruned(spark, path, "id", 49, 49)
    assert [tuple(r) for r in got.select("id", "region").collect()] == [
        (49, "US")
    ]
    rep = pruning_report(spark, path, "id", 49, 49)
    assert rep["n_files"] == 4
    assert rep["n_kept"] == len(got.inputFiles()) == 1
    assert rep["n_skipped"] == 3

    # an append into a partition directory is found and merged
    write_table(
        spark.range(100, 110).select("id", F.lit("EU").alias("region")),
        path,
        mode="append",
        partition_by=["region"],
    )
    grown = append_manifest(spark, path)
    assert grown["n_rows"] == 110
    assert grown["n_files"] == len(read_table(spark, path).inputFiles())
    assert verify_manifest(spark, path)["ok"]
    assert load_snapshot(spark, path, 1).count() == 100


def test_read_manifest_json_reads_large_sidecar_fast(spark, tmp_path):
    """A 1,000-file manifest (~200 KiB) reads back in one JVM call,
    not one py4j round trip per byte."""
    import json
    import time

    from top_produce_etl_spark.io.sinks import read_manifest_json

    files = [
        {
            "name": f"part-{i:05d}-23b518d9-3a21-4c8c-9582-d77ad3a0bc58"
            "-c000.snappy.parquet",
            "bytes": 100_000 + i,
            "stats": {"k": [i * 100, i * 100 + 99], "d": ["2024-01-01", "2024-12-31"]},
        }
        for i in range(1000)
    ]
    manifest = {
        "format": "parquet",
        "n_files": len(files),
        "total_bytes": sum(f["bytes"] for f in files),
        "files": files,
        "stats_cols": ["k", "d"],
        "n_rows": 10**6,
    }
    (tmp_path / "_manifest.json").write_text(json.dumps(manifest, indent=1))
    t0 = time.perf_counter()
    back = read_manifest_json(spark, str(tmp_path))
    elapsed = time.perf_counter() - t0
    assert back == manifest
    assert elapsed < 2.0, f"read_manifest_json took {elapsed:.2f} s"


def test_every_manifest_reader_uses_the_one_sidecar_reader(
    spark, tmp_path, monkeypatch
):
    """One reader: with the sidecar reader replaced by one that
    raises, every manifest consumer surfaces that error."""
    import pytest as _pytest

    from top_produce_etl_spark.io import sinks
    from top_produce_etl_spark.io.sources import (
        load_pruned,
        load_snapshot,
        pruning_report,
    )

    path = str(tmp_path / "one_reader")
    spark.range(0, 10).withColumnRenamed("id", "k").write.parquet(path)
    sinks.write_manifest(spark, path, stats_cols=["k"])
    assert sinks.snapshot_manifest(spark, path) == 1

    class Sentinel(Exception):
        pass

    def boom(*args, **kwargs):
        raise Sentinel

    monkeypatch.setattr(sinks, "_read_sidecar", boom)
    calls = {
        "load_pruned": lambda: load_pruned(spark, path, "k", 0, 5),
        "load_snapshot": lambda: load_snapshot(spark, path, 1),
        "pruning_report": lambda: pruning_report(spark, path, "k", 0, 5),
        "verify_manifest": lambda: sinks.verify_manifest(spark, path),
        "append_manifest": lambda: sinks.append_manifest(spark, path),
        "snapshot_manifest": lambda: sinks.snapshot_manifest(spark, path),
    }
    for name, call in calls.items():
        with _pytest.raises(Sentinel):
            call()
            _pytest.fail(f"{name} did not read through _read_sidecar")


def test_copy_table_verified_cross_format(spark, tmp_path):
    """parquet → ORC migration with integrity proof: the fingerprint
    is format/layout independent, so a faithful copy verifies and a
    tampered destination raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import copy_table_verified

    src = str(tmp_path / "src_pq")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(3).write.parquet(src)

    dst = str(tmp_path / "dst_orc")
    got = copy_table_verified(
        spark, src, dst, fingerprint_cols=["k", "v"], dst_fmt="orc"
    )
    assert got["n_rows"] == 500

    # destination corrupted after the copy -> re-verification fails
    spark.range(1).select(
        F.lit(9999).cast("long").alias("k"), F.lit(0).cast("long").alias("v")
    ).write.mode("append").orc(dst)
    from top_produce_etl_spark.operators.quality import table_fingerprint

    bad = table_fingerprint(
        spark.read.orc(dst), cols=["k", "v"]
    ).collect()[0]
    assert bad["fingerprint"] != got["fingerprint"]

    # and a copy that lands wrong raises end-to-end (simulate by
    # copying into the tampered dir with mode=append via kwargs)
    with _pytest.raises(ValueError, match="verification FAILED"):
        copy_table_verified(
            spark, src, dst, fingerprint_cols=["k", "v"],
            dst_fmt="orc", mode="append",
        )


def test_file_size_report_and_compaction_advisor(spark, tmp_path):
    """The listing-only health check drives the compaction decision:
    a many-tiny-files table recommends compaction; after compacting,
    the same advisor says no."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import (
        compact_table,
        file_size_report,
        needs_compaction,
    )

    path = str(tmp_path / "fragmented")
    spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    ).repartition(20).write.parquet(path)

    rep = file_size_report(spark, path, target_file_bytes=1 << 20)
    assert rep["n_files"] == 20
    assert rep["small_file_byte_frac"] == 1.0  # every file << 512 KiB

    go, rep2 = needs_compaction(spark, path, target_file_bytes=1 << 20)
    assert go and rep2["n_files"] == 20

    compact_table(spark, path, target_file_bytes=1 << 20)
    after, rep3 = needs_compaction(
        spark, path, target_file_bytes=1 << 20, min_files=8
    )
    assert not after and rep3["n_files"] < 8


def test_read_quarantine_splits_good_and_bad(spark, tmp_path):
    """Dirty JSONL ingest: well-formed rows land with the declared
    schema, malformed lines are quarantined VERBATIM for replay —
    nothing dropped, nothing fails the job."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from top_produce_etl_spark.io.sources import read_quarantine
    from top_produce_etl_spark.operators._cache import pipeline_session

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{broken json line\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "not-a-number", "name": "type clash"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
        ]
    )
    with pipeline_session():
        good, bad = read_quarantine(spark, str(p), schema)
        assert good.columns == ["id", "name"]
        assert {r["id"] for r in good.collect()} == {1, 2}
        rows = bad.collect()
        bad_lines = [r["_corrupt_record"] for r in rows]
        assert len(bad_lines) == 2
        assert "{broken json line" in bad_lines  # raw text preserved
        # PERMISSIVE salvage: the type-clash row keeps its good field
        salvaged = {r["name"] for r in rows}
        assert "type clash" in salvaged
        # replay contract: every input line is in exactly one leg
        assert good.count() + bad.count() == 4
    # the scope released the pinned parse; legs that reference real columns
    # stay queryable by recompute (corrupt-only prunes — e.g. a bare
    # count() — need the cache, which is exactly why it existed)
    assert {r["id"] for r in good.collect()} == {1, 2}


def test_read_quarantine_rejects_colliding_corrupt_col(spark, tmp_path):
    import pytest
    from pyspark.sql.types import StringType, StructField, StructType

    from top_produce_etl_spark.io.sources import read_quarantine

    schema = StructType([StructField("_corrupt_record", StringType())])
    with pytest.raises(ValueError, match="collides"):
        read_quarantine(spark, str(tmp_path), schema)
