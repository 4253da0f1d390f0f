"""Streaming-vs-batch parity tests (SURVEY.md §2.9): the same
window specs must produce identical results under readStream
(availableNow → memory sink) and the batch operators."""

from __future__ import annotations

import ast
from pathlib import Path

from top_produce_etl_spark.io.sources import load_table
from top_produce_etl_spark.operators.eventtime import (
    session_window_agg,
    tumbling_window_agg,
)
from top_produce_etl_spark.streaming.jobs import (
    run_windowed_counts_stream,
    sessionize_batch,
)

from pyspark.sql import functions as F


def test_stream_tumbling_counts_equal_batch(spark, sf_dir):
    batch = tumbling_window_agg(
        load_table(spark, sf_dir, "events"),
        "ts",
        "1 day",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select("window_start", "window_end", "event_type", "n_events")

    stream = run_windowed_counts_stream(
        spark, sf_dir, sink_table="t_stream_counts"
    )

    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0


def test_applyinpandas_sessionize_matches_session_window(spark, sf_dir):
    """The custom applyInPandas sessionizer must reproduce the
    built-in session_window exactly (same gap semantics)."""
    events = load_table(spark, sf_dir, "events")
    builtin = session_window_agg(
        events, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")]
    ).select("user_id", "session_start", "session_end", "n_events")
    custom = sessionize_batch(events, "30 minutes")

    b = sorted(tuple(r) for r in builtin.collect())
    c = sorted(tuple(r) for r in custom.collect())
    assert b == c and len(b) > 100


def test_applyinpandaswithstate_running_totals(spark, sf_dir):
    """Custom stateful operator: final per-user running totals from
    the state store must equal the batch groupBy over the same
    fixture (cent-exact — state accumulates integer cents)."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.streaming.jobs import (
        running_user_totals_stream,
        stream_events,
    )

    out = running_user_totals_stream(
        stream_events(spark, sf_dir), sink_table="t_user_totals"
    )
    # update-mode sink may hold one row per user per micro-batch;
    # the LAST update per user is the final state.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.collect()  # availableNow: later rows overwrite earlier
    }

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum(F.round(F.col("value") * 100)) ) / 100.0).alias("tv"),
        )
    )
    want = {r["user_id"]: (r["n"], r["tv"]) for r in batch.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream purchase⨝click attribution must
    equal the same join over the static table (inner stream-stream
    joins emit exactly the matched rows once both sides arrive)."""
    from top_produce_etl_spark.streaming.jobs import (
        purchase_click_attribution,
        purchase_click_attribution_stream,
    )

    batch = purchase_click_attribution(load_table(spark, sf_dir, "events"))
    stream = purchase_click_attribution_stream(
        spark, sf_dir, sink_table="t_stream_attr"
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0


def test_attribution_joins_reject_unsafe_lookback_before_any_job(
    spark, sf_dir
):
    """``lookback`` is interpolated into ``INTERVAL …`` join SQL, so
    each attribution join must reject a value that is not
    '<n> <unit>' with ValueError before any Spark job runs."""
    import pytest

    from top_produce_etl_spark.streaming.jobs import (
        purchase_click_attribution,
        purchase_click_attribution_stream,
        purchase_click_outer_attribution_stream,
    )

    events = load_table(spark, sf_dir, "events")
    bad = "1 hour) OR (1=1"
    sc = spark.sparkContext
    sc.setJobGroup("lookback-guard", "unsafe lookback")
    try:
        with pytest.raises(ValueError, match="lookback"):
            purchase_click_attribution(events, lookback=bad)
        with pytest.raises(ValueError, match="lookback"):
            purchase_click_attribution_stream(spark, sf_dir, lookback=bad)
        with pytest.raises(ValueError, match="lookback"):
            purchase_click_outer_attribution_stream(
                spark, sf_dir, lookback=bad
            )
        jobs = sc.statusTracker().getJobIdsForGroup("lookback-guard")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []


def test_stream_events_builds_with_at_most_one_job(spark, sf_dir):
    """Building the events stream reads the fixture's raw schema once;
    it loads no static twin, so at most one Spark job runs before any
    stream starts."""
    from top_produce_etl_spark.streaming.jobs import stream_events

    sc = spark.sparkContext
    sc.setJobGroup("stream-events-build", "build the events stream")
    try:
        sdf = stream_events(spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("stream-events-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sdf.isStreaming
    assert sdf.columns == load_table(spark, sf_dir, "events").columns
    assert len(jobs) <= 1, list(jobs)


def test_availablenow_checkpoint_is_incremental(spark, tmp_path):
    """The production incremental-batch pattern: a checkpointed
    availableNow stream processes the backlog once; a second run
    with the same checkpoint picks up ONLY files added since.
    This is the restartability contract the streaming tier claims
    (streaming/jobs.py module docstring)."""
    import duckdb

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    duckdb.sql(
        f"COPY (SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, v))"
        f" TO '{src}/batch1.parquet' (FORMAT PARQUET)"
    )
    schema = "id BIGINT, v STRING"

    def run_once():
        q = (
            spark.readStream.schema(schema).parquet(str(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 2
    # second run, nothing new -> no new rows
    run_once()
    assert spark.read.parquet(sink).count() == 2
    # add a file -> exactly the delta is appended
    duckdb.sql(
        f"COPY (SELECT * FROM (VALUES (3, 'c')) t(id, v))"
        f" TO '{src}/batch2.parquet' (FORMAT PARQUET)"
    )
    run_once()
    got = sorted(r["id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3]


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static join (broadcast dim, no join state) + windowed
    agg must equal the identical batch plan — and both must equal an
    independent DuckDB derivation over the same parquet files
    (per-day, per-segment count and exact decimal value sum)."""
    import duckdb

    from top_produce_etl_spark.streaming.jobs import (
        enriched_segment_counts,
        enriched_segment_counts_stream,
    )

    batch = enriched_segment_counts(load_table(spark, sf_dir, "events"), sf_dir)
    stream = enriched_segment_counts_stream(
        spark, sf_dir, sink_table="t_stream_enriched"
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0

    oracle = duckdb.sql(f"""
        SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
               c.c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_value
        FROM '{sf_dir}/events.parquet' e
        JOIN '{sf_dir}/customer.parquet' c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """).fetchall()
    assert s == sorted(oracle)


def test_foreachbatch_dynamic_overwrite_materialization(spark, tmp_path):
    """Continuous materialization: stream → foreachBatch → parquet
    with dynamic partition overwrite. A second incremental run that
    only adds events for a NEW day must (a) leave the old days'
    parquet files byte-untouched, (b) converge to exactly the batch
    answer over all data."""
    import glob
    import os

    import duckdb

    from top_produce_etl_spark.streaming.jobs import (
        materialize_daily_counts_stream,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    duckdb.sql(f"""
        COPY (SELECT * FROM (VALUES
          (TIMESTAMP '2025-01-01 10:00:00', 'view'),
          (TIMESTAMP '2025-01-01 11:00:00', 'view'),
          (TIMESTAMP '2025-01-02 09:00:00', 'click')
        ) t(ts, event_type)) TO '{src}/batch1.parquet' (FORMAT PARQUET)
    """)

    materialize_daily_counts_stream(spark, str(src), out, ckpt)
    snap1 = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{out}/day=2025-01-0[12]/*/*.parquet")
    }
    assert len(snap1) > 0
    got1 = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        ("2025-01-01", "view"): 2,
        ("2025-01-02", "click"): 1,
    }

    # incremental: a new file with only a NEW day's events
    duckdb.sql(f"""
        COPY (SELECT * FROM (VALUES
          (TIMESTAMP '2025-01-03 08:00:00', 'purchase')
        ) t(ts, event_type)) TO '{src}/batch2.parquet' (FORMAT PARQUET)
    """)
    materialize_daily_counts_stream(spark, str(src), out, ckpt)

    got2 = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == {
        ("2025-01-01", "view"): 2,
        ("2025-01-02", "click"): 1,
        ("2025-01-03", "purchase"): 1,
    }
    # untouched groups' files identical (same paths, same mtimes):
    # update mode emitted only day=3, and partition granularity ==
    # group granularity makes the overwrite surgical
    snap2 = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{out}/day=2025-01-0[12]/*/*.parquet")
    }
    assert snap1 == snap2


def test_stream_dedup_within_watermark_matches_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark under availableNow (single
    micro-batch, no eviction) == exact batch DISTINCT key set."""
    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.streaming.jobs import distinct_event_keys_stream

    got = {
        (r.user_id, r.event_type)
        for r in distinct_event_keys_stream(
            spark, sf_dir, sink_table="t_stream_dedup"
        ).collect()
    }
    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0


def test_idempotent_append_sink_exactly_once(spark, tmp_path):
    """foreachBatch append with per-epoch commit markers: a stream
    run lands each batch once; replaying a batch id (the retry case)
    changes nothing; uncommitted partial directories are invisible
    to the committed reader."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sinks import (
        idempotent_append_sink,
        read_committed_appends,
    )

    src = str(tmp_path / "src")
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(src)

    out = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema
    sink = idempotent_append_sink(out)
    (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    first = sorted(
        (r.k, r.v) for r in read_committed_appends(spark, out).collect()
    )
    assert first == [(i, 2 * i) for i in range(10)]

    # retry of an already-committed epoch: same batch_id, even with
    # different data, must be a no-op
    poison = spark.range(100, 103).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    sink(poison, 0)
    assert sorted(
        (r.k, r.v) for r in read_committed_appends(spark, out).collect()
    ) == first

    # an uncommitted partial (no marker) is invisible
    poison.write.parquet(f"{out}/batch_id=99")
    assert sorted(
        (r.k, r.v) for r in read_committed_appends(spark, out).collect()
    ) == first
    # ...and a retry of THAT id overwrites the partial then commits
    sink(poison, 99)
    final = sorted(
        (r.k, r.v) for r in read_committed_appends(spark, out).collect()
    )
    assert final == first + [(100, 100), (101, 101), (102, 102)]


def test_cms_stream_equals_batch(spark, sf_dir):
    """The streaming-maintained count-min sketch equals the batch
    sketch cell-for-cell once the bounded source is consumed —
    bounded state (≤ depth × width) is the whole point."""
    from top_produce_etl_spark.operators.countmin import cms_build
    from top_produce_etl_spark.streaming.jobs import run_cms_stream

    streamed = run_cms_stream(spark, sf_dir, sink_table="t_cms_stream")
    batch = cms_build(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "user_id"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.count() <= 4 * 512


def test_kmv_stream_equals_batch_across_micro_batches(spark, tmp_path):
    """The custom-state KMV stream must converge to the batch sketch
    REGARDLESS of micro-batch boundaries: the events are split into
    3 files consumed one per trigger (maxFilesPerTrigger=1), so the
    k-min-of-union merge runs across real batch seams. Final per-key
    set == batch kmv_sketch rows."""
    import os

    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators.kmv import kmv_sketch
    from top_produce_etl_spark.streaming.jobs import run_kmv_stream

    rows = [
        (i // 100, str(i % 3), f"key{i % 37}") for i in range(300)
    ]
    df = spark.createDataFrame(rows, "f int, event_type string, key string")
    src_dir = str(tmp_path / "kmv_src")
    os.makedirs(src_dir)
    # one file per row-range: every group appears in EVERY file, so
    # each key's state crosses real micro-batch seams
    for part in range(3):
        df.filter(F.col("f") == part).select("event_type", "key").coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    k = 8
    batch = kmv_sketch(
        spark.read.parquet(src_dir), ["event_type"], "key", k=k
    )

    stream = (
        spark.readStream.schema("event_type string, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    sink = run_kmv_stream(stream, "key", k=k, sink_table="t_kmv_stream")
    # more than one micro-batch actually happened (the seams are real)
    assert sink.select("event_type", "n_seen").distinct().count() > 3
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    final = (
        sink.withColumn("__mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("__mx"))
        .select("event_type", "h")
        .distinct()
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_checkpoint_restart_recovers_window_state(spark, sf_dir, tmp_path):
    """r6 verdict #4 — the restart-semantics proof: a watermarked
    windowed aggregation consumes part of its input, terminates, and
    a NEW query restarts from the same checkpoint over the full
    input. The final committed sink must equal the batch aggregate
    over everything (state restored, nothing double-counted), and
    phase 1 must verifiably have left UNFLUSHED state behind (the
    restart did real recovery, not a no-op)."""
    from pyspark.sql import functions as F

    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.streaming.jobs import (
        restart_recovery_windowed_counts,
    )

    work = str(tmp_path / "recovery")
    report = {}
    final = restart_recovery_windowed_counts(
        spark, sf_dir, work, n_slices=6, phase1_slices=3, report=report
    )
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in final.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy(
                F.window("ts", "1 day").alias("win"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0
    # proof the restart RECOVERED state: the sink committed before
    # the restart is a STRICT subset — the straddling window (and
    # everything after) lived only in the state store at the cut
    assert 0 <= report["phase1_rows"] < len(got), report
    # and the offsets log spans both query runs (batch ids continue
    # across the restart — resumed, never reset to zero)
    import glob as _glob

    offsets = sorted(_glob.glob(f"{work}/ckpt/offsets/[0-9]*"))
    assert len(offsets) > 3  # phase 1 alone was only 3 file-batches


JOBS = (
    Path(__file__).resolve().parent.parent
    / "top_produce_etl_spark" / "streaming" / "jobs.py"
)


def _jobs_functions_holding(match) -> set[str]:
    """Top-level functions of streaming/jobs.py whose source holds an
    AST node satisfying ``match`` (module-level code counts as
    ``<module>``)."""
    owners = set()
    for top in ast.parse(JOBS.read_text()).body:
        name = getattr(top, "name", "<module>")
        if any(match(node) for node in ast.walk(top)):
            owners.add(name)
    return owners


def test_stream_jobs_share_one_runner_reader_and_window_operators():
    """No Spark job: every memory-sink run goes through
    ``_run_available_now``, every fixture ``readStream`` through
    ``_read_fixture_stream`` (the restart proof's slice reader is the
    one other glob-filtered source), and no job hand-writes a window
    aggregate that ``operators.eventtime`` already provides."""

    def memory_format(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and [getattr(a, "value", None) for a in node.args] == ["memory"]
        )

    def glob_filter(node):
        return isinstance(node, ast.Constant) and node.value == "pathGlobFilter"

    def window_fn(node):
        return (
            isinstance(node, ast.Attribute)
            and node.attr in ("window", "session_window")
            and isinstance(node.value, ast.Name)
            and node.value.id == "F"
        )

    assert _jobs_functions_holding(memory_format) == {"_run_available_now"}
    assert _jobs_functions_holding(glob_filter) == {
        "_read_fixture_stream",
        "restart_recovery_windowed_counts",
    }
    assert _jobs_functions_holding(window_fn) == set()
