"""Structured Streaming tier (SURVEY.md §2.9).

Every job here is a batch-legal DataFrame program over an events (or
documents) frame; only its source and its sink are stream-specific.
Windowed aggregates are the batch operators themselves
(``operators.eventtime.tumbling_window_agg`` /
``session_window_agg``), so ``read`` → ``readStream`` really is the
only change. Two private helpers carry the stream wiring:

- :func:`_read_fixture_stream` — ``readStream`` over one fixture
  table (:func:`stream_events` adds the batch loader's event-time
  normalization on top);
- :func:`_run_available_now` — run a frame to completion with
  ``trigger(availableNow=True)`` into a memory sink and return the
  sink table.

``withWatermark`` is applied unconditionally: on a batch frame the
optimizer removes it (``EliminateEventTimeWatermark``), so a job body
such as :func:`purchase_click_attribution` is the batch query and the
stream job at once. The checkpointed parquet and ``foreachBatch``
sinks (:func:`restart_recovery_windowed_counts`,
:func:`materialize_daily_counts_stream`) keep their own
``writeStream``.

Testing strategy: streams run over the same parquet fixtures and land
in a memory sink; parity tests assert stream results == batch results
for the same window spec — which is exactly the guarantee Structured
Streaming's incremental engine makes for append-mode windowed
aggregation.

Scale notes: in production these jobs read Kafka/file sources with
watermarks bounding state; state store size = |open windows ×
keys|, which watermark delay controls. ``availableNow`` is also the
production pattern for incremental batch ("process what's new, then
stop") — checkpointed, restartable.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import dec_sum
from top_produce_etl_spark.io.sources import load_table, normalize_event_time
from top_produce_etl_spark.operators.eventtime import (
    check_interval,
    session_window_agg,
    tumbling_window_agg,
)
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def _run_available_now(df: DataFrame, sink_table: str, mode: str) -> DataFrame:
    """Run the streaming frame ``df`` over everything available now,
    in output ``mode``, into the memory sink ``sink_table``; return
    the sink table once the query terminates."""
    (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(sink_table)


def _read_fixture_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """``readStream`` over the ``{table}.parquet`` fixture with its raw
    (pre-normalization) schema. The file stream source requires a
    DIRECTORY and each fixture is a single file, so this streams the
    parent dir with a glob filter."""
    name = f"{table}.parquet"
    raw_schema = spark.read.parquet(os.path.join(sf_dir, name)).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", name)
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture directory, with the
    same event-time normalization as the batch loader — so the
    stream's ``ts`` is always LTZ TIMESTAMP (``withWatermark``
    rejects TIMESTAMP_NTZ) and batch-parity tests compare
    same-typed results. The normalization keeps the raw column order,
    which is the batch loader's order too."""
    return normalize_event_time(_read_fixture_stream(spark, sf_dir, "events"))


def _windowed_counts(
    events: DataFrame, duration: str, watermark: str
) -> DataFrame:
    """Watermarked tumbling-window event counts per event_type:
    (window_start, window_end, event_type, n_events)."""
    return tumbling_window_agg(
        events.withWatermark("ts", watermark),
        "ts",
        duration,
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select("window_start", "window_end", "event_type", "n_events")


def run_windowed_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 day",
    watermark: str = "1 hour",
    sink_table: str = "stream_windowed_counts",
) -> DataFrame:
    """Tumbling windowed counts per event_type as a stream:
    readStream → watermark → window agg → memory sink, availableNow.
    Returns the sink table DataFrame after the run completes."""
    return _run_available_now(
        _windowed_counts(stream_events(spark, sf_dir), duration, watermark),
        sink_table,
        "complete",
    )


def enriched_segment_counts(
    events: DataFrame,
    sf_dir: str,
    duration: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Dimension enrichment feeding a windowed agg: events ⨝
    broadcast(customer dim) → per-(day, market segment) counts and
    value sums. Batch over ``load_table`` events; STREAM-STATIC over
    :func:`stream_events` (:func:`enriched_segment_counts_stream`).

    Stream-static joins keep NO state: the static side is re-planned
    per micro-batch and broadcast (hint it explicitly — the dim is
    dimension-table-sized at any corpus scale), so unlike the
    stream-stream join there is no buffering or watermark bound on
    the join itself; only the downstream window aggregate needs the
    watermark. This is the standard enrichment topology at 100 TB:
    the fact stream never shuffles for the join, only for the
    (window, segment) aggregate — whose shuffled rows are partial
    aggregates, |windows × segments| per partition.

    The value sum goes through exact decimal (repo convention) so
    micro-batch accumulation order cannot perturb the double.
    """
    cust = load_table(events.sparkSession, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(cust, events.user_id == cust.c_custkey)
    return tumbling_window_agg(
        enriched.withWatermark("ts", watermark),
        "ts",
        duration,
        ["c_mktsegment"],
        [F.count(F.lit(1)).alias("n_events"), dec_sum("value", "sum_value")],
    ).select("window_start", "c_mktsegment", "n_events", "sum_value")


def enriched_segment_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 day",
    watermark: str = "1 hour",
    sink_table: str = "stream_enriched_counts",
) -> DataFrame:
    """:func:`enriched_segment_counts` as a stream-static job,
    complete-mode memory sink. Batch and DuckDB parity asserted in
    tests/test_streaming.py."""
    events = stream_events(spark, sf_dir)
    return _run_available_now(
        enriched_segment_counts(events, sf_dir, duration, watermark),
        sink_table,
        "complete",
    )


# ---------------------------------------------------------------------------
# Stateful sessionization
# ---------------------------------------------------------------------------

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)


def _split_sessions(pdf: pd.DataFrame, gap_seconds: float) -> pd.DataFrame:
    """Per-user gap-split (pandas, one user per call): sessions are
    maximal runs with consecutive gaps < gap; end = last + gap
    (Spark session_window parity, end-exclusive)."""
    pdf = pdf.sort_values(["ts", "event_id"])
    gaps = pdf["ts"].diff().dt.total_seconds()
    session_ids = (gaps >= gap_seconds).fillna(True).cumsum()
    out = pdf.groupby(session_ids).agg(
        user_id=("user_id", "first"),
        session_start=("ts", "min"),
        session_end=("ts", "max"),
        n_events=("ts", "size"),
    )
    out["session_end"] = out["session_end"] + pd.Timedelta(seconds=gap_seconds)
    return out[["user_id", "session_start", "session_end", "n_events"]]


def sessionize_batch(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Custom stateful-style sessionization in batch via
    ``applyInPandas`` — the grouped-map UDF surface (SURVEY §2.10).
    Semantics match ``F.session_window`` exactly (verified in
    tests); exists as the template for arbitrary per-key stateful
    logic that session_window can't express (e.g. value-dependent
    gaps, session-level features)."""
    gap_seconds = _parse_gap_seconds(gap)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _split_sessions(pdf, gap_seconds)

    return events.select("user_id", "event_id", "ts").groupBy("user_id").applyInPandas(
        fn, SESSION_SCHEMA
    )


def _parse_gap_seconds(gap: str) -> float:
    qty, unit = gap.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[unit]
    return float(qty) * mult


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    sink_table: str = "stream_sessions",
) -> DataFrame:
    """Streaming sessionization via the built-in session window
    (state-store backed, watermark-bounded). For custom state
    machines Spark offers ``applyInPandasWithState``; the built-in
    covers gap sessions with far less state-management code, so the
    engine uses it and reserves the custom path for logic the
    built-in can't express."""
    agg = session_window_agg(
        events.withWatermark("ts", watermark),
        "ts",
        gap,
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select("user_id", "session_start", "session_end", "n_events")
    return _run_available_now(agg, sink_table, "complete")


def running_user_totals_stream(
    events: DataFrame,
    sink_table: str = "stream_user_totals",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY.md §2.9/§2.10): per-user running (count, sum-of-value)
    maintained in the state store across micro-batches, emitted in
    update mode on every batch that touches the user.

    This is the template for per-key state machines the built-in
    windowed/session aggregates cannot express (counters with
    custom merge rules, ML feature state, fraud scores). State is
    one (bigint, double) pair per user — O(|users|) store size,
    partitioned by the grouping key, rebuilt from the checkpoint on
    restart. For production add a timeout policy
    (``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle
    keys; the fixture run uses NoTimeout because availableNow
    processes a bounded backlog.

    Value totals accumulate in integer cents (int64) inside state so
    results are independent of batch boundaries and float order —
    the decimal-exactness rule (functions.numeric) applied to the
    streaming path.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, cents bigint"

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-ROW cent rounding: totals are then independent of
            # how rows split across micro-batches. HALF_UP via
            # floor(x*100 + 0.5) — pandas .round() is banker's
            # (half-even) and would diverge from the batch twin's
            # Spark F.round on exact-.5-cent values.
            # (sign-aware: HALF_UP = away from zero, like F.round)
            vals = pdf["value"].astype("float64").mul(100).to_numpy()
            half_up = np.where(
                vals >= 0, np.floor(vals + 0.5), np.ceil(vals - 0.5)
            )
            cents += int(half_up.astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    updates = (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return _run_available_now(updates, sink_table, "update")


def purchase_click_attribution(
    events: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Each purchase matched to the same user's clicks in the
    preceding ``lookback`` window (ad-attribution shape); ``how`` is
    the join type (``"leftOuter"`` keeps unmatched purchases). Batch over
    ``load_table`` events; a watermarked STREAM-STREAM inner join
    over :func:`stream_events`
    (:func:`purchase_click_attribution_stream`).

    Stream-stream joins are the one Structured Streaming operator
    with state on BOTH sides: each side buffers rows until the other
    side's watermark passes the join-time bound, so state size is
    |rows in watermark window|, not |stream|. The time-bound
    predicate is what makes that eviction possible — an unbounded
    stream-stream join would be rejected in append mode. Both sides
    here are filters of one source stream (a supported self-join).
    """
    lookback = check_interval(lookback, "lookback")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user_id = c_user_id
            AND click_ts >= purchase_ts - INTERVAL {lookback}
            AND click_ts < purchase_ts"""
        ),
        how,
    ).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def purchase_click_attribution_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    sink_table: str = "stream_attribution",
) -> DataFrame:
    """:func:`purchase_click_attribution` as a stream-stream join,
    append-mode memory sink. The same body over the static events
    table returns the identical row set — asserted in
    tests/test_streaming.py. ``lookback`` is validated before the
    source is read."""
    lookback = check_interval(lookback, "lookback")
    events = stream_events(spark, sf_dir)
    return _run_available_now(
        purchase_click_attribution(events, lookback, watermark),
        sink_table,
        "append",
    )


def materialize_daily_counts_stream(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
) -> None:
    """Continuous materialization: stream → windowed agg →
    ``foreachBatch`` → parquet partitioned by day with DYNAMIC
    partition overwrite (io/sinks.py).

    This is the production shape for keeping a queryable rollup
    table fresh from an event stream without a transactional table
    format: UPDATE mode emits only the (window, key) groups each
    micro-batch actually changed, and because the sink partitions on
    EXACTLY the aggregation keys (day, event_type), overwriting the
    emitted groups' partitions is a precise upsert — late data
    updates its own partition, untouched groups' files stay
    byte-identical (asserted via mtimes in tests). The
    group-granularity-equals-partition-granularity invariant is what
    makes this exact: partitioning coarser than the group key (just
    day) would drop a day's other event types on overwrite.
    Checkpointed + availableNow ⇒ restartable incremental batch; a
    cron-scheduled run processes just the new files each time.
    """
    from top_produce_etl_spark.io.sinks import write_table

    raw_schema = spark.read.parquet(source_dir).schema
    events = normalize_event_time(
        spark.readStream.schema(raw_schema).parquet(source_dir)
    )
    agg = _windowed_counts(events, "1 day", watermark).select(
        F.to_date("window_start").alias("day"), "event_type", "n_events"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_table(
            batch_df,
            out_path,
            partition_by=["day", "event_type"],
            dynamic_overwrite=True,
        )

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def distinct_event_keys_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    sink_table: str = "stream_distinct_keys",
) -> DataFrame:
    """Streaming deduplication via the native
    ``dropDuplicatesWithinWatermark`` operator (Spark 3.5+): emit
    each distinct (user_id, event_type) once, with dedup state
    EVICTED once the watermark passes — the bounded-memory contract
    plain ``dropDuplicates`` on a stream cannot give (its state
    grows with the key universe forever; at 100 TB of events that
    is the difference between a fixed-size state store and an OOM).

    The trade is explicit and documented: two occurrences of a key
    separated by more than the watermark delay may BOTH be emitted
    after eviction. Consumers needing global uniqueness de-dup
    downstream (cheap: re-emissions are rare and keyed); consumers
    needing bounded state at line rate use this operator as-is.

    Parity: under ``availableNow`` the fixture is one micro-batch —
    the watermark never advances mid-run, nothing is evicted, so the
    output is EXACTLY the distinct key set and the job is verified
    against a ``SELECT DISTINCT`` DuckDB oracle
    (queries/streaming_q.py:stream_distinct_keys_parity).
    """
    deduped = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_available_now(deduped, sink_table, "append")


def normalized_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "stream_norm_dedup",
) -> DataFrame:
    """CCNet-normalized streaming dedup (r9): stream the documents
    fixture, plant the cosmetic twin INSIDE the streaming plan (even
    docs re-emitted uppercased + digit/punct-decorated — a streaming
    union of two projections of the same source), derive the
    normalized dedup key at line rate (two scan-speed regexp passes,
    operators/dedup.py::normalize_for_dedup), and ``dropDuplicates``
    on the key.

    State note, explicit: documents carry no event time, so this is
    the UNBOUNDED-state dedup (one state row per distinct normalized
    key — the key store a streaming ingest pipeline would back with
    RocksDB and TTL at 100 TB); the watermark-evicted variant lives
    in :func:`distinct_event_keys_stream`. Output is the distinct
    normalized-key set — keeper identity under streaming arrival
    order is nondeterministic by design, so the key set is the parity
    surface (queries/streaming_q.py:stream_normalized_dedup_parity
    checks it against the batch-derived DuckDB oracle)."""
    from top_produce_etl_spark.operators.dedup import normalize_for_dedup

    sdf = _read_fixture_stream(spark, sf_dir, "documents")
    base = sdf.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    twin = base.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.concat(
            F.lit("  "), F.upper("text"), F.lit(" -- 2024, !!! (99)   ")
        ).alias("text"),
    )
    keys = (
        base.unionByName(twin)
        .select(normalize_for_dedup(F.col("text")).alias("norm_key"))
        .dropDuplicates(["norm_key"])
    )
    return _run_available_now(keys, sink_table, "append")


def purchase_click_outer_attribution_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 DAY",
    watermark: str = "1 hour",
    sink_table: str = "stream_outer_attr",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase emits, matched
    to prior clicks within ``lookback`` or with NULL click columns —
    the harder sibling of the inner attribution join
    (:func:`purchase_click_attribution_stream`).

    Mechanics the inner join doesn't exercise: unmatched left rows
    are HELD IN STATE until the watermark proves no matching right
    row can still arrive, then emitted with NULLs — so emission
    latency is the watermark delay, and state is bounded by
    (lookback + watermark) of left rows. Under ``availableNow`` the
    final watermark advance flushes all remaining unmatched state,
    which is why the run matches the batch left join exactly
    (parity: ext ``stream_outer_attribution_parity``).
    """
    lookback = check_interval(lookback, "lookback")
    joined = purchase_click_attribution(
        stream_events(spark, sf_dir), lookback, watermark, how="leftOuter"
    ).select("user_id", "purchase_id", "purchase_ts", "click_id")
    return _run_available_now(joined, sink_table, "append")


def run_cms_stream(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "stream_cms_cells",
) -> DataFrame:
    """Count-min sketch built BY THE STREAMING RUNTIME: readStream →
    the identical cms_build projection/aggregation (narrow explode +
    hash-agg — streaming-legal), complete-mode memory sink.

    The CMS is the canonical streaming-frequency structure: its cells
    are plain counts, so the incremental engine maintains them with
    bounded state (≤ depth × width rows) forever — no watermark
    needed, the sketch IS the state bound. For a fully-consumed
    bounded source the sink equals the batch sketch bit-for-bit,
    which the parity query's DuckDB oracle re-derives cross-engine.
    """
    from top_produce_etl_spark.operators.countmin import cms_build

    sketch = cms_build(stream_events(spark, sf_dir), "user_id")
    return _run_available_now(sketch, sink_table, "complete")


def run_kmv_stream(
    events: DataFrame,
    key_sql: str,
    k: int = 64,
    sink_table: str = "stream_kmv_cells",
) -> DataFrame:
    """KMV distinct sketch per ``event_type`` of the stream
    ``events``, maintained BY the streaming runtime via a CUSTOM
    state machine (``applyInPandasWithState``).

    Unlike the CMS/DDSketch streaming twins (plain SUM cells — a
    built-in streaming aggregate maintains them), the k-min hash set
    is NOT expressible as a streaming aggregate; it needs per-key
    custom state. The state IS the sketch: the k smallest distinct
    portable hashes seen so far — bounded at k values per key
    forever, no watermark (k-min of union-of-k-mins is exactly the
    KMV merge algebra, so batch-boundary placement cannot change the
    final set). Hashes are computed JVM-side in the streaming
    projection; Python only merges sorted ≤k-lists.

    Emission per touching micro-batch: the current k-min set plus a
    strictly-growing ``n_seen`` counter, so the final state per key
    is the max-``n_seen`` emission (the update-mode memory-sink
    contract of ``running_user_totals_stream``). For a fully-
    consumed bounded source the final sets equal the batch
    ``kmv_sketch`` rows bit-for-bit — the parity query's DuckDB
    oracle re-derives them cross-engine."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from top_produce_etl_spark.functions.portable_hash import (
        composite_hash_col,
    )

    hashed = events.select(
        "event_type", composite_hash_col(key_sql).alias("h")
    ).where(F.col("h").isNotNull())

    out_schema = "event_type string, n_seen bigint, h bigint"
    state_schema = "n bigint, hs array<bigint>"

    def fn(key, pdfs, state):
        n_seen, hs = state.get if state.exists else (0, [])
        s = set(hs)
        for pdf in pdfs:
            n_seen += len(pdf)
            s.update(int(x) for x in pdf["h"])
        kept = sorted(s)[:k]
        state.update((n_seen, kept))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(kept),
                "n_seen": [n_seen] * len(kept),
                "h": kept,
            }
        )

    updates = hashed.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
    return _run_available_now(updates, sink_table, "update")


def run_ddsketch_stream(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "stream_dd_cells",
) -> DataFrame:
    """DDSketch maintained BY the streaming runtime (the CMS
    pattern, run_cms_stream): readStream → the identical dd_build
    log-bucket aggregation over event values — grid-bounded state,
    no watermark needed — complete-mode memory sink. For a fully-
    consumed bounded source the sink equals the batch sketch, and
    the parity query's oracle re-derives the cells in DuckDB."""
    from top_produce_etl_spark.operators.ddsketch import dd_build

    sketch = dd_build(stream_events(spark, sf_dir), ["event_type"], "value")
    return _run_available_now(sketch, sink_table, "complete")


def restart_recovery_windowed_counts(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_slices: int = 6,
    phase1_slices: int = 3,
    duration: str = "1 day",
    watermark: str = "1 hour",
    report: dict | None = None,
) -> DataFrame:
    """Checkpoint-RECOVERY proof (r6 verdict #4): a watermarked
    windowed aggregation is stopped partway through its input and
    restarted from its checkpoint; the final sink must equal the
    batch aggregate over everything — no lost state, no double
    counting.

    Protocol (deterministic — no racy mid-batch kill):

    1. the events fixture is sliced by event time into ``n_slices``
       parquet files under ``work_dir``;
    2. PHASE 1 streams the first ``phase1_slices`` files
       (``maxFilesPerTrigger=1`` → one micro-batch per file,
       append-mode parquet sink + checkpoint) and terminates.
       Windows straddling the cut hold PARTIAL counts that exist
       only in the state store — with a 1-day window over a 1-hour
       watermark, nothing near the cut has been emitted yet;
    3. PHASE 2 is a NEW query from the SAME checkpoint after the
       remaining slices (plus a far-future watermark-flush sentinel)
       appear — exactly the crash/redeploy shape. It must restore
       the partial windows from the state store, merge the new rows,
       and emit every window exactly once (the parquet sink's
       transactional log de-duplicates replayed epochs).

    Returns the final windowed counts read from the committed sink
    (sentinel row excluded). Battery-checked against the batch
    day-window oracle in queries/streaming_q.py; the stop/restart
    state assertions live in tests/test_streaming.py.
    """
    src = os.path.join(work_dir, "src")
    sink = os.path.join(work_dir, "sink")
    ckpt = os.path.join(work_dir, "ckpt")
    os.makedirs(src, exist_ok=True)

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "event_id"
    )
    # epoch math stays IN-ENGINE (a collected naive datetime round-
    # trips through the driver's local tz — a classic off-by-offset)
    bounds = events.agg(
        F.min(F.col("ts").cast("double")).alias("lo"),
        F.max(F.col("ts").cast("double")).alias("hi"),
        F.max("ts").alias("hi_ts"),
    ).collect()[0]
    lo, hi, hi_ts = bounds["lo"], bounds["hi"], bounds["hi_ts"]
    span = hi - lo + 1.0
    sliced = events.withColumn(
        "__slice",
        F.least(
            F.lit(n_slices - 1),
            (
                (F.col("ts").cast("double") - F.lit(lo))
                / F.lit(span / n_slices)
            ).cast("int"),
        ),
    )

    def _write_single_file(df: DataFrame, name: str) -> None:
        # the file-stream pathGlobFilter matches LEAF file names, so
        # each slice must be a plain file — write the one-part dir,
        # then move its part file up as ``name``
        tmp = os.path.join(work_dir, f"__tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    for i in range(n_slices):
        _write_single_file(
            sliced.filter(F.col("__slice") == i).drop("__slice"),
            f"slice{i:02d}.parquet",
        )

    schema = spark.read.parquet(os.path.join(src, "slice00.parquet")).schema

    def run(path_glob: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", path_glob)
            .parquet(src)
        )
        (
            _windowed_counts(stream, duration, watermark)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # PHASE 1: only the first phase1_slices files are visible
    run("{" + ",".join(
        f"slice{i:02d}.parquet" for i in range(phase1_slices)
    ) + "}")
    if report is not None:
        # what the sink had committed BEFORE the restart — callers
        # assert it is a strict subset of the final result (i.e. the
        # straddling windows really were state-store-only at the cut)
        try:
            report["phase1_rows"] = spark.read.parquet(sink).count()
        except Exception:
            report["phase1_rows"] = 0

    # the sentinel: one far-future row pushes the watermark past
    # every real window in phase 2 so append mode flushes them all
    sentinel_ts = hi_ts + datetime.timedelta(days=40)
    _write_single_file(
        spark.createDataFrame([(sentinel_ts, "__sentinel__", -1)], schema),
        f"slice{n_slices:02d}.parquet",
    )

    # PHASE 2: restart from the SAME checkpoint, all files visible
    run("slice*.parquet")

    return (
        spark.read.parquet(sink)
        .filter(F.col("event_type") != "__sentinel__")
    )


def langid_scoring_stream(
    spark: SparkSession,
    sf_dir: str,
    sink_table: str = "stream_langid_scores",
) -> DataFrame:
    """Language identification through the REAL streaming runtime
    (round 10): the model is TRAINED batch-side (the realistic
    serving split — training is a bounded job, scoring is the
    stream) on the planted-lexicon corpus, then its weights fold
    into the zero-shuffle expression scorer
    (operators/langid.py::score_langid_expr) — pure column
    expressions, therefore stateless and streaming-legal where the
    aggregate scorer's chained groupBys are not. availableNow
    consumes the bounded fixture; every (doc, prediction, z) row in
    the sink must hash-match the batch/DuckDB derivation, which
    queries/streaming_q.py::stream_langid_scoring_parity checks."""
    from top_produce_etl_spark.operators.langid import (
        score_langid_expr,
        synthesize_lang_corpus,
        train_langid,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    batch_corpus = synthesize_lang_corpus(spark.read.parquet(path))
    model_rows = train_langid(batch_corpus, iters=3).collect()

    stream_corpus = synthesize_lang_corpus(
        _read_fixture_stream(spark, sf_dir, "documents")
    ).withColumnRenamed("lang", "lang_true")
    scored = score_langid_expr(
        stream_corpus, model_rows, extra_cols=("lang_true",)
    )
    return _run_available_now(scored, sink_table, "append")


def frozen_bucket_stream(
    spark,
    sf_dir: str,
    sink_table: str = "stream_frozen_buckets",
):
    """CCNet frozen-cutoff bucketing through the REAL streaming
    runtime (round 11): the reference LM + per-language tercile
    cutoff pairs are trained batch-side on the even-doc_id slice
    (the bounded reference job), then fold into literal maps inside
    the ZERO-SHUFFLE expression scorer
    (operators/textquality.py::score_surprisal_expr — the langid
    streaming precedent): per-document surprisal is an ``aggregate``
    fold over the token array, the bucket one comparison against
    map-looked-up cutoffs. Pure column expressions — stateless,
    hence legal in a streaming query where the tf-join scorer's
    chained groupBys are not. availableNow consumes the bounded
    fixture; every (doc, lang, tokens, score, bucket) row must
    hash-match the DuckDB lifecycle re-derivation
    (queries/streaming_q.py::stream_frozen_buckets_parity)."""
    from top_produce_etl_spark.operators.textquality import (
        score_surprisal_expr,
        surprisal_cutoffs,
        unigram_lm,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    lm_rows = unigram_lm(ref).collect()  # |vocab| rows — model-sized
    ttotal = sum(r["ctotal"] for r in lm_rows)
    cut_rows = surprisal_cutoffs(ref, by=("lang",)).collect()

    def lit_map(field):
        entries = []
        for r in cut_rows:
            if r[field] is not None:
                entries.append(F.lit(r["lang"]))
                entries.append(F.lit(int(r[field])))
        return F.create_map(*entries)

    scored = score_surprisal_expr(
        _read_fixture_stream(spark, sf_dir, "documents"),
        lm_rows,
        ttotal,
        extra_cols=("lang",),
    )
    s = F.col("mean_info_micro")
    i = F.col("doc_id").cast("bigint")
    lang = F.col("lang")

    def le(sm, im):
        return F.coalesce(
            (s < sm[lang]) | ((s == sm[lang]) & (i <= im[lang])),
            F.lit(False),
        )

    bucket = (
        F.when(le(lit_map("c1_score"), lit_map("c1_id")), F.lit("head"))
        .when(
            le(lit_map("c2_score"), lit_map("c2_id")), F.lit("middle")
        )
        .otherwise(F.lit("tail"))
    )
    out = scored.select(
        "doc_id", "lang", "n_tokens", "mean_info_micro",
        bucket.alias("ppl_bucket"),
    )
    return _run_available_now(out, sink_table, "append")


def html_extract_stream(
    spark,
    sf_dir: str,
    sink_table: str = "stream_html_extract",
):
    """HTML main-text extraction through the REAL streaming runtime
    (round 11): the chained-regexp extraction is pure column
    expressions — stateless, hence legal in a streaming query with
    zero state store — so crawl step 0 can run on the live fetch
    stream exactly as in batch. availableNow consumes the bounded
    fixture; every (doc, extracted text, line count) row must
    hash-match the batch/DuckDB derivation
    (queries/streaming_q.py::stream_html_extract_parity)."""
    from top_produce_etl_spark.operators.html import (
        extract_html_text,
        synthesize_html_docs,
    )

    sdf = _read_fixture_stream(spark, sf_dir, "documents")
    x = extract_html_text(synthesize_html_docs(sdf.select("doc_id", "text")))
    out = x.select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "\n", ""))
            + 1
        ).cast("bigint").alias("n_lines"),
    )
    return _run_available_now(out, sink_table, "append")


def robots_gate_stream(
    spark,
    sf_dir: str,
    sink_table: str = "stream_robots_gate",
):
    """robots.txt gating through the REAL streaming runtime (round
    11): the parsed rule dimension is a STATIC relation and the URL
    stream joins it as a stream-static broadcast join — legal in
    append mode with zero state store — so the crawl frontier can
    be gated live exactly as in batch. The per-URL verdict
    (longest-match aggregate) is re-expressed stream-side as a
    pre-aggregated STATIC verdict per (domain, path) class joined
    onto the stream: the fixture's planted classes make that exact,
    and it is the production shape anyway (verdicts per distinct
    URL pattern are a dimension, recomputed when robots change, not
    per fetched row). availableNow consumes the bounded fixture;
    every row must hash-match the batch/DuckDB derivation."""
    from top_produce_etl_spark.operators.robots import (
        parse_robots,
        robots_allowed,
        synthesize_robots_corpus,
    )

    ids = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id")
    robots, urls = synthesize_robots_corpus(ids)
    # static verdict dimension: one row per DISTINCT (domain, path)
    verdicts = (
        robots_allowed(
            urls.select("domain", "path").distinct().withColumn(
                "doc_id", F.lit(0)
            ),
            parse_robots(robots, agent="trainingbot"),
        )
        .select("domain", "path", "allowed", "matched_len")
    )
    _, stream_urls = synthesize_robots_corpus(
        _read_fixture_stream(spark, sf_dir, "documents").select("doc_id")
    )
    out = stream_urls.join(
        F.broadcast(verdicts), ["domain", "path"], "left"
    ).select(
        "doc_id", "domain", "path",
        F.coalesce(F.col("allowed"), F.lit(True)).alias("allowed"),
        F.col("matched_len").cast("int").alias("matched_len"),
    )
    return _run_available_now(out, sink_table, "append")
