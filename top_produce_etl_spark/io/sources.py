"""Source readers.

Config-driven source dispatch generalizing the reference's
``input.source_type`` key (reference ``config/config_prod.yaml:4-6``).
The reference only ever names an S3 prefix; here 's3', 'file' and
bare paths all resolve through the same format readers because Spark
treats them uniformly as Hadoop-FS URIs — filters and column
projections push down into the parquet scan either way.

Scale note: readers never ``inferSchema`` CSV/JSON at full scale
without an explicit opt-in — a schema inference pass is a second
full read of 100 TB. Parquet carries its schema; for text formats
callers pass an explicit schema or accept strings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from top_produce_etl_spark.io import sinks
from top_produce_etl_spark.operators._cache import persist_tracked

# Canonical fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read one table. ``fmt`` ∈ {parquet, orc, csv, json, xml};
    ``source_type`` 's3'/'file' both route here (the URI scheme
    differentiates).

    XML is the Spark 4 NATIVE source (spark-xml was folded into core
    in 4.0) — callers must pass a ``rowTag`` option (default
    ``row``); like CSV/JSON, production reads should pass an explicit
    schema (inference = a second full pass). Avro is deliberately NOT
    dispatched: it ships as an external module (spark-avro jar), so a
    bare session raises a confusing "Failed to find data source";
    this registry surfaces the actionable error instead."""
    if fmt == "avro":
        raise ValueError(
            "avro needs the external spark-avro package on the session "
            "classpath (--packages org.apache.spark:spark-avro_2.13); "
            "add it, then read via spark.read.format('avro') directly"
        )
    if fmt not in ("parquet", "orc", "csv", "json", "xml"):
        raise ValueError(f"unsupported format: {fmt}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        # header=true is the sane default for analyst CSVs; caller
        # options may override it. Schema inference only happens when
        # no schema is given AND the caller opts in via options.
        reader = reader.option("header", "true")
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    if options:
        reader = reader.options(**options)
    if fmt == "xml":
        return reader.format("xml").load(path)
    return getattr(reader, fmt)(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_partition_bytes: str | None = None,
) -> DataFrame:
    """Raw-file ingestion via Spark's built-in ``binaryFile`` source —
    the entry point for multimodal corpora (images/audio/video as
    opaque payloads; operators/multimodal.py consumes this shape).

    Output schema (fixed by the source): ``path``, ``modificationTime``,
    ``length``, ``content: binary``. Scale notes: the source never
    splits a file, so parallelism = |files|; pair with
    ``spark.sql.files.maxPartitionBytes`` (exposed here per-read via
    ``max_partition_bytes``) to pack many small media files per task
    without blowing executor memory on a few huge ones. Column
    pruning applies — a query touching only ``path``/``length``
    never reads file bytes.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_partition_bytes is not None:
        reader = reader.option("maxPartitionBytes", max_partition_bytes)
    return reader.load(path)


def read_text_lines(
    spark: SparkSession,
    path: str,
    wholetext: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Plain-text ingestion (``value: string`` per line, or per file
    with ``wholetext``) — the raw-document entry point upstream of
    the text/dedup operators when the corpus isn't parquet yet."""
    # the wholetext/lineSep switches go through the .text() kwargs —
    # the generic .option() path does not reach this source on all
    # runtimes
    kwargs: dict[str, object] = {"wholetext": wholetext}
    if line_sep is not None:
        kwargs["lineSep"] = line_sep
    return spark.read.text(path, **kwargs)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local time
    zone) regardless of how the parquet encoding was decoded:

    - ``bigint`` — legacy ``nanosAsLong`` environments hand back raw
      int64 nanos; rebuild micros with integer division (``div`` —
      float division would lose precision above 2^53 ns; truncation
      matches DuckDB's nanos→micros read).
    - ``timestamp_ntz`` — Spark 4 reads parquet TIMESTAMP(NANOS)
      natively as NTZ, but ``withWatermark`` (and every event-time
      streaming operator) requires the LTZ TIMESTAMP type. The
      session time zone is pinned to UTC (session.py), so the cast
      is value-preserving wall-clock-wise.
    - ``timestamp`` — already LTZ, leave untouched.

    Used by both the batch loader and the stream source so batch
    twins and streams always agree on the event-time dtype.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from a scale-factor directory.

    The ``events`` fixture stores ``ts`` as parquet TIMESTAMP(NANOS);
    depending on Spark version/conf that decodes as int64 nanos,
    TIMESTAMP_NTZ, or TIMESTAMP — :func:`normalize_event_time`
    branches on the actual dtype so all three encodings land on the
    LTZ TIMESTAMP type. (The ``nanosAsLong`` legacy conf, where the
    runtime still honors it, is set once at session build —
    session.py — not mutated per read.)
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    return normalize_event_time(spark.read.parquet(path))


def load_star(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load the fixture star schema as a dict of DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in tables}


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Restore parallelism after an UNSPLITTABLE narrow scan.

    A single-row-group parquet file (or a gzip text file) scans as
    ONE task no matter how many cores the cluster has, serializing
    every downstream map-side expression until the first exchange
    (guide §2.5 "input skew": fix at the source if you can,
    otherwise repartition immediately after the read). This helper
    is that repartition, made SCALE-ADAPTIVE instead of a local
    constant:

    - the target is the scheduler's ``defaultParallelism`` (the
      core count on local[k] — so the driver's lower-core bench run
      fans out to ITS width, not ours), overridable per call;
    - it is a NO-OP whenever the plan already has at least that many
      partitions — at production scale a 100 TB table scans as
      thousands of splits and this never fires, so the round-robin
      exchange (a few MB here) is never paid where it would hurt.

    Only apply where downstream results are partitioning-invariant —
    the repo-wide determinism contract for every oracle-checked
    operator (exact decimal/integer accumulation, row-local doubles,
    rank/tiebreak ordering) — which is what makes the rewrite
    output-identical.

    Apply directly above a scan / narrow plan only: the partition
    probe converts the plan to an RDD, which is unsupported under
    Spark Connect and — with AQE — eagerly materializes any upstream
    query stages (shuffle/broadcast subtrees would execute at
    plan-build time; harmless inside one query's run, but the probe
    is not free there). Every shipped call site sits on a narrow
    projection over a scan or an already-persisted relation.
    """
    if partitions is not None and partitions < 1:
        raise ValueError(f"partitions must be >= 1, got {partitions}")
    sc = df.sparkSession.sparkContext
    target = partitions if partitions is not None else sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def read_table_evolved(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read a table whose files were written under EVOLVING schemas
    (columns added over time — the normal life of a long-lived
    ingest directory): ``mergeSchema=true`` unions the per-file
    schemas; rows from files lacking a column read NULL there.

    Scale note: schema merging reads every file's FOOTER at planning
    time (not the data) — O(|files|) driver-side planning cost, which
    is why Spark defaults it off. Use for the evolving-ingest case;
    once a table is compacted/republished (io/sinks.py:compact_table)
    the schemas converge and the plain reader applies again. Only
    parquet/orc carry per-file schemas; other formats reject.
    """
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"schema merge requires parquet/orc, got {fmt}")
    reader = spark.read.option("mergeSchema", "true")
    if options:
        reader = reader.options(**options)
    return getattr(reader, fmt)(path)


def _in_range(entry: dict, col: str, lo, hi) -> bool:
    """The manifest file-skipping rule: keep a file entry unless its
    stored [min, max] for ``col`` proves no row is in [lo, hi]. No
    stats → keep (conservative); ``[null, null]`` (all nulls) → skip,
    a range predicate never matches nulls; otherwise interval
    overlap, with ``None`` bounds open."""
    st = (entry.get("stats") or {}).get(col)
    if st is None:
        return True
    fmin, fmax = st
    lo, hi = sinks._j(lo), sinks._j(hi)
    return not (
        (fmin is None and fmax is None)
        or (hi is not None and fmin is not None and fmin > hi)
        or (lo is not None and fmax is not None and fmax < lo)
    )


def load_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    fmt: str = "parquet",
) -> DataFrame:
    """Manifest-pruned range scan: read ONLY the files whose stored
    per-file [min, max] for ``col`` (written by
    io.sinks.write_manifest(stats_cols=...)) overlaps [lo, hi] —
    file skipping decided from a sidecar KB, before any data file is
    opened. This is the Iceberg/Delta data-skipping pattern without
    a catalog: at 100 TB a selective range predicate on a
    range-partitioned write touches a handful of files instead of
    listing-then-footer-checking all of them. Parquet row-group
    min/max pruning still applies WITHIN the chosen files.

    A file with no stats for ``col`` is conservatively kept; a file
    whose stats are [null, null] (all nulls) is skipped — a range
    predicate never matches nulls. The residual predicate is still
    applied, so the result is exactly ``read(path).filter(range)``.
    Manifest entries are paths relative to the table root, so
    partitioned tables are supported: the kept files are read with
    ``basePath`` at the root and keep their partition columns.
    """
    manifest = sinks.read_manifest_json(spark, path)
    keep = [f for f in manifest["files"] if _in_range(f, col, lo, hi)]
    if keep:
        df = sinks._load_files(spark, path, [f["name"] for f in keep], fmt)
    else:
        # nothing overlaps: preserve the schema, return no rows
        df = spark.read.format(fmt).load(path).limit(0)
    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df


def load_snapshot(
    spark: SparkSession, path: str, version: int, fmt: str = "parquet"
) -> DataFrame:
    """Time-travel read: load EXACTLY the files recorded in
    ``_manifest.v<version>.json`` (io.sinks.snapshot_manifest) —
    later appends are invisible, so the result is the table as of
    the snapshot. Entries are paths relative to the table root, so a
    partitioned table reads back with its partition columns. Valid
    as long as no rewrite (compaction/overwrite) has replaced the
    snapshot's files; integrity-check the read with the snapshot's
    stored fingerprint when it matters."""
    manifest = sinks._read_sidecar(spark, path, f"_manifest.v{version}.json")
    return sinks._load_files(
        spark, path, [f["name"] for f in manifest["files"]], fmt
    )


def pruning_report(spark, path: str, col: str, lo=None, hi=None) -> dict:
    """What would a manifest-pruned range scan skip? Returns
    ``{n_files, n_kept, n_skipped, bytes_total, bytes_kept}``
    decided from the sidecar alone — the observability companion to
    :func:`load_pruned` for choosing layout (is the table range-
    clustered enough on ``col`` for skipping to pay?)."""
    manifest = sinks.read_manifest_json(spark, path)
    keep = [f for f in manifest["files"] if _in_range(f, col, lo, hi)]
    return {
        "n_files": manifest["n_files"],
        "n_kept": len(keep),
        "n_skipped": len(manifest["files"]) - len(keep),
        "bytes_total": manifest["total_bytes"],
        "bytes_kept": sum(f["bytes"] for f in keep),
    }


def read_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "json",
    corrupt_col: str = "_corrupt_record",
    options: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dirty-ingest pattern for semi-structured sources: PERMISSIVE
    parse with corrupt-record capture, split into (good, quarantine).

    A 100 TB JSON/CSV ingest ALWAYS contains malformed lines;
    FAILFAST kills the job on the first one and DROPMALFORMED loses
    them silently — the production shape is to land good rows and
    QUARANTINE the raw text of bad ones for replay after a parser
    fix (same reasoning as the sink's idempotent-append design:
    never drop data you can't re-derive).

    Returns ``(good, bad)``: ``good`` has exactly ``schema``'s
    columns; ``bad`` keeps the FULL row — whatever fields PERMISSIVE
    salvaged (nulls where parsing failed) plus the verbatim raw line
    in ``corrupt_col``. The parsed frame is persisted before the
    split through ``operators._cache`` (MEMORY_AND_DISK, spilling as
    needed); materialize both legs inside ``pipeline_session()``, or
    every looped/repeated ingest accumulates a full cached copy of
    the landing zone for the session's lifetime. Spark refuses any
    query whose pruned SOURCE schema is only the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and both
    the bad leg's filter and a caller's ``bad.count()`` prune to
    exactly that — the cache boundary pins the full-row parse, which
    is also Spark's documented remedy. Cost: one materialization of
    the parsed landing zone, amortized across both legs (the
    alternative at extreme scale is a write-side split:
    foreachBatch/partitioned write of both legs in one pass).

    Reference parity: the reference's loader
    (src/utils/spark_helper.py) reads trusted parquet only; this is
    part of the beyond-reference raw-ingestion surface.
    """
    from pyspark.sql.types import StringType, StructField

    if not isinstance(schema, StructType):
        raise TypeError("read_quarantine needs an explicit StructType")
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"{corrupt_col!r} collides with a schema field")
    # NOT schema.add(): that appends IN PLACE and would mutate the
    # caller's schema object
    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())]
    )
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = persist_tracked(reader.format(fmt).load(path))
    good = df.where(F.col(corrupt_col).isNull()).select(
        *[F.col(f) for f in schema.fieldNames()]
    )
    bad = df.where(F.col(corrupt_col).isNotNull())
    return good, bad
