"""SparkSession factory.

Re-expresses the behavior of the reference session factory
(``src/utils/spark_helper.py:14-56``): a local ``local[*]`` builder
carrying five performance confs (shuffle partitions, AQE, Arrow,
snappy parquet, Kryo) plus optional Hive support, and an
environment-detection seam for managed runtimes. The managed (Glue)
path is out of scope in this environment; the seam is kept so a
deployment wrapper can supply its own session.

Scale posture: shuffle partitions default higher than the
reference's fixed 8 and are parameterized — at 100 TB you size this
(or let AQE coalesce) per stage; locally we default to the core
count. AQE is always on: it handles skew joins, dynamic broadcast
switching, and post-shuffle coalescing at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def detect_environment() -> str:
    """Return ``"managed"`` when running under a managed Spark runtime
    (detected via ``AWS_EXECUTION_ENV``, per the reference's
    ``spark_helper.py:52-56``), else ``"local"``."""
    env = os.environ.get("AWS_EXECUTION_ENV", "")
    return "managed" if "glue" in env.lower() else "local"


def create_spark_session(
    app_name: str = "top-produce-etl-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_hive: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard confs.

    Parameters mirror the reference factory (``spark_helper.py:14-36``)
    with the fixed values promoted to arguments. ``shuffle_partitions``
    defaults to ``$SPARK_GRAFT_CPUS`` or the machine core count —
    AQE's partition coalescing makes the static number mostly moot,
    but a sane ceiling avoids tiny-partition overhead locally and
    seeds AQE's initial plan.

    ``extra_conf`` carries the confs whose right values are deployment
    facts, e.g. ``spark.sql.files.maxPartitionBytes``,
    ``spark.sql.autoBroadcastJoinThreshold`` and
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) handling: on runtimes that still
        # honor the legacy conf, nanos decode as int64 (normalized in
        # io.sources.normalize_event_time); Spark 4 ignores it and
        # reads NTZ natively (normalized by the same helper). Set once
        # here so no reader mutates session state per call.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if enable_hive:
        builder = builder.enableHiveSupport()
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
