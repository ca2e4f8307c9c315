"""SparkSession factory.

Mirrors the reference's session knobs (``SparkRunner.scala:30-42``: local
master, large driver memory, kryo buffer) minus hardware-specific values,
and adds the scale-oriented defaults the reference lacks: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for any
pandas exchange, and a UTC session timezone so results compare bit-for-bit
against the DuckDB oracle.

On a real cluster the same factory applies -- only ``master`` and the
shuffle-partition count change (rule of thumb: 2-3x total executor cores,
and AQE coalesces the excess at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark_streaming_twitch_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism,
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` the shuffle width.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus or "32")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # sized for local mode; on a cluster this becomes executor memory
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join handling (the scale
        # story for the skewed keys a 100 TB corpus will have)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer floors partitions at minPartitionSize (default
        # 1 MB) — sized for IO-bound stages. The dedup/ANN verify stages
        # are COMPUTE-dense: a few MB of candidate pairs carry seconds of
        # array-intersect/fold work per MB, and the 1 MB floor coalesced
        # them onto 3-4 cores (measured: dedup_ngram_topk 4.6→2.9 s,
        # dedup_ppjoin_pairs 4.1→2.2 s at sf0.1 with the floor at 64 KB).
        # parallelismFirst (default true) still targets cluster
        # parallelism, so IO-bound stages keep their shape; at 100 TB the
        # same verify stages are small-bytes/heavy-CPU relative to the
        # corpus scan, so the floor matters there for the same reason.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64KB"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for pandas_udf / mapInPandas exchange
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bit-compatible with the DuckDB oracle (UTC-naive timestamps)
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long then convert
        # (tables.load_table) — Spark's TimestampType is microseconds
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming checkpoints (offsets/commits/sources logs, state-store
        # deltas) go through Hadoop FileSystem, not the default FileContext
        # manager. On `file:` FileContext's rename calls getFileLinkStatus,
        # which forks `readlink` twice per file and per `.crc` twin: about
        # 95 of the 142 processes a 12,500-line micro-batch of the flagship
        # word count started, and a third of its CPU time. FileSystem's
        # renameTempFile keeps the no-overwrite check-then-rename, and
        # both checksum layers (Spark's `N.delta.crc`, Hadoop's `.crc`) stay.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
