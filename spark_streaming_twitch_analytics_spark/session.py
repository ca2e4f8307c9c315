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

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

NIO_FS_SOURCE = Path(__file__).parent / "resources" / "NioLocalFileSystem.java"
NIO_FS_CLASS = "graft.NioLocalFileSystem"


def nio_fs_classes(source: Path = NIO_FS_SOURCE) -> str | None:
    """Directory holding ``source`` compiled against Spark's jars, or None
    (after one warning) when the host has no ``javac`` or the build fails.

    Built once per source sha256 under ``$XDG_CACHE_HOME`` (or
    ``~/.cache``): javac writes into a staging dir inside the cache root,
    which is then renamed into place, so a concurrent build or a TMPDIR on
    another device never leaves a partial directory behind."""
    text = source.read_bytes()
    root = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    root = root / "spark_streaming_twitch_analytics_spark"
    out = root / f"nio-fs-{hashlib.sha256(text).hexdigest()[:16]}"
    if out.is_dir():
        return str(out)
    javac = shutil.which("javac")
    if javac is None:
        return _not_built("no javac on PATH")
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars", "*")
    stage = None
    try:
        root.mkdir(parents=True, exist_ok=True)
        stage = tempfile.mkdtemp(prefix=".stage-", dir=root)
        subprocess.run(
            [javac, "--release", "17", "-cp", jars, "-d", stage, str(source)],
            check=True, capture_output=True, text=True,
        )
        os.replace(stage, out)
    except (OSError, subprocess.CalledProcessError) as e:
        if not out.is_dir():  # else a concurrent build renamed first
            return _not_built(getattr(e, "stderr", None) or str(e))
    finally:
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
    return str(out)


def _not_built(reason: str) -> None:
    logging.getLogger(__name__).warning(
        "%s not built, so file: writes fork chmod: %s", NIO_FS_CLASS, reason
    )


def nio_fs_conf(master: str) -> dict[str, str]:
    """Confs that make ``file:`` paths use :data:`NIO_FS_CLASS` — empty for
    a non-local master or when the class could not be built."""
    if not master.startswith("local"):
        return {}
    classes = nio_fs_classes()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
    }


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
    # `file:` goes through NioLocalFileSystem: a LocalFileSystem that sets
    # permissions with java.nio. Without libhadoop Hadoop forks `chmod`
    # for every file and directory it creates: a JFR recording of one
    # 4-batch drain of the flagship word count showed 181 processes, all
    # chmod, and perfbench counts their CPU. Checksum twins, file modes and
    # the no-overwrite rename of the class Spark's jars register for
    # `file:` (Hive's ProxyLocalFileSystem) are kept. The class path is
    # fixed at JVM launch, so a JVM already up (say, one started by a
    # plain SparkSession.builder) keeps its FS.
    if SparkContext._gateway is None:
        for k, v in nio_fs_conf(master).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
