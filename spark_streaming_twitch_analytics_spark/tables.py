"""Testdata star-schema loaders.

One parquet file per table under a scale-factor directory (see
``TESTDATA.md``). Loading stays lazy, so Catalyst can push filters and
prune columns into the scan, and reads with a supplied schema: inferring
one costs a Spark job per open (the parquet footer read), which is most
of the open time. The inferred schema is cached in this module per
file, valid for the file's ``(path, st_mtime_ns, st_size)``: the first
open of a file infers it, later opens reuse it, and a rewritten file is
inferred again. The key does not cover the session confs that shape
inference (``ensure_session_conf`` pins the one the tables need,
nanosAsLong).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path → (st_mtime_ns, st_size, inferred schema); one entry per file
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def ensure_session_conf(spark: SparkSession) -> None:
    """Session confs the queries depend on, applied defensively — the
    driver may hand us a session built without our factory. All three are
    runtime-settable SQL confs (not static):

    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), unreadable by
      Spark 4 otherwise;
    - UTC timezone: timestamp formatting must match the (UTC-naive)
      DuckDB oracle;
    - AQE on: the scale posture assumes runtime re-planning.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # locked-down session: proceed with its settings


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key, stamp = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    cached = _SCHEMAS.get(key)
    if cached is None or cached[:2] != stamp:
        cached = _SCHEMAS[key] = (*stamp, spark.read.parquet(path).schema)
    df = spark.read.schema(cached[2]).parquet(path)
    from pyspark.sql import functions as F

    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            # TIMESTAMP(NANOS) parquet read via nanosAsLong; truncate to
            # the microsecond TimestampType (same truncation DuckDB applies)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            # Parquet timestamp[us] without tz reads as TIMESTAMP_NTZ under
            # Spark 4's inferTimestampNTZ; the cast is exact because the
            # session timezone is pinned to UTC (ensure_session_conf), and
            # keeps epoch functions (unix_micros etc.) applicable.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
