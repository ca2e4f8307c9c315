"""``tables.load_table`` schema cache: an open after the first one of the
same file launches no Spark job, a rewritten file is inferred again, and
the casts that follow the read still apply."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_twitch_analytics_spark import tables


def _open_jobs(spark, sf_dir: str, name: str, group: str):
    """load_table under a job group → (DataFrame, ids of the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "load_table")
    try:
        df = tables.load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_open_runs_no_job_and_reads_the_same(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["AFRICA", "ASIA", "EUROPE"]}),
        os.path.join(sf, "region.parquet"),
    )
    first, jobs1 = _open_jobs(spark, sf, "region", "schema-cache-first")
    second, jobs2 = _open_jobs(spark, sf, "region", "schema-cache-second")
    assert len(jobs1) >= 1  # the first open infers the schema
    assert jobs2 == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    assert sorted(second.collect()) == [(0, "AFRICA"), (1, "ASIA"), (2, "EUROPE")]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": [1, 2]}), path)
    before = tables.load_table(spark, sf, "nation")
    assert before.columns == ["n_nationkey"]
    mtime_ns = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"n_nationkey": [3], "n_name": ["PERU"]}), path)
    # a rewrite within the filesystem's timestamp granularity must still
    # change the key
    os.utime(path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    after, jobs = _open_jobs(spark, sf, "nation", "schema-cache-rewrite")
    assert len(jobs) >= 1
    assert after.columns == ["n_nationkey", "n_name"]
    assert [tuple(r) for r in after.collect()] == [(3, "PERU")]


def test_events_nanos_timestamps_still_read_as_timestamp(spark, tmp_path):
    sf = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        os.path.join(sf, "events.parquet"),
    )
    for _ in range(2):  # the inferring open and the cached one
        df = tables.load_table(spark, sf, "events")
        assert df.schema["ts"].dataType == T.TimestampType()
        got = df.orderBy("event_id").select(F.unix_micros("ts")).collect()
        assert [r[0] for r in got] == [n // 1000 for n in ns]


def test_missing_column_raises_analysis_exception_naming_it(spark):
    """A typo on a loaded table fails at analysis, and the message names
    the column: pinned before the Python call-site capture is turned off."""
    from conftest import SF_SMALL

    docs = tables.load_table(spark, SF_SMALL, "documents")
    with pytest.raises(AnalysisException, match="no_such_column"):
        docs.select("doc_id", "no_such_column")
