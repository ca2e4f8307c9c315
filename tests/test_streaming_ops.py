"""Stream-static enrichment and watermarked streaming dedup — the two
streaming relational extensions (streaming/ops.py). Oracle style follows
SURVEY §5: the streaming result must equal the equivalent batch query
over the same rows."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.streaming.ops import (
    dedup_stream,
    enrich_with_dim,
    interval_join,
)
from tests.test_windows_streaming import stream, write_events


def test_stream_static_enrichment_broadcasts(spark, tmp_path):
    src = str(tmp_path / "ev")
    write_events(
        src,
        1,
        [
            ("2024-01-01T10:05:00", "click", 1, 1.0),
            ("2024-01-01T10:06:00", "view", 2, 2.0),
            ("2024-01-01T10:07:00", "click", 9, 3.0),  # no dim row → null
        ],
    )
    dim = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "user_id long, user_name string"
    )
    out = enrich_with_dim(stream(spark, src), dim, "user_id")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: r["user_name"] for r in spark.table("enriched").collect()
        }
        assert got == {1: "alice", 2: "bob", 9: None}
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Impressions (left) join clicks (right) on user within 10 minutes
    AFTER the impression — the canonical stream-stream interval join.
    A click outside the interval must not match."""
    imp_src, clk_src = str(tmp_path / "imp"), str(tmp_path / "clk")
    write_events(imp_src, 1, [("2024-01-01T10:00:00", "imp", 1, 0.0),
                              ("2024-01-01T10:00:00", "imp", 2, 0.0)])
    write_events(clk_src, 1, [("2024-01-01T10:05:00", "click", 1, 1.0),
                              ("2024-01-01T10:30:00", "click", 2, 2.0)])
    joined = interval_join(
        stream(spark, imp_src), stream(spark, clk_src), key="user_id"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("ij").collect()
        # user 1's click is 5 min after the impression → joins;
        # user 2's click is 30 min after → outside the interval, dropped
        assert [(r["user_id"], r["event_type_r"]) for r in rows] == [(1, "click")]
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "ev")
    write_events(
        src,
        1,
        [
            ("2024-01-01T10:05:00", "click", 1, 1.0),
            ("2024-01-01T10:05:00", "click", 1, 1.0),  # in-batch duplicate
            ("2024-01-01T10:06:00", "view", 2, 2.0),
        ],
    )
    out = dedup_stream(stream(spark, src), ["event_type", "user_id"], "ts")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_t")
        .start()
    )
    try:
        q.processAllAvailable()
        # cross-batch duplicate within the 10-minute horizon → dropped too
        write_events(src, 2, [("2024-01-01T10:07:00", "click", 1, 9.0)])
        q.processAllAvailable()
        rows = spark.table("dedup_stream_t").collect()
        keys = sorted((r["event_type"], r["user_id"]) for r in rows)
        assert keys == [("click", 1), ("view", 2)]  # one row per id
        # streaming dedup ≡ batch dropDuplicates over the same rows (ids)
        batch = spark.read.schema(stream(spark, src).schema).json(src)
        expect = sorted(
            (r["event_type"], r["user_id"])
            for r in batch.dropDuplicates(["event_type", "user_id"]).collect()
        )
        assert keys == expect
    finally:
        q.stop()


def _interval_join_runs(spark, sf: str, splits: tuple[int, ...]) -> list[set]:
    """The registry's click→purchase interval join run through the stream
    harness once per feeder split, as a set of (click, user, purchase)."""
    from spark_streaming_twitch_analytics_spark.registry import (
        _SSJOIN_WITHIN,
        _run_stream_over_events,
    )

    def build(stream):
        left = stream.filter(F.col("event_type") == "click")
        right = stream.filter(F.col("event_type") == "purchase")
        return interval_join(
            left, right, "user_id", within=_SSJOIN_WITHIN, watermark="3650 days"
        ).select("event_id", "user_id", "event_id_r")

    return [
        {tuple(r) for r in _run_stream_over_events(spark, sf, build, n_files=n).collect()}
        for n in splits
    ]


@pytest.mark.slow  # builder-side per-round ritual (see pytest.ini)
def test_registered_interval_join_is_split_invariant(spark):
    """The registry harness result must not depend on how the feeder
    split the files into micro-batches: the interval-condition inner
    join emits every match once whether the sides arrive in 2 batches
    or 7."""
    runs = _interval_join_runs(spark, "/root/testdata/sf0.01", (2, 7))
    assert runs[0] == runs[1]
    assert runs[0]  # non-trivial: matches exist at this SF


def test_registered_interval_join_is_split_invariant_smoke(spark):
    """Default-suite twin of the sweep above at sf0.001: 2 vs 3 feeder
    files give the same matches, and there are some (DuckDB finds 2)."""
    runs = _interval_join_runs(spark, "/root/testdata/sf0.001", (2, 3))
    assert runs[0] == runs[1]
    assert runs[0]


def test_streaming_window_anomaly_is_split_invariant_and_thresholded(spark):
    """Every emitted row exceeds the threshold, and a full replay
    (fresh feeder files + fresh state store) reproduces the anomaly
    set bit-for-bit — the streamed window moments are exact integers,
    so the state outcome does not depend on the run."""
    from spark_streaming_twitch_analytics_spark import registry

    rows = registry.get("streaming_window_anomaly").fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows  # non-trivial at this SF
    assert all(abs(r["z"]) >= 2.0 for r in rows)
    # full replay (fresh feeder + fresh memory sink): identical set
    again = registry.get("streaming_window_anomaly").fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}
