"""Structured Streaming behavior (SURVEY ST1-ST8, FIXTURES §A7):
scripted micro-batches through a real file-stream source, asserting

- running count state ≡ batch count over the prefix (ST4/A4),
- snapshot-overwrite sink per epoch (ST5),
- update-mode merge sink equivalence,
- restore-on-start via the KV store's empty-fallback read (S4),
- KV store TTL expiry + fallback (S3/S4).
"""

from __future__ import annotations

import time

import pytest

from spark_streaming_twitch_analytics_spark.sources.irc import (
    file_line_source,
    format_privmsg,
    write_batch_file,
)
from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore
from spark_streaming_twitch_analytics_spark.streaming import wordcount as SW

B1 = [
    format_privmsg(1000, "u1", "chan", "alpha bravo alpha"),
    format_privmsg(1001, "u2", "chan", "bravo charlie"),
]
B2 = [
    format_privmsg(2000, "u1", "chan", "alpha delta"),
    format_privmsg(2001, "u3", "chan", "the charlie charlie"),
]
B3 = [format_privmsg(3000, "u2", "chan", "echoes alpha")]


def counts_of(df):
    return {r["word"]: r["cnt"] for r in df.collect()}


def test_running_counts_match_batch_prefix(spark, tmp_path):
    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    write_batch_file(src, B1, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.memory_sink_query(counts, "running_wc", mode="complete")
    try:
        q.processAllAvailable()
        got1 = counts_of(spark.table("running_wc"))
        want1 = counts_of(SW.batch_oracle_word_counts(spark, B1))
        assert got1 == want1

        write_batch_file(src, B2, 2)
        q.processAllAvailable()
        got2 = counts_of(spark.table("running_wc"))
        want2 = counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
        assert got2 == want2
        assert got2["alpha"] == 3 and got2["charlie"] == 3
        assert "the" not in got2  # stopword dropped (N3)
    finally:
        q.stop()
    del chk


def test_snapshot_sink_overwrites_full_state(spark, tmp_path):
    src, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    store = KVTableStore(spark, str(tmp_path / "store"))
    write_batch_file(src, B1, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.run_snapshot_query(counts, store, "wc", chk)
    try:
        q.processAllAvailable()
        snap1 = counts_of(store.get_table("wc", SW.COUNT_SCHEMA))
        assert snap1 == counts_of(SW.batch_oracle_word_counts(spark, B1))
        write_batch_file(src, B2, 2)
        q.processAllAvailable()
        snap2 = counts_of(store.get_table("wc", SW.COUNT_SCHEMA))
        # Overwrite semantics: the table IS the full running state
        assert snap2 == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
    finally:
        q.stop()


def test_update_merge_sink_equals_snapshot(spark, tmp_path):
    src, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    store = KVTableStore(spark, str(tmp_path / "store"))
    write_batch_file(src, B1, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.run_merge_query(counts, store, "wc", chk)
    try:
        q.processAllAvailable()
        write_batch_file(src, B2, 2)
        q.processAllAvailable()
        write_batch_file(src, B3, 3)
        q.processAllAvailable()
        got = counts_of(store.get_table("wc", SW.COUNT_SCHEMA))
        assert got == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2 + B3))
    finally:
        q.stop()


def test_restore_on_start_continues_from_store(spark, tmp_path):
    store = KVTableStore(spark, str(tmp_path / "store"))
    # phase 1: a previous "run" left totals in the store
    prev = SW.batch_oracle_word_counts(spark, B1)
    store.write(prev, "wc", mode="overwrite")
    # phase 2: new job, FRESH checkpoint, new data only
    src, chk = str(tmp_path / "in2"), str(tmp_path / "chk2")
    write_batch_file(src, B2, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.run_restore_snapshot_query(counts, store, "wc", chk)
    try:
        q.processAllAvailable()
        got = counts_of(store.get_table("wc", SW.COUNT_SCHEMA))
        assert got == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
    finally:
        q.stop()


def test_checkpoint_resume_no_double_count(spark, tmp_path):
    src, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    store = KVTableStore(spark, str(tmp_path / "store"))
    write_batch_file(src, B1, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.run_snapshot_query(counts, store, "wc", chk)
    q.processAllAvailable()
    q.stop()
    # restart with the SAME checkpoint; add one more batch
    write_batch_file(src, B2, 2)
    counts2 = SW.streaming_word_counts(file_line_source(spark, src))
    q2 = SW.run_snapshot_query(counts2, store, "wc", chk)
    try:
        q2.processAllAvailable()
        got = counts_of(store.get_table("wc", SW.COUNT_SCHEMA))
        # state store survives restart: still exactly prefix counts
        assert got == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
    finally:
        q2.stop()


def test_kv_store_fallback_and_ttl(spark, tmp_path):
    store = KVTableStore(spark, str(tmp_path / "store"))
    # missing table → empty DF of the requested schema (S4)
    empty = store.get_table("nope", SW.COUNT_SCHEMA)
    assert empty.count() == 0 and empty.schema == SW.COUNT_SCHEMA
    # ttl expiry → fallback too (reference raw/clean tables had ttl=1s)
    df = spark.createDataFrame([("w", 1)], SW.COUNT_SCHEMA)
    store.write(df, "t", ttl=1)
    assert store.get_table("t", SW.COUNT_SCHEMA).count() == 1
    time.sleep(1.2)
    assert store.get_table("t", SW.COUNT_SCHEMA).count() == 0


def test_streaming_category_counts(spark, tmp_path):
    from spark_streaming_twitch_analytics_spark.functions import scoring

    src = str(tmp_path / "in")
    write_batch_file(src, B1, 1)
    cats = SW.streaming_category_counts(
        file_line_source(spark, src),
        lambda text: scoring.decode_categories(scoring.hash_scores(text)),
    )
    q = SW.memory_sink_query(cats, "cat_wc", mode="complete")
    try:
        q.processAllAvailable()
        rows = spark.table("cat_wc").collect()
        assert rows and all(r["category"].startswith("cat_") for r in rows)
    finally:
        q.stop()


def test_dual_branch_fanout_shares_one_scan(spark, tmp_path):
    from spark_streaming_twitch_analytics_spark.functions import scoring

    src, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    store = KVTableStore(spark, str(tmp_path / "store"))
    write_batch_file(src, B1, 1)
    q = SW.run_dual_branch_query(
        file_line_source(spark, src),
        store,
        lambda text: scoring.decode_categories(scoring.hash_scores(text)),
        chk,
    )
    try:
        q.processAllAvailable()
        write_batch_file(src, B2, 2)
        q.processAllAvailable()
        words = counts_of(store.get_table("wordcount", SW.COUNT_SCHEMA))
        assert words == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
        from pyspark.sql import types as T

        cat_schema = T.StructType(
            [
                T.StructField("category", T.StringType()),
                T.StructField("cnt", T.LongType()),
            ]
        )
        cats = store.get_table("categoryCount", cat_schema).collect()
        assert cats and all(r["category"].startswith("cat_") for r in cats)
        # category totals across both batches == number of scored messages
        # times their per-message label count: cross-check via batch compute
        from spark_streaming_twitch_analytics_spark.operators.messages import (
            format_raw_messages,
        )
        from pyspark.sql import functions as F

        raw = spark.createDataFrame([(x,) for x in B1 + B2], "value string")
        want = {
            r["category"]: r["cnt"]
            for r in format_raw_messages(raw)
            .select(
                F.explode(
                    scoring.decode_categories(scoring.hash_scores(F.col("text")))
                ).alias("category")
            )
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert {r["category"]: r["cnt"] for r in cats} == want
    finally:
        q.stop()


def test_rate_source_lines_parse_shape(spark):
    # the rate→IRC mapping must produce lines the parser round-trips;
    # validated on a rate-shaped STATIC frame (same expressions) to stay
    # deterministic — the live rate source is unbounded by design
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.operators.messages import (
        format_raw_messages,
    )

    base = spark.range(5).select(
        F.col("id").alias("value"),
        F.timestamp_millis(F.lit(1700000000000) + F.col("id") * 100).alias(
            "timestamp"
        ),
    )
    user = F.concat(F.lit("u"), (F.col("value") % 7).cast("string"))
    line = F.concat(
        F.unix_millis(F.col("timestamp")).cast("string"),
        F.lit(":"), user, F.lit("!"), user,
        F.lit("@tmi PRIVMSG #"), F.lit("chan"), F.lit(" :msg "),
        (F.col("value") % 31).cast("string"),
    )
    parsed = format_raw_messages(base.select(line.alias("value"))).collect()
    assert [r["text"] for r in parsed] == [f"msg {i}" for i in range(5)]
    assert all(r["channel"] == "#chan" for r in parsed)
    assert parsed[0]["timestamp"] == "1700000000000"


def test_rocksdb_state_store_provider(spark, tmp_path):
    # the production state backend at scale: running counts must behave
    # identically on RocksDB-backed state
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "in")
        write_batch_file(src, B1, 1)
        counts = SW.streaming_word_counts(file_line_source(spark, src))
        q = SW.memory_sink_query(counts, "rocks_wc", mode="complete")
        try:
            q.processAllAvailable()
            write_batch_file(src, B2, 2)
            q.processAllAvailable()
            got = counts_of(spark.table("rocks_wc"))
            assert got == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
        finally:
            q.stop()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_apply_delta_once_skips_replayed_epoch(spark, tmp_path):
    from spark_streaming_twitch_analytics_spark.streaming.wordcount import (
        COUNT_SCHEMA,
        apply_delta_once,
    )

    store = KVTableStore(spark, str(tmp_path / "store"))
    delta = spark.createDataFrame([("hello", 2), ("world", 1)], COUNT_SCHEMA)

    assert apply_delta_once(store, "wc", COUNT_SCHEMA, delta, "word", "cnt", 0)
    # at-least-once foreachBatch: the SAME epoch fires again after a
    # failure → must be a no-op, not a double add
    assert not apply_delta_once(store, "wc", COUNT_SCHEMA, delta, "word", "cnt", 0)
    got = {r["word"]: r["cnt"] for r in store.get_table("wc", COUNT_SCHEMA).collect()}
    assert got == {"hello": 2, "world": 1}

    # the next epoch DOES merge
    assert apply_delta_once(store, "wc", COUNT_SCHEMA, delta, "word", "cnt", 1)
    got = {r["word"]: r["cnt"] for r in store.get_table("wc", COUNT_SCHEMA).collect()}
    assert got == {"hello": 4, "world": 2}

    # guard is per table: a fresh table accepts epoch 1 independently
    assert apply_delta_once(store, "cc", COUNT_SCHEMA, delta, "word", "cnt", 1)


def test_running_counts_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend: the same running count on the RocksDB
    state-store provider (state spills to executor-local disk instead of
    living on-heap — the prod config for unbounded key domains)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "in")
        write_batch_file(src, B1, 1)
        counts = SW.streaming_word_counts(file_line_source(spark, src))
        q = SW.memory_sink_query(counts, "rocks_wc", mode="complete")
        try:
            q.processAllAvailable()
            write_batch_file(src, B2, 2)
            q.processAllAvailable()
            got = counts_of(spark.table("rocks_wc"))
            assert got == counts_of(SW.batch_oracle_word_counts(spark, B1 + B2))
            # the provider actually engaged: rocksdb metrics in progress
            sops = (q.lastProgress or {}).get("stateOperators", [])
            assert sops and any(
                "rocksdb" in k.lower()
                for s in sops
                for k in (s.get("customMetrics") or {})
            )
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_running_counts_invariant_to_batch_split(spark, tmp_path):
    """Micro-batch boundaries are an execution detail: any split of the
    same line stream must converge to the same running state (the
    property that makes replay/backfill safe)."""
    import random

    rng = random.Random(23)
    lines = [
        format_privmsg(1000 + i, f"u{i % 5}", "chan", t)
        for i, t in enumerate(
            rng.choice(
                [
                    "alpha bravo alpha",
                    "bravo charlie delta",
                    "echoes alpha whisper",
                    "delta delta field",
                    "the a an stopwords",
                ]
            )
            for _ in range(30)
        )
    ]
    want = counts_of(SW.batch_oracle_word_counts(spark, lines))
    for trial in range(3):
        cuts = sorted(rng.sample(range(1, len(lines)), rng.randint(1, 6)))
        batches = [
            lines[a:b] for a, b in zip([0] + cuts, cuts + [len(lines)]) if lines[a:b]
        ]
        src = str(tmp_path / f"in{trial}")
        counts = SW.streaming_word_counts(file_line_source(spark, src))
        q = SW.memory_sink_query(counts, f"split_wc_{trial}", mode="complete")
        try:
            for bi, batch in enumerate(batches):
                write_batch_file(src, batch, bi)
                q.processAllAvailable()
            got = counts_of(spark.table(f"split_wc_{trial}"))
        finally:
            q.stop()
        assert got == want, (trial, cuts)


def test_vocab_expand_multiplies_distinct_words(spark):
    """The state-scale probe's cardinality knob: ×E expansion must
    multiply the distinct tokenizable words by ~E while keeping the
    token COUNT per document fixed (suffixes are letters-only, so the
    [a-z]+ tokenizer keeps word+suffix as one token)."""
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.streaming.probe import (
        _vocab_expand,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(60)], "doc_id long, text string"
    )

    def stats(df):
        w = df.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("w")
        )
        return w.count(), w.distinct().count()

    n1, d1 = stats(_vocab_expand(docs, 1))
    n30, d30 = stats(_vocab_expand(docs, 30))
    assert (n1, d1) == (180, 3)
    assert n30 == 180  # volume pinned
    assert d30 == 90  # 3 words x 30 suffix codes


def test_state_scale_probe_runs_both_providers(spark, tmp_path):
    """measure_state_scale must produce a populated grid under BOTH the
    HDFS-backed and RocksDB providers, with state_rows growing with the
    expansion and the provider conf restored afterwards."""
    from spark_streaming_twitch_analytics_spark.streaming.probe import (
        _PROVIDER_CONF,
        measure_state_scale,
    )

    before = spark.conf.get(_PROVIDER_CONF, None)
    r = measure_state_scale(
        spark,
        "/root/testdata/sf0.001",
        expansions=(1, 10),
        replicate=2,
        n_files=2,
    )
    cells = r["cells"]
    assert set(cells) == {"hdfs_x1", "hdfs_x10", "rocksdb_x1", "rocksdb_x10"}
    for tag, c in cells.items():
        assert c["state_rows"] and c["state_rows"] > 0, tag
        assert c["lines_per_sec"] > 0, tag
        assert c["n_batches"] > 0, tag
    # same dataflow, same data => both providers hold identical state
    assert cells["hdfs_x1"]["state_rows"] == cells["rocksdb_x1"]["state_rows"]
    assert cells["hdfs_x10"]["state_rows"] == cells["rocksdb_x10"]["state_rows"]
    # expansion grew the key cardinality materially
    assert cells["hdfs_x10"]["state_rows"] > 3 * cells["hdfs_x1"]["state_rows"]
    assert spark.conf.get(_PROVIDER_CONF, None) == before


def test_stream_probe_reports_phase_medians_per_run(spark):
    """measure_stream_throughput keeps, per run, the median of each
    recentProgress durationMs phase and of the state commit time, so a
    bench summary shows which trigger layer moved."""
    from conftest import SF_SMALL

    from spark_streaming_twitch_analytics_spark.streaming.probe import (
        PHASES,
        measure_stream_throughput,
    )

    r = measure_stream_throughput(spark, SF_SMALL, replicate=2, n_files=2, runs=2)
    assert len(r["phase_ms_runs"]) == 2
    for run in r["phase_ms_runs"]:
        assert set(run) == {*PHASES, "stateCommit"}
        assert all(isinstance(v, int) and v >= 0 for v in run.values()), run
        assert run["addBatch"] > 0


CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _drain_two_batches(spark, tmp_path) -> str:
    """The flagship snapshot stream over two micro-batches; returns its
    checkpoint dir."""
    src, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    store = KVTableStore(spark, str(tmp_path / "store"))
    write_batch_file(src, B1, 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.run_snapshot_query(counts, store, "wc", chk)
    try:
        q.processAllAvailable()
        write_batch_file(src, B2, 2)
        q.processAllAvailable()
    finally:
        q.stop()
    return chk


def test_flagship_drain_forks_no_chmod_or_readlink(spark, tmp_path):
    """The flagship stream's file writes must not shell out. Checkpoint
    commits through FileContext fork `readlink` per temp file and per
    `.crc` twin; Hadoop's stock `file:` setPermission forks `chmod` for
    every file and directory it creates (state deltas, logs, the KV
    snapshot parquet): 181 per 4-batch `chat_backlog` drain. JFR's
    jdk.ProcessStart events record every process the JVM starts."""
    from spark_streaming_twitch_analytics_spark.session import NIO_FS_CLASS

    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == NIO_FS_CLASS
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        # the recording's positive control: a process it must see
        jvm.java.lang.ProcessBuilder(["true"]).start().waitFor()
        _drain_two_batches(spark, tmp_path)
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "process_start.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    programs = [e.getString("command").split()[0] for e in events]
    assert "true" in programs
    assert "chmod" not in programs, programs.count("chmod")
    assert "readlink" not in programs, programs.count("readlink")


def test_checkpoint_manager_keeps_no_overwrite_and_checksums(spark, tmp_path):
    """What the FileSystem checkpoint manager must still guarantee: the
    session resolves to it, an atomic create never overwrites an existing
    file, and a drained state store keeps Spark's `N.delta.crc` checksum
    next to Hadoop's `.N.delta.crc` twin."""
    import os

    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = cfm.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), conf
    )
    assert manager.getClass().getName() == CKPT_MANAGER

    target = tmp_path / "atomic"
    for i in range(2):
        out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(str(target)), False)
        out.write(bytearray(b"write %d" % i))
        if i == 0:
            out.close()
        else:
            with pytest.raises(Py4JJavaError, match="already exists"):
                out.close()
    assert target.read_bytes() == b"write 0"

    chk = _drain_two_batches(spark, tmp_path / "stream")
    files = set(os.listdir(os.path.join(chk, "state", "0", "0")))
    assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= files, sorted(files)
