"""Running word/category counts as Structured Streaming queries — the
reference's core loop (``SparkRunner.scala:115-160``) rebuilt:

| reference (DStream)                      | rebuild                      |
|------------------------------------------|------------------------------|
| ``transform(rdd→DF→rdd)`` per batch ST1  | one continuous DataFrame plan|
| ``filter(_.length > 3)`` + stopwords     | row predicate on the exploded|
|                                          |   word, in generated code    |
| ``reduceByKey`` + ``updateStateByKey``   | streaming groupBy().count()  |
|   (A2/A4, hand-rolled state)             |   (state store, update mode) |
| ``foreachRDD`` → Redis Overwrite ST5     | foreachBatch → KVTableStore; |
|                                          |   snapshot from one task     |
| restore on start: none (state lost)      | seed from store (S4 fallback)|
| checkpoint ``file:///tmp``               | checkpointLocation option    |

Two sink flavors, matching the reference's two modes:
- **complete + overwrite**: whole state snapshot per batch
  (``SaveMode.Overwrite``, ``SparkRunner.scala:143``), written from one
  task as one part file per version.
- **update + merge**: only changed keys flow from the state store to the
  sink — per-batch COMPUTE and shuffle are bounded by batch novelty.
  The bundled parquet-file store still persists each version as a full
  table rewrite (a file-format artifact: parquet can't update in place);
  a Redis/JDBC backend implementing the same three methods writes only
  the changed keys, which is the 100 TB deployment shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..constants import DEFAULT_LANG, MIN_WORD_LENGTH
from ..operators.merge import update_table
from ..operators.messages import format_raw_messages, word_counts
from ..sources.kv_store import KVTableStore, checkpoint_lineage

COUNT_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def streaming_word_counts(
    raw: DataFrame, lang: str = DEFAULT_LANG, min_len: int = MIN_WORD_LENGTH
) -> DataFrame:
    """raw ``value`` stream → formatted → :func:`word_counts` → running
    count. One declarative plan; Spark's incremental planner maintains the
    per-word state the reference hand-rolled in ``updateFunction``
    (``SparkRunner.scala:171-188``)."""
    return word_counts(F.col("text"), format_raw_messages(raw), lang, min_len)


def streaming_category_counts(raw: DataFrame, scores_to_cats) -> DataFrame:
    """Category branch (``SparkRunner.scala:82-118``): classify each
    message, explode labels, running count. ``scores_to_cats`` maps a
    text Column to an array<string> of categories (the pluggable scorer
    surface)."""
    fmt = format_raw_messages(raw)
    return (
        fmt.select(F.explode(scores_to_cats(F.col("text"))).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def run_snapshot_query(
    counts: DataFrame,
    store: KVTableStore,
    table: str,
    checkpoint_dir: str,
    ttl: int = 0,
    batch_interval: str | None = None,
) -> StreamingQuery:
    """Complete-mode + overwrite sink: each micro-batch writes the FULL
    running state (reference ST5 snapshot semantics). ``batch_interval``
    maps the reference's CLI micro-batch clock (S2,
    ``Seconds(BatchDuration)``) to a processingTime trigger; None = fire
    as fast as data arrives.

    The snapshot is Redis-sized by contract (~54k rows, ~545 KB for the
    flagship backlog), so it is written from ONE task as one part file:
    ``coalesce(1)`` runs every state-store partition in that task, and
    the write job's Hadoop conf (over a thousand entries, ~19 ms to
    deserialize) is read once per trigger instead of once per shuffle
    partition. The state store keeps its partitions."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.write(batch_df.coalesce(1), table, mode="overwrite", ttl=ttl)

    writer = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if batch_interval is not None:
        writer = writer.trigger(processingTime=batch_interval)
    return writer.start()


def run_merge_query(
    counts: DataFrame,
    store: KVTableStore,
    table: str,
    checkpoint_dir: str,
    ttl: int = 0,
) -> StreamingQuery:
    """Update-mode + J1 merge sink: only keys whose count changed flow to
    the sink; the store row is replaced with the new running value.

    Scale note: update mode emits the NEW TOTAL per changed key (not a
    delta), so the merge is replace-on-key (anti-join + union) — the
    DELTA computed per batch is bounded by changed keys, not state size.
    Committing it through the parquet-backed store still rewrites the
    table file (see module docstring); a KV backend with native upsert
    makes the whole sink O(changed keys)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        stored = store.get_table(table, COUNT_SCHEMA)
        unchanged = stored.join(batch_df, "word", "left_anti")
        store.write(unchanged.unionByName(batch_df), table, mode="overwrite", ttl=ttl)

    return (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_upsert_query(
    counts: DataFrame,
    store,
    table: str,
    checkpoint_dir: str,
    key_column: str = "word",
    ttl: int = 0,
) -> StreamingQuery:
    """Update-mode + NATIVE KV upsert: each micro-batch appends only the
    changed keys with ``key_column`` addressing, so the store replaces
    rows in place — no read-modify-write, no state-sized rewrite. This is
    the sink the Redis backend exists for (``RedisInterface.scala:13-21``
    ``key.column`` option ≡ ``RedisKVTableStore.write(key_column=...)``):
    per-batch cost is O(changed keys) at ANY state size, vs the snapshot
    sink's O(state) and the merge sink's read+rewrite.

    Requires a store whose ``write`` accepts ``key_column`` (the parquet
    KVTableStore deliberately does not — a file store has no per-key
    replace; use :func:`run_merge_query` there).

    Replay safety: no epoch guard is needed here (unlike
    :func:`apply_delta_once`) because update-mode emits each changed
    key's NEW TOTAL, not a delta — re-upserting a replayed batch writes
    the same values, so the sink is idempotent by construction."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.write(batch_df, table, mode="append", key_column=key_column, ttl=ttl)

    return (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_restore_snapshot_query(
    counts: DataFrame,
    store: KVTableStore,
    table: str,
    checkpoint_dir: str,
    ttl: int = 0,
) -> StreamingQuery:
    """Restore-on-start (S4) + snapshot sink: the stored table is read
    ONCE at query start (empty-DF fallback if missing/expired) and merged
    into every complete-mode snapshot via the J1 ``update_table``
    operator — a job restarted with a fresh checkpoint continues from the
    stored totals instead of zero. (Joins after a streaming aggregation
    aren't allowed in the plan itself, so the merge lives in the sink.)"""
    # materialize the baseline OFF the store's files: the first sink
    # overwrite prunes the version directory this scan points at, and a
    # cached-but-evicted partition would then recompute against deleted
    # files (FAILED_READ_FILE). The snapshot table is Redis-sized by
    # contract, so a driver round-trip is the robust materialization.
    spark = counts.sparkSession
    baseline = spark.createDataFrame(
        store.get_table(table, COUNT_SCHEMA).collect(), COUNT_SCHEMA
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merged = update_table(baseline, batch_df, "word", "cnt")
        store.write(merged, table, mode="overwrite", ttl=ttl)

    return (
        counts.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def apply_delta_once(
    store: KVTableStore,
    table: str,
    schema: T.StructType,
    delta: DataFrame,
    key: str,
    sum_col: str,
    epoch_id: int,
    ttl: int = 0,
    lineage: str | None = None,
) -> bool:
    """Exactly-once delta merge: add ``delta``'s per-key sums into
    ``table`` unless ``epoch_id`` was already applied to THAT table.

    foreachBatch gives at-least-once sink invocation — after a failure
    between the sink write and the checkpoint commit, the same epoch is
    replayed, and a bare add-merge would double-count it. Recording the
    epoch in the table's meta (flipped atomically WITH the data version)
    makes the merge idempotent per table. Returns True if applied,
    False if skipped as a replay. The guard is per-table so a crash
    between two tables' writes replays only the unwritten one. Pass the
    query's checkpoint dir as ``lineage``: epoch_ids restart at 0 under a
    fresh checkpoint, and without the lineage key the stale recorded
    epoch would silently swallow the new query's first batches."""
    if epoch_id <= store.last_applied_epoch(table, lineage):
        return False
    stored = store.get_table(table, schema)
    store.write(
        update_table(stored, delta, key, sum_col),
        table,
        ttl=ttl,
        epoch=epoch_id,
        lineage=lineage,
    )
    return True


def run_dual_branch_query(
    raw: DataFrame,
    store: KVTableStore,
    scores_to_cats,
    checkpoint_dir: str,
    word_table: str = "wordcount",
    cat_table: str = "categoryCount",
    lang: str = DEFAULT_LANG,
    batch_interval: str | None = None,
) -> StreamingQuery:
    """The reference's two-branch fan-out (ST2: ``DStream.cache()`` then
    wordcount + categoryCount branches, ``SparkRunner.scala:79-127``) as
    ONE streaming query: foreachBatch persists the formatted batch, both
    aggregates compute from the cached frame, both tables snapshot — the
    clean stream is materialized once per micro-batch, exactly what the
    reference's cache bought it.

    (Two independent writeStream queries would re-read and re-parse the
    source per sink; the single-query/foreachBatch form shares the scan.)
    """

    def sink(batch_raw: DataFrame, epoch_id: int) -> None:
        fmt = format_raw_messages(batch_raw).persist()
        try:
            words = word_counts(F.col("text"), fmt, lang)
            cats = (
                fmt.select(F.explode(scores_to_cats(F.col("text"))).alias("category"))
                .groupBy("category")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            cat_schema = T.StructType(
                [
                    T.StructField("category", T.StringType()),
                    T.StructField("cnt", T.LongType()),
                ]
            )
            # per-table exactly-once guard: a replayed epoch merges only
            # into whichever table missed it before the failure
            lin = checkpoint_lineage(checkpoint_dir)
            apply_delta_once(
                store, word_table, COUNT_SCHEMA, words, "word", "cnt",
                epoch_id, lineage=lin,
            )
            apply_delta_once(
                store, cat_table, cat_schema, cats, "category", "cnt",
                epoch_id, lineage=lin,
            )
        finally:
            fmt.unpersist()

    writer = (
        raw.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if batch_interval is not None:
        # the reference's CLI micro-batch clock (S2, Seconds(BatchDuration))
        writer = writer.trigger(processingTime=batch_interval)
    return writer.start()


def memory_sink_query(
    counts: DataFrame, name: str, mode: str = "complete"
) -> StreamingQuery:
    """Test-friendly sink: results land in an in-memory table ``name``."""
    return (
        counts.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )


def batch_oracle_word_counts(
    spark: SparkSession, raw_lines: list[str], lang: str = DEFAULT_LANG
) -> DataFrame:
    """The streaming-correctness oracle: running count after processing a
    prefix ≡ batch count over that prefix (SURVEY §5)."""
    raw = spark.createDataFrame([(x,) for x in raw_lines], "value string")
    return word_counts(F.col("text"), format_raw_messages(raw), lang)
