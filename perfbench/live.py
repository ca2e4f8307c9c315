"""chat_live: the CLI's deployment dataflow under open-loop chat load.

Same wiring as ``python -m spark_streaming_twitch_analytics_spark CHANNEL 1
--source file``: file line source → ``run_dual_branch_query`` with a 1 s
trigger → word and category tables through the exactly-once KV merge. A
separate generator process writes one file per 100 ms tick at a pinned
rate; each line's latency runs from its creation stamp to the end of the
trigger that committed it to both tables.
"""

from __future__ import annotations

import json
import os
import time

from core import CHANNEL, Ctx, Metric, Outcome, finish
from oracle import lines_connection, same_result, stream_oracles
from stats import (
    attribute_lines,
    batch_end_ms,
    median,
    progress_time_ms,
    read_file_stamps,
    read_source_log,
    supported_percentiles,
)
from tracing import (
    job_group,
    kv_store_metrics,
    p99,
    progress_dicts,
    streaming_metrics,
    traced_store_class,
)

RATE = 300  # lines/s: about half of what the dataflow drains on 4 cores
TRIGGER_S = 1
GRACE_S = 20  # how long after the last tick a line may still commit
WORD_TABLE = f"{CHANNEL}_wordcount"
CAT_TABLE = f"{CHANNEL}_categoryCount"


def start_query(ctx: Ctx, src_dir: str, store_root: str):
    """The CLI's dataflow (``__main__.main`` with ``--source file``)."""
    from spark_streaming_twitch_analytics_spark.functions.scoring import (
        decode_categories,
        hash_scores,
    )
    from spark_streaming_twitch_analytics_spark.sources import irc
    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore
    from spark_streaming_twitch_analytics_spark.streaming.wordcount import run_dual_branch_query

    store_cls = traced_store_class(ctx.tracer) if ctx.tracer else KVTableStore
    store = store_cls(ctx.spark, store_root)
    query = run_dual_branch_query(
        irc.file_line_source(ctx.spark, src_dir),
        store,
        lambda text: decode_categories(hash_scores(text)),
        checkpoint_dir=store.checkpoint_dir(f"{CHANNEL}_dual"),
        word_table=WORD_TABLE,
        cat_table=CAT_TABLE,
        lang="en",
        batch_interval=f"{TRIGGER_S} seconds",
    )
    return query, store


def stop_query(query, timeout: float = 30) -> None:
    """Let an in-flight trigger finish so stop() never cuts a sink write."""
    deadline = time.time() + timeout
    while query.isActive and query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.05)
    query.stop()


def committed_batch(checkpoint: str) -> int:
    names = [n for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()] \
        if os.path.isdir(os.path.join(checkpoint, "commits")) else []
    return max((int(n) for n in names), default=-1)


def read_table(store, table: str) -> tuple[list[str], list[tuple]]:
    import pyarrow.parquet as pq

    meta = store._load_meta(table)
    t = pq.read_table(os.path.join(store._table_root(table), meta["version"]))
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


WARM_FIRST = 900_000  # warm-up files are numbered from here


def warm_up(ctx: Ctx, query, src: str) -> list[str]:
    """Two small batches through the running query before the load starts:
    the first pays code generation, the second the read-merge-write
    against a populated table. Returns the warm-up file names."""
    staging = ctx.path("warm")
    ctx.chatgen("backlog", "--dir", staging, "--seed", str(ctx.seed + 7919),
                "--files", "2", "--lines", str(RATE), "--first", str(WARM_FIRST))
    names = sorted(n for n in os.listdir(staging) if n.endswith(".txt"))
    for n in names:
        os.rename(os.path.join(staging, n), os.path.join(src, n))
        query.processAllAvailable()
    return names


def run(ctx: Ctx) -> Outcome:
    src = ctx.path("live", "in")
    os.makedirs(src, exist_ok=True)
    store_root = ctx.path("live", "store")
    query, store = start_query(ctx, src, store_root)
    checkpoint = store.checkpoint_dir(f"{CHANNEL}_dual")
    gen_log = ctx.path("live", "gen.json")
    try:
        warm = warm_up(ctx, query, src)
        ctx.begin_timing()
        with ctx.rep():  # the whole load is one repetition
            gen = ctx.chatgen("live", "--dir", src, "--seed", str(ctx.seed), "--rate", str(RATE),
                              "--seconds", str(ctx.seconds), "--log", gen_log, wait=False)
            finish(gen, ctx.seconds + 60)
            gen_end_ms = int(time.time() * 1000)
            with open(gen_log) as f:
                log = json.load(f)
            names = [t["file"] for t in log["ticks"]]
            unread_at_end = set(names) - set(read_source_log(checkpoint))
            deadline_ms = gen_end_ms + GRACE_S * 1000
            while time.time() * 1000 < deadline_ms and query.isActive:
                file_batch = read_source_log(checkpoint)
                done = committed_batch(checkpoint)
                if all(file_batch.get(n, done + 1) <= done for n in names):
                    break
                time.sleep(0.1)
    finally:
        stop_query(query)
        ctx.end_timing()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")

    progress = progress_dicts(query)
    file_batch = read_source_log(checkpoint)
    stamps = read_file_stamps(src, names)
    ends = batch_end_ms(progress)
    lat, failed = attribute_lines(stamps, file_batch, ends, deadline_ms)
    attempted = sum(len(s) for s in stamps.values())

    # correctness: both tables equal their DuckDB twins over the lines the
    # stream committed
    committed = [n for n in names if ends.get(file_batch.get(n, -1), deadline_ms + 1) <= deadline_ms]
    lines = []
    for n in warm + committed:
        with open(os.path.join(src, n), encoding="utf-8") as f:
            lines.extend(x for x in f.read().splitlines() if x)
    errors = []
    con = lines_connection(lines)
    for table, sql in zip((WORD_TABLE, CAT_TABLE), stream_oracles()):
        why = same_result(con, sql, *read_table(store, table))
        if why:
            errors.append(f"{table}: {why}")

    # throughput over the timed lines only: the warm-up lines committed
    # before the generator's first stamp
    first_ms = min((min(s) for s in stamps.values() if s), default=0)
    last_end = max((ends[file_batch[n]] for n in committed), default=first_ms + 1)
    timed_lines = sum(len(stamps[n]) for n in committed)
    sup = supported_percentiles(lat)
    report = {f"line_latency_p{p:g}_ms": Metric(v, "ms", len(lat)) for p, v in sup.items()}
    report["lines_per_s"] = Metric(timed_lines / ((last_end - first_ms) / 1000), "lines/s", timed_lines)
    report["failed_frac"] = Metric(failed / max(attempted, 1), "ratio", attempted)
    # validity of the load: a late generator or lines still unread when it
    # stopped mean the latency above was measured under a growing backlog
    late = [float(t["written_ms"] - t["due_ms"]) for t in log["ticks"]]
    report["gen.late_ms_p99"] = Metric(p99(late), "ms", len(late))
    report["source.backlog_lines_end"] = Metric(
        float(sum(len(stamps[n]) for n in unread_at_end)), "lines", attempted)

    layers = {}
    if ctx.tracer is not None:
        starts = {int(p["batchId"]): progress_time_ms(p["timestamp"])
                  for p in progress if "addBatch" in p.get("durationMs", {})}
        written = {t["file"]: t["written_ms"] for t in log["ticks"]}
        lags = [float(starts[file_batch[n]] - written[n]) for n in names
                if file_batch.get(n) in starts]
        since = ctx.timing_start * 1000
        layers.update(streaming_metrics(
            [p for p in progress if progress_time_ms(p["timestamp"]) >= since]))
        layers.update(kv_store_metrics(ctx.tracer, store, [WORD_TABLE, CAT_TABLE]))
        layers.update({
            "source.read_lag_ms_p50": median(lags) if lags else 0.0,
            "gen.lines": float(attempted),
        })
    run_id, since = str(query.runId), ctx.timing_start * 1000
    return Outcome(
        # a table that disagrees with its oracle fails every line in it
        attempted=attempted, failed=attempted if errors else failed, rep_ops=[timed_lines],
        report=report, errors=errors, layers=layers,
        exec_jobs=lambda e: job_group(e) == run_id and e["Submission Time"] >= since,
    )
