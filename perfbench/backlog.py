"""chat_backlog: the flagship running word count draining a pre-written
backlog, closed loop.

``streaming_word_counts`` (parse → tokenize → stopwords → explode → stateful
count) feeds ``run_snapshot_query`` (complete mode, the whole state written
to the KV store every micro-batch). The file source takes one backlog file
per trigger, so each batch is large and the state grows to ~5×10^4 words:
state commit, the state-sized snapshot write and per-line tokenizing set
the pace. Each drain starts from a fresh checkpoint and store; the run
drains the same backlog as timed repetitions until ``--seconds`` have
passed.
"""

from __future__ import annotations

import os
import shutil
import time

from core import CHANNEL, Ctx, Metric, Outcome
from live import read_table
from oracle import lines_connection, same_result, stream_oracles
from stats import (
    batch_end_ms,
    median,
    progress_time_ms,
    read_file_stamps,
    read_source_log,
    supported_percentiles,
)
from tracing import job_group, kv_store_metrics, progress_dicts, streaming_metrics, traced_store_class

FILES = 4
# untimed drains first: one of the first file alone pays code generation
# and class loading, then the JIT compiles the hot code over full drains
WARM_DRAINS = 1
LINES_PER_FILE = 12_500
TABLE = f"{CHANNEL}_wordcount"


def drain(ctx: Ctx, src: str, root: str):
    """One drain of ``src``; returns (query, store, start s, end s)."""
    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore
    from spark_streaming_twitch_analytics_spark.streaming.wordcount import (
        run_snapshot_query,
        streaming_word_counts,
    )

    store_cls = traced_store_class(ctx.tracer) if ctx.tracer else KVTableStore
    store = store_cls(ctx.spark, root)
    raw = ctx.spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    t0 = time.time()
    query = run_snapshot_query(
        streaming_word_counts(raw, lang="en"), store, TABLE, store.checkpoint_dir(TABLE)
    )
    try:
        query.processAllAvailable()
        t1 = time.time()
    finally:
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    return query, store, t0, t1


def run(ctx: Ctx) -> Outcome:
    src = ctx.path("backlog", "in")
    ctx.chatgen("backlog", "--dir", src, "--seed", str(ctx.seed),
                "--files", str(FILES), "--lines", str(LINES_PER_FILE))
    names = sorted(n for n in os.listdir(src) if n.endswith(".txt"))
    stamps = read_file_stamps(src, names)
    n_lines = sum(len(s) for s in stamps.values())
    lines = []
    for n in names:
        with open(os.path.join(src, n), encoding="utf-8") as f:
            lines.extend(x for x in f.read().splitlines() if x)
    con = lines_connection(lines)
    word_sql = stream_oracles()[0]

    first = ctx.path("warm", "first", names[0])
    os.link(os.path.join(src, names[0]), first)
    drain(ctx, os.path.dirname(first), ctx.path("warm", "store"))
    for i in range(WARM_DRAINS):
        drain(ctx, src, ctx.path("warm", f"store{i}"))

    ctx.begin_timing()
    rates, lat, lags, run_ids, progress, tables = [], [], [], [], [], []
    i, store_root = 0, None
    while ctx.more_reps():
        if store_root is not None:
            shutil.rmtree(store_root, ignore_errors=True)
        store_root = ctx.path("drains", f"store{i}")
        with ctx.rep():
            query, store, t0, t1 = drain(ctx, src, store_root)
        i += 1
        rates.append(n_lines / (t1 - t0))
        run_ids.append(str(query.runId))
        prog = progress_dicts(query)
        progress.extend(prog)
        ends = batch_end_ms(prog)
        # every backlog file is present at query start, so a file's read
        # lag is how long it waited for the trigger that took it
        lags.extend(float(progress_time_ms(p["timestamp"]) - t0 * 1000)
                    for p in prog if "addBatch" in p.get("durationMs", {}))
        file_batch = read_source_log(store.checkpoint_dir(TABLE))
        for n in names:
            lat.extend([float(ends[file_batch[n]] - t0 * 1000)] * len(stamps[n]))
        tables.append(read_table(store, TABLE))
    ctx.end_timing()

    errors = []
    for i, (cols, rows) in enumerate(tables):
        why = same_result(con, word_sql, cols, rows)
        if why:
            errors.append(f"drain {i}: {why}")

    sup = supported_percentiles(lat)
    report = {"drain_lines_per_s": Metric(median(rates), "lines/s", len(rates))}
    report.update({f"line_latency_p{p:g}_ms": Metric(v, "ms", len(lat)) for p, v in sup.items()})
    attempted = n_lines * len(tables)
    report["failed_frac"] = Metric(len(errors) * n_lines / attempted, "ratio", attempted)

    layers = {}
    if ctx.tracer is not None:
        layers.update(streaming_metrics(progress, units=len(tables)))
        layers.update(kv_store_metrics(ctx.tracer, store, [TABLE], units=len(tables)))
        layers.update({
            "source.read_lag_ms_p50": median(lags),
            "gen.lines": float(n_lines),
        })
    groups = set(run_ids)
    return Outcome(
        attempted=attempted, failed=len(errors) * n_lines, rep_ops=[n_lines] * len(tables),
        report=report, errors=errors, layers=layers, units=len(tables),
        exec_jobs=lambda e: job_group(e) in groups,
    )
