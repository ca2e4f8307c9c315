"""batch_mix: one serial client runs a fixed list of registry queries over
seeded star-schema tables, each as build (``registry.get(name).fn``:
table open, DataFrame construction, Catalyst analysis, eager side jobs)
then exec (the finished plan through a noop write). The list mixes the
reference dataflow, TPC-H-style joins, build-dominated queries and
exec-dominated ones. Every pass runs the list in a seeded order; the
passes are the timed repetitions, run until ``--seconds`` have passed.

This is the only workload that goes through ``tables`` and ``registry``;
the two streams bypass both.
"""

from __future__ import annotations

import contextlib
import random
import sys
import time
import traceback

import tablegen
from core import Ctx, Metric, Outcome
from oracle import same_result, table_connection
from stats import median, supported_percentiles
from tracing import job_group

QUERIES = (
    "flagship_wordcount",
    "update_table_merge",
    "threshold_decode",
    "training_prep",
    "q1_pricing_summary",
    "q18_large_orders",
    "sessionize",
)
ROWS_PER_UNIT = 0.5  # 30,000 lineitem rows, 250 documents, 250 embeddings
# the tables are the same for every run, like a fixed test data set; the
# run's seed drives the query order of each pass
TABLE_SEED = 42
WARM_PASSES = 1  # untimed build + exec passes after the checked one
BUILD_GROUP = "perfbench-build"
EXEC_GROUP = "perfbench-exec"


def _span(ctx: Ctx, name: str, **attrs):
    return ctx.tracer.span(name, **attrs) if ctx.tracer else contextlib.nullcontext()


def run(ctx: Ctx) -> Outcome:
    from spark_streaming_twitch_analytics_spark import registry
    from spark_streaming_twitch_analytics_spark.cache import release_all

    sf_dir = ctx.path("tables", "sf")
    tablegen.write_tables(sf_dir, TABLE_SEED, ROWS_PER_UNIT)
    sc = ctx.spark.sparkContext
    rng = random.Random(ctx.seed)
    errors: list[str] = []

    # warm-up: a pass whose collected results are checked against the
    # oracles after timing, then untimed passes as the timed ones run; they
    # fill code-generation and artifact caches and let the JIT compile.
    # The CPU time of a pass still falls by up to a fifth over the timed
    # passes that follow; two more warm-up passes made a run take 80 s.
    results = {}
    for name in rng.sample(QUERIES, len(QUERIES)):
        release_all()
        try:
            df = registry.get(name).fn(ctx.spark, sf_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errors.append(f"{name}: raised in warm-up")
    release_all()
    live = [q for q in QUERIES if q in results]
    for _ in range(WARM_PASSES):
        for name in rng.sample(live, len(live)):
            release_all()
            registry.get(name).fn(ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()

    ctx.begin_timing()
    passes: list[float] = []
    per_query: list[float] = []
    attempted = len(QUERIES)
    while ctx.more_reps():
        t_pass = time.time()
        with ctx.rep():
            for name in rng.sample(live, len(live)):
                release_all()
                attempted += 1
                try:
                    t0 = time.time()
                    sc.setJobGroup(f"{BUILD_GROUP}-{name}", name)
                    with _span(ctx, "registry.build", query=name):
                        df = registry.get(name).fn(ctx.spark, sf_dir)
                    sc.setJobGroup(f"{EXEC_GROUP}-{name}", name)
                    with _span(ctx, "exec", query=name):
                        df.write.format("noop").mode("overwrite").save()
                    per_query.append((time.time() - t0) * 1000)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    errors.append(f"{name}: raised in a timed pass")
            passes.append(time.time() - t_pass)
    ctx.end_timing()
    sc.setLocalProperty("spark.jobGroup.id", None)
    release_all()

    con = table_connection(sf_dir)
    oracles = registry.all_oracles()
    for name, (cols, rows) in results.items():
        why = same_result(con, oracles[name], cols, rows)
        if why:
            errors.append(f"{name}: {why}")

    n_pass = len(passes)
    sup = supported_percentiles(per_query)
    report = {
        "mix_pass_s": Metric(median(passes), "s", n_pass),
        **{f"query_p{p:g}_ms": Metric(v, "ms", len(per_query)) for p, v in sup.items()},
        "failed_frac": Metric(len(errors) / attempted, "ratio", attempted),
    }

    layers = {}
    if ctx.tracer is not None:
        opens = ctx.tracer.durations_ms("tables.open")
        layers = {
            "tables.open_ms": sum(opens) / n_pass,
            "tables.open_calls": len(opens) / n_pass,
            "registry.build_ms": sum(ctx.tracer.durations_ms("registry.build")) / n_pass,
        }
    return Outcome(
        attempted=attempted, failed=len(errors), rep_ops=[len(live)] * n_pass, report=report,
        errors=errors, layers=layers, units=n_pass,
        exec_jobs=lambda e: job_group(e).startswith(EXEC_GROUP),
        build_jobs=lambda e: job_group(e).startswith(BUILD_GROUP),
    )
