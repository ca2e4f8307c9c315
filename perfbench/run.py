"""Benchmark entry point.

    python3 perfbench/run.py --workload {chat_live,chat_backlog,batch_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds inputs from the seed, sets up, measures
for about ``--seconds`` seconds, checks every output against its DuckDB
twin, prints one line per metric (name, value, unit, sample count) and, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer ones traced).
Exits non-zero when any output is wrong or any operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "spark_streaming_twitch_analytics_spark"
DRIVER_MEM = "2g"
WORKLOADS = ("chat_live", "chat_backlog", "batch_mix")
LAYER_UNITS = {
    "session.start_ms": "ms",
    "tables.open_ms": "ms", "tables.open_calls": "count",
    "registry.build_ms": "ms", "registry.build_jobs": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms", "exec.task_busy_frac": "ratio",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.latest_offset_ms_p50": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "rows",
    "state.rows_total": "rows", "state.rows_updated_p50": "rows", "state.mem_bytes": "bytes",
    "state.commit_ms_p50": "ms", "state.update_ms_p50": "ms",
    "kv_store.write_ms_p50": "ms", "kv_store.writes": "count",
    "kv_store.rows_written": "rows", "kv_store.bytes_on_disk": "bytes",
    "source.read_lag_ms_p50": "ms", "gen.lines": "lines",
}
# layers that read 0 on both workloads in BENCHMARK.json (the KV store
# reads only chat_live makes; Python UDF time, which no dataflow here has):
# printed, but not part of the JSON result
UNLISTED_LAYER_UNITS = {
    "kv_store.read_ms_p50": "ms", "kv_store.epoch_check_ms_p50": "ms",
    "exec.python_eval_ms": "ms",
}


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: str, cores: int) -> None:
    """Every knob ``session.get_spark`` reads, plus where Spark, the JVM and
    the Python workers keep files and find the package, fixed before the
    session starts so that two commits run the same configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pypath = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_MIN_PARTITION_SIZE": "64KB",
        "SPARK_GRAFT_UI": "false",
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "tables", "sf"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(pypath),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    os.environ.pop("SPARK_CONF_DIR", None)
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap committed up front keeps peak RSS from depending on when
        # the collector chose to grow it; JIT compiler threads that never
        # exit keep their CPU time apart from the rest (tracing.cpu_seconds)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every process
    this one started to end."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        left = [p for p in descendants(os.getpid()) if _alive(p)]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def versions(spark) -> dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": str(len(os.sched_getaffinity(0))),
        "java": str(jvm.System.getProperty("java.version")),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }


def exec_layers(events: list[dict], out, cores: int) -> dict[str, float]:
    from tracing import job_metrics

    u = out.units
    ex = job_metrics(events, out.exec_jobs, cores)
    layers = {
        "exec.ms": ex["wall_ms"] / u,
        "exec.jobs": ex["jobs"] / u,
        "exec.stages": ex["stages"] / u,
        "exec.tasks": ex["tasks"] / u,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / u,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / u,
        "exec.spill_bytes": ex["spill_bytes"] / u,
        "exec.gc_ms": ex["gc_ms"] / u,
        "exec.python_eval_ms": ex["python_eval_ms"] / u,
        "exec.task_busy_frac": ex["task_busy_frac"],
    }
    if out.build_jobs is not None:
        layers["registry.build_jobs"] = job_metrics(events, out.build_jobs, cores)["jobs"] / u
    return layers


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pin_env(work, cores)
    sys.path[:0] = [REPO]

    from core import Ctx
    from tracing import RssSampler, Tracer, read_event_log, wrap_load_table

    rss = RssSampler().start()
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        wrap_load_table(tracer)  # before any registry module binds it
    spark = None
    try:
        from spark_streaming_twitch_analytics_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=spark_conf(work, bool(args.trace)))
        session_ms = (time.time() - t0) * 1000
        env = versions(spark)
        ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                  cores=cores, rss=rss, tracer=tracer)
        if args.workload == "chat_live":
            import live as workload
        elif args.workload == "chat_backlog":
            import backlog as workload
        else:
            import mix as workload
        out = workload.run(ctx)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    stop_spark(spark)
    peak_mb = rss.stop()

    from core import CAL_REF_S
    from stats import median

    ops = sum(out.rep_ops)
    e2e = {
        "setup_s": (ctx.timing_start - t_proc, "s", 1),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "norm_cpu_ms_per_op": (ctx.norm_cpu_ms_per_op(out.rep_ops), "ms", len(out.rep_ops)),
    }
    print("env " + json.dumps(env, sort_keys=True))
    for name, (v, unit, n) in e2e.items():
        print(f"metric {name} = {v:.6g} {unit} (n={n})")
    print(f"report cpu_ms_per_op = {sum(ctx.rep_cpu) * 1000 / ops:.6g} ms (n={ops})")
    print(f"report jit_cpu_s = {ctx.jit_s:.6g} s (n={len(ctx.rep_cpu)})")
    print(f"report cal_cpu_s = {median(ctx.cal):.6g} s (n={len(ctx.cal)};"
          f" {CAL_REF_S:g} s on the reference machine)")
    for name, m in out.report.items():
        print(f"report {name} = {m.value:.6g} {m.unit} (n={m.n})")
    for err in out.errors:
        print(f"error {err}")

    result = {k: {"value": v, "unit": unit} for k, (v, unit, _) in e2e.items()}
    last_untraced = os.path.join(out_dir, f"{args.workload}.untraced.json")
    if tracer is None:
        with open(last_untraced, "w") as f:
            json.dump({"seed": args.seed, "metrics": result}, f)
        metrics = result
    else:
        units = {**LAYER_UNITS, **UNLISTED_LAYER_UNITS}
        layers = dict.fromkeys(units, 0.0)
        layers["session.start_ms"] = session_ms
        layers.update(out.layers)
        layers.update(exec_layers(read_event_log(os.path.join(work, "events")), out, cores))
        tracer.dump(os.path.join(out_dir, f"{args.workload}.spans.json"))
        for name, unit in units.items():
            print(f"layer {name} = {layers[name]:.6g} {unit}")
        # tracing overhead: this traced run against the last untraced run
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)["metrics"]
            for name, (v, _, _) in e2e.items():
                b = base.get(name, {}).get("value")
                if b:
                    print(f"overhead {name} = {100 * (v - b) / b:+.1f} % (traced vs last untraced run)")
        else:
            print("overhead unknown: no untraced run of this workload in this checkout yet")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}

    shutil.rmtree(work, ignore_errors=True)
    correct = not out.errors
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct and out.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
