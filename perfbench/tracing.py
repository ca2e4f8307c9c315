"""Tracing from the benchmark's own code: spans around calls into each
layer, a timing proxy of the KV store, a wrapper of ``tables.load_table``,
and readers for the layers Spark reports itself (the event log and
``StreamingQuery.recentProgress``). Also the process-tree RSS sampler,
which runs in untraced runs too because peak memory is an end-to-end
metric."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from stats import median, percentile


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once at
    the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.since = 0.0  # spans that start earlier belong to set-up
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(sid)

    def timed(self, name: str) -> list[dict]:
        """Finished spans called ``name`` that started after set-up."""
        return [s for s in self.spans
                if s["name"] == name and "end" in s and s["start"] >= self.since]

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.timed(name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def wrap_load_table(tracer: Tracer) -> None:
    """Time every ``tables.load_table`` call. Must run before the registry
    modules import it by name."""
    from spark_streaming_twitch_analytics_spark import tables

    inner = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("tables.open", table=name):
            return inner(spark, sf_dir, name)

    tables.load_table = load_table


def traced_store_class(tracer: Tracer):
    """A ``KVTableStore`` subclass that times the three calls the streaming
    sinks make and counts the rows each write leaves on disk."""
    import pyarrow.parquet as pq

    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore

    class TracedKVTableStore(KVTableStore):
        def write(self, df, table, *args, **kwargs):
            with tracer.span("kv_store.write", table=table) as rec:
                super().write(df, table, *args, **kwargs)
            meta = self._load_meta(table) or {}
            files = glob.glob(os.path.join(self._table_root(table), meta.get("version", ""), "*.parquet"))
            rec["rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        def get_table(self, table, schema):
            with tracer.span("kv_store.read", table=table):
                return super().get_table(table, schema)

        def last_applied_epoch(self, table, lineage=None):
            with tracer.span("kv_store.epoch_check", table=table):
                return super().last_applied_epoch(table, lineage)

    return TracedKVTableStore


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def table_bytes(store, tables: list[str]) -> int:
    """Bytes of the tables' data and meta files, leaving out the streaming
    checkpoint the store also keeps under its root."""
    return sum(dir_bytes(store._table_root(t)) + os.path.getsize(store._meta(t)) for t in tables)


def kv_store_metrics(tracer: Tracer | None, store, tables: list[str], units: int = 1) -> dict[str, float]:
    """Store timings, writes and rows written per unit (drain or run), and
    the size of the tables the run wrote."""
    if tracer is None or not tracer.durations_ms("kv_store.write"):
        return {k: 0.0 for k in (
            "kv_store.write_ms_p50", "kv_store.read_ms_p50", "kv_store.epoch_check_ms_p50",
            "kv_store.writes", "kv_store.rows_written", "kv_store.bytes_on_disk")}
    reads = tracer.durations_ms("kv_store.read")
    checks = tracer.durations_ms("kv_store.epoch_check")
    writes = tracer.timed("kv_store.write")
    return {
        "kv_store.write_ms_p50": median(tracer.durations_ms("kv_store.write")),
        "kv_store.read_ms_p50": median(reads) if reads else 0.0,
        "kv_store.epoch_check_ms_p50": median(checks) if checks else 0.0,
        "kv_store.writes": len(writes) / units,
        "kv_store.rows_written": sum(s.get("rows", 0) for s in writes) / units,
        "kv_store.bytes_on_disk": float(table_bytes(store, tables)),
    }


# ---------------------------------------------------------------------------
# Streaming progress (the streaming and state layers)
# ---------------------------------------------------------------------------

def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def streaming_metrics(progress: list[dict], units: int = 1) -> dict[str, float]:
    """Phase and state medians over the micro-batches that ran; the batch
    count is per unit (drain or run)."""
    runs = [p for p in progress if "addBatch" in p.get("durationMs", {})]

    def p50(key: str) -> float:
        xs = [float(p["durationMs"].get(key, 0)) for p in runs]
        return median(xs) if xs else 0.0

    out = {
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.batches": len(runs) / units,
        "streaming.rows_per_batch_p50": median([float(p["numInputRows"]) for p in runs]) if runs else 0.0,
    }
    ops = [p["stateOperators"][0] for p in runs if p.get("stateOperators")]

    def state_p50(key: str) -> float:
        return median([float(o.get(key, 0)) for o in ops]) if ops else 0.0

    out.update({
        "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "state.rows_updated_p50": state_p50("numRowsUpdated"),
        "state.mem_bytes": float(ops[-1]["memoryUsedBytes"]) if ops else 0.0,
        "state.commit_ms_p50": state_p50("commitTimeMs"),
        "state.update_ms_p50": state_p50("allUpdatesTimeMs"),
    })
    return out


# ---------------------------------------------------------------------------
# Event log (the exec layer)
# ---------------------------------------------------------------------------

def read_event_log(event_dir: str) -> list[dict]:
    """Every event in ``event_dir``: one file per application, or a
    directory of event files when the log rolls."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# the SQL timing metric Spark attaches to Python UDF / Arrow stages
PYTHON_TIME_METRIC = "time to run Python workers"


def job_metrics(events: list[dict], select, cores: int) -> dict[str, float]:
    """Totals over the jobs ``select(job_start_event)`` accepts: jobs,
    stages that ran, tasks, shuffle and spill bytes, GC time, time inside
    Python workers, and the share of the jobs' wall time the task slots
    were busy. Returned with no ``exec.`` prefix."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart" and select(e):
            jid = e["Job ID"]
            jobs[jid] = {"start": e["Submission Time"], "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    acc = dict.fromkeys(
        ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "gc_ms", "run_ms", "python_eval_ms"), 0.0)
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job and "Completion Time" in info:
                acc["stages"] += 1
                for a in info.get("Accumulables", []):
                    name = str(a.get("Name", ""))
                    if name == PYTHON_TIME_METRIC:
                        acc["python_eval_ms"] += float(a.get("Value", 0) or 0)
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            m = e.get("Task Metrics") or {}
            acc["tasks"] += 1
            rd = m.get("Shuffle Read Metrics", {})
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["run_ms"] += m.get("Executor Run Time", 0)
    wall = _union_ms([(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None])
    acc["jobs"] = float(len(jobs))
    acc["wall_ms"] = float(wall)
    acc["task_busy_frac"] = acc["run_ms"] / (wall * cores) if wall else 0.0
    return acc


def job_group(e: dict) -> str:
    return str((e.get("Properties") or {}).get("spark.jobGroup.id", ""))


# ---------------------------------------------------------------------------
# Memory: summed RSS (as PSS) of this process and all its descendants
# ---------------------------------------------------------------------------

def descendants(root: int, skip: set[int] = frozenset()) -> list[int]:
    """Every process below ``root``, leaving out the subtrees of ``skip``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            if c in skip:
                continue
            out.append(c)
            todo.append(c)
    return out


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_seconds(skip: set[int]) -> tuple[float, float]:
    """(work, jit): CPU time used so far by this process and every process
    below it, leaving out the subtrees of ``skip``, split into the JVM's JIT
    compiler threads and everything else. A descendant's count includes
    the children it has reaped (the Python workers); this process's does
    not, so a load generator it reaped stays out. The kernel accounts
    stolen time apart, so neither grows when the host takes the CPUs away."""
    ticks = jit = 0
    me = os.getpid()
    for pid in [me, *descendants(me, skip)]:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12])  # utime, stime
        if pid != me:
            ticks += int(f[13]) + int(f[14])  # cutime, cstime
        jit += _jit_ticks(pid)
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


def rss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by several processes
    (a forked child's copy-on-write pages, shared libraries) counts once in
    total, so a short-lived fork of the JVM does not double its size."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(x.split()[1]) for x in f if x.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


# reading smaps_rollup of a JVM with a 2 GB heap costs kernel time in this
# process, which is inside the measured process tree: sample once a second
RSS_INTERVAL_S = 1.0


class RssSampler:
    """Samples the summed PSS of the process tree every ``RSS_INTERVAL_S``
    in a daemon thread; ``peak_mb`` is the highest sample."""

    def __init__(self):
        self.peak = 0
        self.exclude: set[int] = set()  # e.g. the load generator
        self.cpu_s = 0.0  # CPU time the sampling thread spent in its reads
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t0 = time.thread_time()
        me = os.getpid()
        self.peak = max(self.peak, rss_bytes([me, *descendants(me, self.exclude)]))
        self.cpu_s += time.thread_time() - t0

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak / 2**20

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def p99(xs: list[float]) -> float:
    return percentile(xs, 99.0) if xs else 0.0
