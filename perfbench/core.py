"""What a workload receives (``Ctx``) and returns (``Outcome``)."""

from __future__ import annotations

import contextlib
import gc
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from stats import median
from tracing import RssSampler, Tracer, cpu_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
CHANNEL = "benchchan"
GEN_TIMEOUT_S = 120  # for a generator that runs to completion before timing

# The calibration job: a fixed CPU-bound Spark job on every core, timed
# before the first timed repetition and after each one. On a shared host a
# CPU second buys less work when the host's other guests load its cores:
# the same drain cost twice the CPU time from one quarter of an hour to the
# next, and this job's CPU time moved with it. The run's repetitions are
# scaled by its median calibration.
CAL_ROWS = 300_000_000
CAL_WARMUPS = 2  # untimed runs that let the JIT compile the job's loop
CAL_GROUP = "perfbench-calibration"
# the job's CPU seconds on a 4-vCPU 2.0 GHz Xeon guest of a quiet host:
# normalized figures read as CPU milliseconds on that machine
CAL_REF_S = 1.1
MIN_REPS = 3  # timed repetitions, however long they take
# between timed steps: wait until the JIT compiler threads use no CPU time
# for one poll, or at most this long
SETTLE_POLL_S = 0.25
SETTLE_MAX_S = 4.0


@dataclass
class Ctx:
    spark: object
    work: str  # per-run scratch directory inside the checkout
    seed: int
    seconds: float
    cores: int
    rss: RssSampler
    tracer: Tracer | None = None  # set only in a traced run
    timing_start: float | None = None
    # CPU seconds of the process tree in each timed repetition, leaving out
    # the JIT compiler threads, whose time is summed apart in ``jit_s``
    rep_cpu: list[float] = field(default_factory=list)
    jit_s: float = 0.0
    # CPU seconds of each calibration: one before the first repetition and
    # one after every repetition
    cal: list[float] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def settle(self) -> None:
        """Let what the last step started finish before the next timed step:
        wait until the JIT compiler threads are idle (at most
        ``SETTLE_MAX_S``), then collect the garbage of the JVM and of this
        process."""
        deadline = time.time() + SETTLE_MAX_S
        _, jit = self.cpu()
        while time.time() < deadline:
            time.sleep(SETTLE_POLL_S)
            _, now = self.cpu()
            if now == jit:
                break
            jit = now
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def calibrate(self) -> float:
        """CPU seconds, JIT compiler threads left out, of one calibration job."""
        sc = self.spark.sparkContext
        sc.setJobGroup(CAL_GROUP, "calibration")
        self.settle()
        work0, _ = self.cpu()
        self.spark.range(0, CAL_ROWS, 1, self.cores).selectExpr("sum(hash(id))").collect()
        work1, _ = self.cpu()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return work1 - work0

    def cpu(self) -> tuple[float, float]:
        """(work, jit) CPU seconds of the program's processes so far: the
        load generator and the memory sampler's own reads left out."""
        work, jit = cpu_seconds(self.rss.exclude)
        return work - self.rss.cpu_s, jit

    def begin_timing(self) -> None:
        """Marks the end of set-up; called once, right before the first
        timed repetition. The calibration job warms up as part of set-up;
        the first calibration comes after it."""
        if self.timing_start is None:
            for _ in range(CAL_WARMUPS):
                self.calibrate()
            self.timing_start = time.time()
            if self.tracer is not None:
                self.tracer.since = self.timing_start
            self.cal.append(self.calibrate())

    def more_reps(self) -> bool:
        """Whether to run another timed repetition: until ``seconds`` have
        passed since timing began, calibrations included, and at least
        ``MIN_REPS`` repetitions ran."""
        return time.time() - self.timing_start < self.seconds or len(self.rep_cpu) < MIN_REPS

    @contextlib.contextmanager
    def rep(self):
        """One timed repetition: its CPU time, then a calibration."""
        self.settle()
        work0, jit0 = self.cpu()
        yield
        work1, jit1 = self.cpu()
        self.rep_cpu.append(work1 - work0)
        self.jit_s += jit1 - jit0
        self.cal.append(self.calibrate())

    def end_timing(self) -> None:
        """Marks the end of the timed section. Peak memory covers set-up and
        timing, not the correctness checks that follow."""
        self.rss.stop()

    def norm_cpu_ms_per_op(self, rep_ops: list[int]) -> float:
        """Median over repetitions of CPU ms per operation, scaled by
        ``CAL_REF_S`` over the run's median calibration."""
        scale = CAL_REF_S / median(self.cal)
        return median([cpu * 1000 / ops * scale for cpu, ops in zip(self.rep_cpu, rep_ops)])

    def chatgen(self, *args: str, wait: bool = True) -> subprocess.Popen:
        """Start the load generator as its own process. With ``wait`` the
        call returns after it exits successfully."""
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "chatgen.py"), *args],
                                stdout=subprocess.DEVNULL)
        self.rss.exclude.add(proc.pid)
        if wait:
            finish(proc, GEN_TIMEOUT_S)
        return proc


def finish(proc: subprocess.Popen, timeout: float) -> None:
    """Wait for ``proc``; kill it if it overruns; fail if it failed."""
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"load generator overran {timeout:.0f} s") from None
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")


@dataclass
class Metric:
    value: float
    unit: str
    n: int  # samples behind the value


@dataclass
class Outcome:
    attempted: int
    failed: int
    # operations in each timed repetition: lines committed or query
    # executions
    rep_ops: list[int]
    # the workload's own named metrics (wall-clock rates and latencies),
    # printed for people; the end-to-end metrics are made by run.py
    report: dict[str, Metric]
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    # how many passes / drains the per-layer totals are divided by
    units: int = 1
    # pick, from an event-log JobStart, the Spark jobs of the exec layer and
    # of query construction
    exec_jobs: object = None
    build_jobs: object = None
