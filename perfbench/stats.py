"""Pure bookkeeping for the benchmark: percentiles, line → micro-batch
attribution from a checkpoint's source log, and failed-line accounting.
Nothing here touches Spark, so the tests exercise it directly."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

PERCENTILES = (50.0, 90.0, 99.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    return float(np.percentile(values, p))


def supported_percentiles(values: list[float]) -> dict[float, float]:
    """The percentiles that have at least ``MIN_BEYOND`` samples above them."""
    n = len(values)
    return {p: percentile(values, p) for p in PERCENTILES if n * (100.0 - p) / 100.0 >= MIN_BEYOND}


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def read_source_log(checkpoint_dir: str) -> dict[str, int]:
    """File basename → micro-batch id, from the file stream source's log
    (``sources/0/<batchId>``: a version line, then one JSON entry per
    file; compacted logs carry every earlier entry with its batch id)."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_time_ms(ts: str) -> int:
    """A progress ``timestamp`` (ISO-8601, UTC, ``Z``) in epoch ms."""
    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def batch_end_ms(progress: list[dict]) -> dict[int, int]:
    """Batch id → end of the trigger that ran it: progress ``timestamp``
    (trigger start) + ``durationMs.triggerExecution``. Idle progress
    reports (no ``addBatch`` phase) are skipped."""
    out = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" in d:
            out[int(p["batchId"])] = progress_time_ms(p["timestamp"]) + int(d["triggerExecution"])
    return out


def attribute_lines(
    file_stamps: dict[str, list[int]],
    file_batch: dict[str, int],
    batch_end: dict[int, int],
    deadline_ms: int,
) -> tuple[list[float], int]:
    """Per-line latency (trigger end − creation stamp, ms) for lines whose
    batch committed by ``deadline_ms``; every other line counts as failed.
    Returns (latencies, failed line count)."""
    lat: list[float] = []
    failed = 0
    for name, stamps in file_stamps.items():
        end = batch_end.get(file_batch.get(name, -1))
        if end is None or end > deadline_ms:
            failed += len(stamps)
            continue
        lat.extend(float(end - s) for s in stamps)
    return lat, failed


def line_stamp(line: str) -> int:
    """Creation stamp of a wire line (the digits before the first ``:``)."""
    return int(line.split(":", 1)[0])


def read_file_stamps(dir_path: str, names: list[str]) -> dict[str, list[int]]:
    out = {}
    for name in names:
        with open(os.path.join(dir_path, name), encoding="utf-8") as f:
            out[name] = [line_stamp(x) for x in f.read().splitlines() if x]
    return out
