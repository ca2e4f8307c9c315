"""The benchmark's own arithmetic: percentiles, line → batch attribution,
failed-line accounting, CPU-time normalization and seeded inputs. No Spark
session needed."""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import chatgen
import tablegen
from core import CAL_REF_S, Ctx
from tracing import RssSampler, cpu_seconds
from stats import (
    attribute_lines,
    batch_end_ms,
    median,
    read_source_log,
    supported_percentiles,
)


@pytest.mark.parametrize(
    "n, expected",
    [(19, []), (20, [50.0]), (99, [50.0]), (100, [50.0, 90.0]), (999, [50.0, 90.0]),
     (1000, [50.0, 90.0, 99.0])],
)
def test_only_percentiles_with_ten_samples_beyond_are_reported(n, expected):
    xs = [float(i) for i in range(n)]
    assert sorted(supported_percentiles(xs)) == expected


def test_median_of_even_count_interpolates():
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5


def _write_log(path, batch_id, files, version="v1"):
    with open(path, "w") as f:
        f.write(version + "\n")
        for name in files:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch_id}) + "\n")


def test_source_log_maps_files_to_batches(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # a compacted log carries earlier batches' entries with their own ids
    with open(log / "9.compact", "w") as f:
        f.write("v1\n")
        for bid, name in ((7, "a.txt"), (9, "b.txt")):
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": bid}) + "\n")
    _write_log(log / "10", 10, ["c.txt", "d.txt"])
    (log / ".10.crc").write_text("x")
    assert read_source_log(str(tmp_path)) == {"a.txt": 7, "b.txt": 9, "c.txt": 10, "d.txt": 10}
    assert read_source_log(str(tmp_path / "missing")) == {}


def _progress(batch_id, start, dur, ran=True):
    d = {"triggerExecution": dur, "latestOffset": 1}
    if ran:
        d["addBatch"] = dur - 1
    return {"batchId": batch_id, "timestamp": start, "durationMs": d, "numInputRows": 5}


def test_batch_end_is_trigger_start_plus_duration_and_skips_idle_reports():
    prog = [
        _progress(0, "2026-01-01T00:00:00.000Z", 1500),
        _progress(1, "2026-01-01T00:00:02.000Z", 20, ran=False),  # idle
        _progress(1, "2026-01-01T00:00:03.250Z", 800),
    ]
    base = 1767225600000  # 2026-01-01T00:00:00Z
    assert batch_end_ms(prog) == {0: base + 1500, 1: base + 3250 + 800}


def test_attribution_and_failed_line_accounting():
    stamps = {"a": [100, 150], "b": [200], "late": [300, 310, 320], "unread": [400]}
    file_batch = {"a": 0, "b": 1, "late": 2}
    batch_end = {0: 1000, 1: 1200, 2: 9000}
    lat, failed = attribute_lines(stamps, file_batch, batch_end, deadline_ms=5000)
    assert sorted(lat) == [850.0, 900.0, 1000.0]
    # three lines whose batch ended after the deadline, one never read
    assert failed == 4
    # a batch that never reported progress fails its lines too
    lat, failed = attribute_lines({"a": [1, 2]}, {"a": 5}, {}, deadline_ms=10)
    assert (lat, failed) == ([], 2)


def test_same_seed_gives_byte_identical_backlog(tmp_path):
    for d in ("x", "y"):
        chatgen.write_backlog(str(tmp_path / d), seed=5, n_files=2, lines_per_file=300)
    names = sorted(os.listdir(tmp_path / "x"))
    assert names == sorted(os.listdir(tmp_path / "y"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "x", tmp_path / "y", names, shallow=False)
    assert not mismatch and not errors and len(match) == 2
    other = chatgen.backlog_lines(seed=6, n_files=1, lines_per_file=300)[0]
    assert other != chatgen.backlog_lines(seed=5, n_files=1, lines_per_file=300)[0]


def test_same_seed_gives_identical_live_text():
    a, b = chatgen.ChatText(9), chatgen.ChatText(9)
    assert a.messages(500) == b.messages(500)
    assert a.messages(200) == b.messages(200)


def test_chat_text_has_the_edge_cases_the_parser_meets():
    text = " ".join(t for _, t in chatgen.ChatText(1).messages(3000))
    assert ":" in text  # the truncation quirk
    assert any(ord(c) > 0xFFFF for c in text)  # astral-plane emoji
    assert any(w.isupper() for w in text.split() if w.isalpha())
    assert " the " in f" {text} "
    assert "\n" not in text and "\r" not in text


def test_same_seed_gives_identical_tables():
    a, b = tablegen.make_tables(3, 0.05), tablegen.make_tables(3, 0.05)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not tablegen.make_tables(4, 0.05)["lineitem"].equals(a["lineitem"])


def test_cpu_seconds_counts_work_done_in_the_process_tree():
    work0, jit0 = cpu_seconds(set())
    sum(i * i for i in range(3_000_000))
    work1, jit1 = cpu_seconds(set())
    assert work1 - work0 >= 0.05
    assert jit1 >= jit0 >= 0


def test_normalized_cpu_is_the_median_repetition_over_the_median_calibration():
    ctx = Ctx(spark=None, work="", seed=1, seconds=0, cores=1, rss=RssSampler())
    ctx.rep_cpu = [2.0, 9.0, 3.0]  # one slow outlier
    ctx.cal = [CAL_REF_S * 2, CAL_REF_S * 2, CAL_REF_S * 5, CAL_REF_S * 2]
    # 1000 operations a repetition: 3 ms per operation at the median
    # repetition, on a host where the calibration took twice its reference
    assert ctx.norm_cpu_ms_per_op([1000, 1000, 1000]) == pytest.approx(1.5)


def test_the_memory_sampler_keeps_its_own_cpu_time_apart():
    rss = RssSampler()
    rss._sample()
    assert rss.cpu_s > 0
    ctx = Ctx(spark=None, work="", seed=1, seconds=0, cores=1, rss=rss)
    work, _ = cpu_seconds(set())
    assert ctx.cpu()[0] <= work - rss.cpu_s + 0.05
