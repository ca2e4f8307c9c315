"""End-to-end test of the CLI entry point (__main__.py) — the
reference's launch surface (TwitchStream.scala:27-35) — in file-source
mode with deterministic input."""

from __future__ import annotations

from pyspark.sql import types as T

from spark_streaming_twitch_analytics_spark.__main__ import main
from spark_streaming_twitch_analytics_spark.sources import irc


def test_cli_file_source_counts_words_and_categories(spark, tmp_path):
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    lines = [
        irc.format_privmsg(1000 + i, f"u{i % 3}", "testchan", "hello stream hello")
        for i in range(10)
    ]
    irc.write_batch_file(src, lines, 0)

    rc = main(
        [
            "testchan",
            "1",
            "english",
            "--source",
            "file",
            "--dir",
            src,
            "--store",
            store,
            "--max-batches",
            "3",
        ]
    )
    assert rc == 0

    # the CLI stopped its own session; read the store with the test session
    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore

    kv = KVTableStore(spark, store)
    schema = T.StructType(
        [T.StructField("word", T.StringType()), T.StructField("cnt", T.LongType())]
    )
    words = {r["word"]: r["cnt"] for r in kv.get_table("testchan_wordcount", schema).collect()}
    # 10 messages × ("hello"×2 + "stream"×1); "hello"/"stream" are >3 chars
    assert words.get("hello") == 20
    assert words.get("stream") == 10
    cat_schema = T.StructType(
        [T.StructField("category", T.StringType()), T.StructField("cnt", T.LongType())]
    )
    cats = kv.get_table("testchan_categoryCount", cat_schema).collect()
    assert sum(r["cnt"] for r in cats) > 0


def test_bench_diff_flags_only_beyond_canary_envelope():
    """tools/bench_diff.py diff_summaries: host-speed drift (captured by
    the canary ratio) must NOT read as a regression; a genuine slowdown
    beyond the envelope AND the absolute floor must."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.bench_diff import diff_summaries

    prev = {
        "noise_canary": {"start": 0.2, "mid": 0.2, "end": 0.2},
        "queries": {"a": 1.0, "b": 1.0, "c": 0.2},
    }
    # host 2x slower uniformly: canary 0.4, every query 2x — no flags
    cur_drift = {
        "noise_canary": {"start": 0.4, "mid": 0.4, "end": 0.4},
        "queries": {"a": 2.0, "b": 2.0, "c": 0.4},
    }
    r = diff_summaries(prev, cur_drift)
    assert r["n_regressed_beyond_canary"] == 0
    assert r["canary_ratio"] == 2.0

    # same host speed, 'a' genuinely 3x slower; 'c' 3x slower but the
    # delta (0.4 s) is... above the 0.3 s floor -> both flag; 'b' 1.1x
    # (inside the 1.25 envelope) must not flag
    cur_reg = {
        "noise_canary": {"start": 0.2, "mid": 0.2, "end": 0.2},
        "queries": {"a": 3.0, "b": 1.1, "c": 0.6},
    }
    r = diff_summaries(prev, cur_reg)
    assert set(r["regressed"]) == {"a", "c"}
    assert r["n_regressed_beyond_canary"] == 2

    # sub-floor absolute deltas never flag even at a big ratio
    cur_tiny = {
        "noise_canary": {"start": 0.2, "mid": 0.2, "end": 0.2},
        "queries": {"a": 1.0, "b": 1.0, "c": 0.45},
    }
    assert diff_summaries(prev, cur_tiny)["n_regressed_beyond_canary"] == 0

    # missing canaries -> explicit error, never a silent 0
    assert diff_summaries({"queries": {}}, cur_tiny)["n_regressed_beyond_canary"] is None


def test_bench_diff_adjudication_crowding_vs_confirmed():
    """adjudicate_regressions (VERDICT r10 task 1): a flagged row whose
    FRESH-session retime lands back inside the canary envelope is
    stamped 'crowding' (not a regression); a row that reproduces the
    slowdown fresh stays loud as 'confirmed_regression'; a retime
    failure defaults loud, never silent."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.bench_diff import adjudicate_regressions

    def mk_diff():
        return {
            "envelope": 1.25,
            "n_regressed_beyond_canary": 2,
            "regressed": {
                "crowded_q": {
                    "prev_sec": 1.0, "expected_sec": 1.0,
                    "cur_sec": 3.0, "norm_slowdown": 3.0,
                },
                "real_q": {
                    "prev_sec": 1.0, "expected_sec": 1.0,
                    "cur_sec": 3.0, "norm_slowdown": 3.0,
                },
            },
        }

    # crowded_q retimes back to ~expected; real_q reproduces 3x fresh
    d = adjudicate_regressions(
        mk_diff(), "/root/repo",
        retime_fn=lambda names: {"crowded_q": 1.05, "real_q": 2.9},
    )
    assert d["regressed"]["crowded_q"]["verdict"] == "crowding"
    assert d["regressed"]["real_q"]["verdict"] == "confirmed_regression"
    assert d["n_confirmed_regressions"] == 1
    assert d["regressed"]["real_q"]["retime_sec"] == 2.9

    # retime blowing up must not demote anything: all stay confirmed
    d = adjudicate_regressions(
        mk_diff(), "/root/repo",
        retime_fn=lambda names: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    assert d["n_confirmed_regressions"] == 2
    assert "adjudication_error" in d

    # a missing per-row retime defaults loud
    d = adjudicate_regressions(
        mk_diff(), "/root/repo", retime_fn=lambda names: {"crowded_q": 1.0},
    )
    assert d["regressed"]["real_q"]["verdict"] == "confirmed_regression"

    # no flags -> no subprocess, zero confirmed
    d = adjudicate_regressions(
        {"regressed": {}, "envelope": 1.25}, "/root/repo",
        retime_fn=lambda names: (_ for _ in ()).throw(AssertionError),
    )
    assert d["n_confirmed_regressions"] == 0

    # sub-floor absolute retime delta is crowding even past the envelope
    # (0.2s expected, retime 0.3s: ratio 1.5 > envelope but delta 0.1s)
    d = adjudicate_regressions(
        {
            "envelope": 1.25,
            "regressed": {
                "tiny": {"prev_sec": 0.2, "expected_sec": 0.2,
                         "cur_sec": 0.9, "norm_slowdown": 4.5}
            },
        },
        "/root/repo",
        retime_fn=lambda names: {"tiny": 0.3},
    )
    assert d["regressed"]["tiny"]["verdict"] == "crowding"


def test_bench_diff_reports_lost_streaming_metric(tmp_path):
    """A streaming probe that had lines_per_sec in the previous summary
    and now records an error (or nothing) is a lost metric: listed by
    diff_summaries and exit 1 from the CLI, even with no query slower."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo))
    from tools.bench_diff import diff_summaries

    canary = {"start": 0.2, "mid": 0.2, "end": 0.2}
    prev = {
        "noise_canary": canary,
        "queries": {"a": 1.0},
        "streaming_probe": {"lines_per_sec": 10573.2},
        "streaming_probe_100x": {"lines_per_sec": 46400.4},
    }
    cur = {
        "noise_canary": canary,
        "queries": {"a": 1.0},
        "streaming_probe": {"error": "query terminated", "lines_per_sec": None},
        "streaming_probe_100x": None,
    }
    r = diff_summaries(prev, cur)
    assert r["n_regressed_beyond_canary"] == 0
    assert r["lost_metrics"] == {
        "streaming_probe": {
            "prev_lines_per_sec": 10573.2, "error": "query terminated",
        },
        "streaming_probe_100x": {"prev_lines_per_sec": 46400.4, "error": None},
    }
    # a probe still reporting, or one the previous round never had, is not lost
    assert diff_summaries(prev, prev)["lost_metrics"] == {}
    assert diff_summaries(cur, cur)["lost_metrics"] == {}

    def cli(p, c):
        for name, doc in (("prev.json", p), ("cur.json", c)):
            (tmp_path / name).write_text(json.dumps(doc))
        return subprocess.run(
            [sys.executable, str(repo / "tools" / "bench_diff.py"),
             str(tmp_path / "prev.json"), str(tmp_path / "cur.json")],
            capture_output=True, text=True, timeout=60,
        ).returncode

    assert cli(prev, cur) == 1
    assert cli(prev, prev) == 0


def test_replica_cert_flag_annotations_cover_known_quadratic_rows():
    """Every row the r9/r10 artifacts showed super-linear by design must
    carry a QUADRATIC_BY_DESIGN annotation, so the cert tool's
    unannotated-flag hard-fail can never trip on a documented row."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.replica_cert import QUADRATIC_BY_DESIGN

    for name in (
        "ann_brute_topk",
        "ann_brute_topk_np",
        "ann_sq8_topk",
        "ann_sq8_index_topk",
        "ann_pq_topk",
        "dedup_semantic",
    ):
        assert name in QUADRATIC_BY_DESIGN, name
        assert len(QUADRATIC_BY_DESIGN[name]) > 20  # a real explanation


def test_time_query_runs_warm_plus_best_of_two(spark, monkeypatch):
    """bench.time_query is the one timing protocol every tool shares:
    the query is built 3 times (warm + 2 timed) and release_all runs 3
    times (after the warm run and after each timed run)."""
    import types

    import bench

    built, released = [], []

    def fn(s, sf_dir):
        built.append(sf_dir)
        return s.range(1)

    monkeypatch.setattr(
        bench.registry, "get", lambda name: types.SimpleNamespace(fn=fn)
    )
    monkeypatch.setattr(bench, "release_all", lambda: released.append(1))
    sec = bench.time_query(spark, "any_query", "sf_dir")
    assert built == ["sf_dir"] * 3
    assert len(released) == 3
    assert isinstance(sec, float) and sec >= 0


def test_fresh_session_retime_runs_bench_names_mode(monkeypatch):
    """tools/bench_diff's fresh-session retime launches `bench.py <names>`:
    it returns {name: sec} and never rewrites the round artifact
    bench_summary.json."""
    from pathlib import Path

    from conftest import SF_SMALL
    from tools.bench_diff import _fresh_session_retime

    repo = Path(__file__).resolve().parents[1]
    summary = repo / "bench_summary.json"
    before = summary.read_bytes()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    out = _fresh_session_retime(["q1_pricing_summary"], str(repo))
    assert set(out) == {"q1_pricing_summary"}
    assert isinstance(out["q1_pricing_summary"], float)
    assert out["q1_pricing_summary"] > 0
    assert summary.read_bytes() == before


def test_bench_and_every_tool_import():
    """bench and every tools/*.py module import by name without running
    main, so a deleted module cannot leave a dangling import behind."""
    import importlib
    from pathlib import Path

    importlib.import_module("bench")
    tools = sorted(Path(__file__).resolve().parents[1].glob("tools/*.py"))
    assert tools
    for path in tools:
        importlib.import_module(f"tools.{path.stem}")
