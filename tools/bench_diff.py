"""Round-over-round bench regression guardrail (VERDICT r9 task 7).

Until now the per-query round-over-round comparison lived in the judge's
head (a manual diff of two ``bench_summary.json`` files). This tool makes
it a repo artifact: given the previous round's committed summary and the
current run, it canary-normalizes the old times onto the current host
speed and flags queries whose slowdown exceeds the noise envelope the
canary itself measured.

Normalization: the pinned canary workload (``bench._canary_time``, whose
plan has not changed since round 1) runs at suite start/middle/end in
both summaries. ``ratio = mean(cur canaries) / mean(prev canaries)``
estimates host-speed drift between the two runs; a query's expected
current time is ``prev * ratio``.

Envelope: the within-run canary spread (max/min of the three samples)
bounds how noisy THIS host was DURING the suite; a query is flagged only
when it exceeds expected × max(spread, 1.25) AND by more than 0.3 s
absolute (sub-0.3 s deltas on sub-second queries are scheduler jitter,
not plan regressions).

Lost metrics: a streaming probe (``streaming_probe``,
``streaming_probe_100x``) that reported ``lines_per_sec`` in the previous
summary and now carries an ``error`` or no figure is listed under
``lost_metrics``: bench.py records a failed probe instead of raising, so
without this a broken stream would read as a clean comparison.

Library use (bench.py calls this before overwriting the summary):
    from tools.bench_diff import diff_summaries
    report = diff_summaries(prev_doc, cur_doc)

Adjudication: ``adjudicate_regressions`` re-times every flagged query in
a fresh session with ``bench.py <names>`` (the same ``bench.time_query``
protocol) and stamps each row ``crowding`` or ``confirmed_regression``.

CLI: python tools/bench_diff.py [prev_json] [cur_json]
  (defaults: prev = bench_summary.json@HEAD via git show, cur = working
  tree bench_summary.json)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

MIN_ENVELOPE = 1.25  # canary-quiet floor: host noise never reads as 0
ABS_FLOOR_SEC = 0.3  # ignore sub-0.3s deltas — scheduler jitter
STREAM_PROBES = ("streaming_probe", "streaming_probe_100x")


def _lost_metrics(prev: dict, cur: dict) -> dict:
    """{probe: {"prev_lines_per_sec", "error"}} for every streaming probe
    that had ``lines_per_sec`` in ``prev`` and has none in ``cur``."""
    lost = {}
    for key in STREAM_PROBES:
        before = (prev.get(key) or {}).get("lines_per_sec")
        now = cur.get(key) or {}
        if before is not None and now.get("lines_per_sec") is None:
            lost[key] = {"prev_lines_per_sec": before, "error": now.get("error")}
    return lost


def _canary_stats(doc: dict) -> tuple[float, float] | None:
    """(mean, spread) of a summary's start/mid/end canary samples."""
    c = doc.get("noise_canary") or {}
    vals = [c[k] for k in ("start", "mid", "end") if c.get(k)]
    if len(vals) < 2 or min(vals) <= 0:
        return None
    return sum(vals) / len(vals), max(vals) / min(vals)


def diff_summaries(prev: dict, cur: dict) -> dict:
    """Compare two bench_summary docs; returns {ratio, envelope,
    n_common, n_regressed_beyond_canary, regressed: {name: row},
    lost_metrics: {probe: row}}."""
    lost = _lost_metrics(prev, cur)
    pc, cc = _canary_stats(prev), _canary_stats(cur)
    if pc is None or cc is None:
        return {
            "error": "missing canary samples",
            "n_regressed_beyond_canary": None,
            "lost_metrics": lost,
        }
    ratio = cc[0] / pc[0]
    envelope = max(MIN_ENVELOPE, cc[1], pc[1])
    prev_q, cur_q = prev.get("queries", {}), cur.get("queries", {})
    common = sorted(set(prev_q) & set(cur_q))
    regressed: dict[str, dict] = {}
    for name in common:
        expected = prev_q[name] * ratio
        if (
            cur_q[name] > expected * envelope
            and cur_q[name] - expected > ABS_FLOOR_SEC
        ):
            regressed[name] = {
                "prev_sec": prev_q[name],
                "expected_sec": round(expected, 3),
                "cur_sec": cur_q[name],
                "norm_slowdown": round(cur_q[name] / expected, 2),
            }
    return {
        "canary_ratio": round(ratio, 3),
        "envelope": round(envelope, 3),
        "n_common": len(common),
        "n_regressed_beyond_canary": len(regressed),
        "regressed": regressed,
        "lost_metrics": lost,
        "rule": f"flag if cur > prev*ratio*max(spread,{MIN_ENVELOPE}) "
        f"and cur-prev*ratio > {ABS_FLOOR_SEC}s",
    }


def adjudicate_regressions(
    diff: dict, repo_root: str, retime_fn=None
) -> dict:
    """Self-adjudicating guardrail (VERDICT r10 task 1): a flagged row
    can be host crowding during the suite (GC pressure, code cache,
    other tenants) rather than a plan regression — r10's artifact
    permanently reads "4 regressed" for what fresh-session retiming
    proved was crowding. This re-times every flagged query in a FRESH
    session (new JVM, ``bench.py <names>``: the ``bench.time_query``
    protocol) and records the verdict per row:

    - ``crowding``: the fresh-session time is back within the canary
      envelope of the expected time — the suite-run number was host
      noise, not the plan;
    - ``confirmed_regression``: the fresh session reproduces the
      slowdown — a real plan change that must be bisected.

    Mutates and returns ``diff``: each ``regressed`` row gains
    ``retime_sec`` and ``verdict``; the dict gains
    ``n_confirmed_regressions`` (the loud number — crowding rows no
    longer read as regressions, but they stay recorded).
    ``retime_fn(names) -> {name: sec}`` is injectable for tests; the
    default launches the retime subprocess."""
    regressed = diff.get("regressed") or {}
    if not regressed:
        diff["n_confirmed_regressions"] = 0
        return diff
    names = sorted(regressed)
    if retime_fn is None:
        retime_fn = lambda ns: _fresh_session_retime(ns, repo_root)  # noqa: E731
    try:
        retimes = retime_fn(names)
    except Exception as e:  # adjudication must never sink the bench
        diff["adjudication_error"] = str(e)[:200]
        diff["n_confirmed_regressions"] = len(regressed)
        return diff
    envelope = diff.get("envelope") or MIN_ENVELOPE
    confirmed = 0
    for name, row in regressed.items():
        t = retimes.get(name)
        row["retime_sec"] = t
        if t is None:
            row["verdict"] = "confirmed_regression"  # loud on missing data
            confirmed += 1
            continue
        expected = row["expected_sec"]
        if t <= expected * envelope or t - expected <= ABS_FLOOR_SEC:
            row["verdict"] = "crowding"
        else:
            row["verdict"] = "confirmed_regression"
            confirmed += 1
    diff["n_confirmed_regressions"] = confirmed
    return diff


def _fresh_session_retime(names: list[str], repo_root: str) -> dict:
    """Run ``bench.py <names>`` in a subprocess (fresh JVM, same warm +
    best-of-2 noop protocol, no summary written) and return its
    {name: sec} map (the final JSON line of its stdout)."""
    out = subprocess.run(
        [sys.executable, os.path.join(repo_root, "bench.py"), *names],
        cwd=repo_root,
        capture_output=True,
        timeout=1800,
        text=True,
    )
    if out.returncode != 0:
        raise RuntimeError(f"retime subprocess rc={out.returncode}: "
                           f"{out.stderr[-300:]}")
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def load_prev_committed(repo_root: str) -> dict | None:
    """The previous round's summary = bench_summary.json at HEAD (the
    working-tree copy is about to be overwritten by the current run)."""
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:bench_summary.json"],
            cwd=repo_root,
            capture_output=True,
            timeout=30,
        )
        if out.returncode != 0:
            return None
        return json.loads(out.stdout)
    except Exception:
        return None


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if len(sys.argv) > 1:
        with open(sys.argv[1]) as fh:
            prev = json.load(fh)
    else:
        prev = load_prev_committed(here)
        if prev is None:
            print("no committed bench_summary.json at HEAD", file=sys.stderr)
            sys.exit(2)
    cur_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        here, "bench_summary.json"
    )
    with open(cur_path) as fh:
        cur = json.load(fh)
    report = diff_summaries(prev, cur)
    print(json.dumps(report, indent=1, sort_keys=True))
    # exit contract (ADVICE r10): 0 = clean zero-regression comparison,
    # 1 = regressions flagged or a streaming metric lost, 2 = comparison
    # impossible (missing canaries) — never a silent 0 when nothing was
    # actually compared
    if report.get("error") or report.get("n_regressed_beyond_canary") is None:
        sys.exit(2)
    sys.exit(
        1 if report["n_regressed_beyond_canary"] or report["lost_metrics"] else 0
    )


if __name__ == "__main__":
    main()
