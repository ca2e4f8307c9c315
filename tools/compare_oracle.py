"""Local stand-in for the driver's t2 correctness gate: the one
Spark-vs-DuckDB oracle runner.

Runs every registry query (or the named ones) on Spark and its oracle SQL
on DuckDB at a given scale factor, checks the output contract
(``contract.non_atomic_fields``), then compares row count, column names,
and an order-insensitive value hash (rows sorted by their string
rendering, columns sorted by name — mirroring the driver contract's
description).

Usage: python tools/compare_oracle.py [--bare] [sf_dir] [query ...] > LOCAL_ORACLE_rN.json

stderr gets one line per query (plus a few spark-only / duck-only rows on
a mismatch) and a closing ``ALL OK`` or failure list; stdout gets one JSON
record (counts plus a per-query ``status``, row counts and the Spark /
DuckDB seconds). Exit status is 1 when any query is neither ``ok`` nor
``rows_only``. ``--bare`` runs on a session with none of the factory
configs, as the driver does.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from spark_streaming_twitch_analytics_spark import registry
from spark_streaming_twitch_analytics_spark.cache import release_all
from spark_streaming_twitch_analytics_spark.contract import non_atomic_fields
from spark_streaming_twitch_analytics_spark.session import get_spark
from spark_streaming_twitch_analytics_spark.tables import TABLE_NAMES

#: Statuses that pass the gate; ``fail`` and the ``*-error`` ones do not.
PASSING = ("ok", "rows_only")


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def _rendered(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["\x1f".join(norm_cell(r[i]) for i in order) for r in rows]


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    rendered = sorted(_rendered(cols, rows))
    h = hashlib.sha256("\n".join(rendered).encode()).hexdigest()[:16]
    return h, len(rows)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p  # dir = multi-part write
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _sec(t0: float) -> float:
    return round(time.perf_counter() - t0, 1)


def _log(name: str, msg: str) -> None:
    print(f"{name:28s} {msg}", file=sys.stderr)


def check(spark, con, q: registry.QueryDef, sf_dir: str) -> dict:
    """Run ``q`` on Spark and its twin on ``con``. Never raises: the
    record's ``status`` is one of ``ok``, ``fail``, ``rows_only``,
    ``spark-error``, ``contract-error`` or ``oracle-error`` (the errors
    carry ``err``), next to ``spark_rows``, ``oracle_rows``,
    ``hash_match``, ``spark_sec`` and ``oracle_sec`` (None where the
    step did not run)."""
    release_all()  # drop cached intermediates from the previous query
    rec = {"spark_rows": None, "oracle_rows": None, "hash_match": None,
           "spark_sec": None, "oracle_sec": None}

    def error(status: str, e) -> dict:
        detail = "".join(traceback.format_exception(e)) if isinstance(e, Exception) else e
        _log(q.name, f"{status.upper()} {detail}")
        return {**rec, "status": status, "err": str(e)[:200]}

    t0 = time.perf_counter()
    try:
        sdf = q.fn(spark, sf_dir)
        # the driver-canonicalizer contract (contract.py): streaming
        # queries aren't lintable lazily in tests/test_contract.py, so the
        # executed run enforces it for every query
        bad = non_atomic_fields(sdf.schema)
        if not bad:
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        rec["spark_sec"] = _sec(t0)
        return error("spark-error", e)
    rec["spark_sec"] = _sec(t0)
    if bad:
        return error("contract-error", f"non-atomic output columns {bad}: "
                     "the driver's pandas canonicalizer cannot hash these")
    sh, sn = frame_hash(scols, srows)
    rec["spark_rows"] = sn
    if q.sql is None:
        _log(q.name, f"rows-only  n={sn} ({rec['spark_sec']}s)")
        return {**rec, "status": "rows_only"}

    t1 = time.perf_counter()
    try:
        res = con.execute(q.sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        rec["oracle_sec"] = _sec(t1)
        return error("oracle-error", e)
    rec["oracle_sec"] = _sec(t1)
    dh, dn = frame_hash(dcols, drows)
    ok_cols = sorted(scols) == sorted(dcols)
    ok = ok_cols and sh == dh and sn == dn
    _log(q.name, f"{'OK  ' if ok else 'FAIL'} n={sn}/{dn} hash={sh}/{dh} "
         f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
         f"(spark {rec['spark_sec']}s, oracle {rec['oracle_sec']}s)")
    if not ok and ok_cols:  # show a few differing rows for debugging
        sset, dset = set(_rendered(scols, srows)), set(_rendered(dcols, drows))
        for tag, xs in (("spark-only", sset - dset), ("duck-only ", dset - sset)):
            for x in sorted(xs)[:2]:
                print(f"   {tag}:", x.replace("\x1f", " | ")[:160], file=sys.stderr)
    return {**rec, "status": "ok" if ok else "fail", "oracle_rows": dn, "hash_match": ok}


def run(spark, sf_dir: str, names=()) -> int:
    """Check the named registry queries (all when none are named), print
    the JSON record to stdout and the verdict to stderr; return the exit
    status."""
    con = connect(sf_dir)
    out = {
        q.name: check(spark, con, q, sf_dir)
        for q in registry._REGISTRY
        if not names or q.name in names
    }
    n = {s: sum(r["status"] == s for r in out.values()) for s in ("ok", "fail", "rows_only")}
    doc = {
        "n_queries": len(out),
        "n_ok": n["ok"],
        "n_fail": n["fail"],
        "n_rows_only": n["rows_only"],
        "n_error": len(out) - sum(n.values()),
        "sf_dir": sf_dir,
        "note": "registry queries vs their DuckDB oracles via tools/compare_oracle.py",
        "queries": dict(sorted(out.items())),
    }
    json.dump(doc, sys.stdout, indent=1, sort_keys=True)
    print()
    bad = [k for k, r in out.items() if r["status"] not in PASSING]
    bad += [f"{k} (not registered)" for k in sorted(set(names) - set(out))]
    print(f"\n{len(bad)} failures: {bad}" if bad else "\nALL OK", file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--bare"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if "--bare" in sys.argv:
        # simulate the driver: a session with NONE of our factory configs
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("bare").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(shuffle_partitions=8)
    try:
        return run(spark, sf_dir, set(args[1:]))
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
