"""``tools/compare_oracle.py``, the one Spark-vs-DuckDB oracle runner:
every status it can give is recorded in the JSON record, a query that
raises does not stop the run, and any status other than ``ok`` or
``rows_only`` makes the exit status 1."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from conftest import SF_SMALL as SF

from spark_streaming_twitch_analytics_spark import registry
from spark_streaming_twitch_analytics_spark.tables import load_table
from tools import compare_oracle

_REGION_SQL = "SELECT r_regionkey, r_name FROM region"


def _region(spark, sf_dir):
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


def _raises(spark, sf_dir):
    raise RuntimeError("stub query failed")


def _stubs() -> list[registry.QueryDef]:
    return [
        registry.QueryDef("stub_match", _region, _REGION_SQL),
        registry.QueryDef("stub_raises", _raises, _REGION_SQL),
        registry.QueryDef(
            "stub_values_differ",
            lambda s, d: _region(s, d).withColumn("r_regionkey", F.col("r_regionkey") + 1),
            _REGION_SQL,
        ),
        registry.QueryDef(
            "stub_array_output",
            lambda s, d: _region(s, d).select(F.array(F.lit(1)).alias("a")),
            "SELECT [1] AS a FROM region",
        ),
        registry.QueryDef("stub_broken_sql", _region, "SELEC r_name FROM region"),
        registry.QueryDef("stub_rows_only", _region, None),
    ]


_BASE_KEYS = {"status", "spark_rows", "oracle_rows", "hash_match", "spark_sec", "oracle_sec"}


def test_runner_records_every_status_and_fails_on_errors(spark, monkeypatch, capsys):
    monkeypatch.setattr(registry, "_REGISTRY", _stubs())
    code = compare_oracle.run(spark, SF)
    out, err = capsys.readouterr()
    doc = json.loads(out)

    assert code == 1
    assert set(doc) == {
        "n_queries", "n_ok", "n_fail", "n_rows_only", "n_error", "sf_dir", "note", "queries",
    }
    assert (doc["n_queries"], doc["n_ok"], doc["n_fail"], doc["n_rows_only"], doc["n_error"]) == (
        6, 1, 1, 1, 3,
    )
    recs = doc["queries"]
    assert {k: r["status"] for k, r in recs.items()} == {
        "stub_match": "ok",
        "stub_raises": "spark-error",
        "stub_values_differ": "fail",
        "stub_array_output": "contract-error",
        "stub_broken_sql": "oracle-error",
        "stub_rows_only": "rows_only",
    }
    for name, r in recs.items():
        errs = r["status"].endswith("-error")
        assert set(r) == _BASE_KEYS | ({"err"} if errs else set()), name
    assert "stub query failed" in recs["stub_raises"]["err"]
    assert "array<int>" in recs["stub_array_output"]["err"]
    assert recs["stub_match"] | {"spark_sec": 0, "oracle_sec": 0} == {
        "status": "ok", "spark_rows": 5, "oracle_rows": 5, "hash_match": True,
        "spark_sec": 0, "oracle_sec": 0,
    }
    assert recs["stub_values_differ"]["hash_match"] is False
    assert recs["stub_rows_only"]["spark_rows"] == 5
    assert recs["stub_rows_only"]["oracle_rows"] is None
    assert recs["stub_broken_sql"]["spark_rows"] == 5
    assert recs["stub_broken_sql"]["oracle_sec"] is not None
    # a mismatch shows sample rows from both sides; the verdict names
    # every query that did not pass
    assert "spark-only:" in err and "duck-only :" in err
    verdict = err.strip().splitlines()[-1]
    assert verdict.startswith("4 failures:")
    for name in ("stub_raises", "stub_values_differ", "stub_array_output", "stub_broken_sql"):
        assert name in verdict


def test_runner_named_subset_exit_status(spark, monkeypatch, capsys):
    monkeypatch.setattr(registry, "_REGISTRY", _stubs())
    assert compare_oracle.run(spark, SF, {"stub_match", "stub_rows_only"}) == 0
    out, err = capsys.readouterr()
    assert sorted(json.loads(out)["queries"]) == ["stub_match", "stub_rows_only"]
    assert err.strip().endswith("ALL OK")

    # an error alone, with no mismatch next to it, fails the run
    assert compare_oracle.run(spark, SF, {"stub_match", "stub_raises"}) == 1
    out, err = capsys.readouterr()
    assert json.loads(out)["n_error"] == 1
    assert err.strip().endswith("1 failures: ['stub_raises']")

    assert compare_oracle.run(spark, SF, {"stub_match", "no_such_query"}) == 1
    out, err = capsys.readouterr()
    assert json.loads(out)["n_queries"] == 1
    assert "no_such_query (not registered)" in err
