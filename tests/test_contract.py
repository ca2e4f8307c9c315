"""Driver-contract lints over the whole registry.

The driver's correctness gate collects every sampled query's result into
pandas and canonicalizes it by lexsorting the value columns
(``sort_values`` → ``Categorical`` → ``factorize``). pandas cannot hash
list/dict cells, so a query whose OUTPUT schema carries an
``ArrayType``/``MapType``/``StructType`` column errors in the driver
even when its values are hash-identical to the oracle's — exactly what
happened to round 8's ``multimodal_image_resize`` (``array<int>`` →
``TypeError: unhashable type: 'list'`` in ``CORRECTNESS_r08.json``).

These lints pin the contract in tests/ so the failure class can never
reach the driver again: every registered query's result schema must be
atomic at the top level (arrays are fine INSIDE a plan — explode,
aggregate, or hex-encode them before the final select).

Streaming queries (``streaming_*``) run real micro-batch jobs, so their
schemas can't be read lazily here; they're linted by the same check in
``tools/compare_oracle.py``, which executes them (status ``contract-error``).
"""

from __future__ import annotations

import pyspark.sql.types as T
import pytest

from spark_streaming_twitch_analytics_spark import registry
from spark_streaming_twitch_analytics_spark.contract import (
    non_atomic_fields,
)

SF = "/root/testdata/sf0.001"

_SCHEMAS: dict[str, T.StructType] = {}


def _batch_schemas(spark) -> dict[str, T.StructType]:
    """Result schema for every non-streaming registered query, built once
    per session. Most plans are lazy (schema costs nothing); the handful
    of eager builders (persisted ANN/BPE artifacts) pay their one-time
    fingerprint-keyed build here, same as in the plan lints."""
    if not _SCHEMAS:
        for qd in registry._REGISTRY:
            if qd.name.startswith("streaming_"):
                continue
            _SCHEMAS[qd.name] = qd.fn(spark, SF).schema
    return _SCHEMAS


@pytest.mark.slow  # builder-side per-round ritual (see pytest.ini)
def test_registered_output_schemas_are_canonicalizer_safe(spark):
    bad = {
        name: offenders
        for name, schema in _batch_schemas(spark).items()
        if (offenders := non_atomic_fields(schema))
    }
    assert not bad, (
        "registered queries expose non-atomic top-level columns — the "
        "driver's pandas canonicalizer cannot lexsort these cells "
        "(CORRECTNESS would record err, not a hash): "
        f"{bad}. Explode to rows, aggregate, or hex/concat_ws-encode "
        "the column before the final select."
    )


def test_non_atomic_fields_detects_all_container_types():
    """The lint helper itself: arrays, maps, and structs all trip it;
    atomic columns don't."""
    schema = T.StructType(
        [
            T.StructField("ok_long", T.LongType()),
            T.StructField("ok_str", T.StringType()),
            T.StructField("ok_ts", T.TimestampType()),
            T.StructField("ok_dec", T.DecimalType(10, 2)),
            T.StructField("arr", T.ArrayType(T.IntegerType())),
            T.StructField("mp", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "st",
                T.StructType([T.StructField("x", T.LongType())]),
            ),
        ]
    )
    assert non_atomic_fields(schema) == {
        "arr": "array<int>",
        "mp": "map<string,bigint>",
        "st": "struct<x:bigint>",
    }
    assert non_atomic_fields(T.StructType(schema.fields[:4])) == {}


def test_round8_image_resize_shape_would_fail(spark):
    """Regression pin: the exact round-8 shape (``resized array<int>``)
    must trip the lint — and the shipped query must not."""
    import pyspark.sql.functions as F

    r8_shape = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("resized"),
        F.lit(3).alias("px_sum"),
    )
    assert non_atomic_fields(r8_shape.schema) == {"resized": "array<int>"}
    shipped = _batch_schemas(spark)["multimodal_image_resize"]
    assert non_atomic_fields(shipped) == {}
    assert [f.name for f in shipped.fields] == [
        "doc_id",
        "resized_hex",
        "px_sum",
    ]


def test_every_query_has_an_oracle_or_is_streaming():
    """The round-4 invariant, pinned: every batch query carries a DuckDB
    oracle string (the driver's weaker rows-only path is reserved for
    the genuinely non-SQL-expressible streaming runs)."""
    missing = [
        qd.name
        for qd in registry._REGISTRY
        if qd._sql is None and not qd.name.startswith("streaming_")
    ]
    assert not missing, f"batch queries without oracles: {missing}"


def test_registry_names_are_unique():
    names = [qd.name for qd in registry._REGISTRY]
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"duplicate registry names: {dupes}"


@pytest.mark.parametrize("kind", ["queries", "oracles"])
def test_entry_module_exposes_full_registry(kind):
    """__spark_entry__ must surface every registered query/oracle (the
    stale-first ordering reorders but never drops)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if kind == "queries":
        assert set(mod.queries()) == {q.name for q in registry._REGISTRY}
    else:
        assert set(mod.oracle_sql()) == {
            q.name for q in registry._REGISTRY if q._sql is not None
        }
