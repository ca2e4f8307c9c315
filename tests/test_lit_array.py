"""``functions.lit_array`` ≡ ``F.array(*[F.lit(x) for x in values])``:
same values, same column type, same optimized plan — for strings that
need escaping, signed zero and extreme doubles, ints, and no values."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.functions import lit_array

CASES = {
    "strings": ["it's", "back\\slash", "100%", "a\\'b", "\\%", "\\u0041", "\U0001F600 x", ""],
    "doubles": [-0.0, 1e-300, 0.1, 5e-324, -1.7976931348623157e308, 1e16, 3.0],
    "ints": [1, -1, 0, 2147483647, -2147483648],
    "with_null": ["a", None],
    "empty": [],
}


def _old(values):
    return F.array(*[F.lit(x) for x in values])


def _optimized(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("case", sorted(CASES))
def test_lit_array_matches_unrolled_array(spark, case):
    values = CASES[case]
    one = spark.range(1)
    new_df = one.select(lit_array(values).alias("a"))
    old_df = one.select(_old(values).alias("a"))
    assert new_df.schema["a"].dataType == old_df.schema["a"].dataType
    got, want = new_df.head()["a"], old_df.head()["a"]
    assert [repr(x) for x in got] == [repr(x) for x in want] == [repr(x) for x in values]
    assert _optimized(new_df) == _optimized(old_df)


def test_lit_array_strings_ignore_escaped_string_literals_setting(spark):
    values = CASES["strings"]
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        got = spark.range(1).select(lit_array(values).alias("a")).head()["a"]
    finally:
        spark.conf.unset(key)
    assert got == values


def test_worksheet_with_no_surviving_labels_keeps_empty_array_behaviour(spark, tmp_path):
    # every item is shorter than min_text_len → no top labels → the
    # whitelist is array(), as F.array() made it: an empty result, not an error
    from spark_streaming_twitch_analytics_spark.operators.training import (
        prepare_training_worksheet,
    )
    from spark_streaming_twitch_analytics_spark.sources import io as sio

    p = str(tmp_path / "train.csv")
    with open(p, "w") as f:
        f.write('title,text,discussions,categories\n"P1","t1","short","[\'Histoire\']"\n')
    out = prepare_training_worksheet(sio.read_training_csv(spark, p), min_text_len=50)
    assert out.schema.simpleString() == "struct<text:string,label:array<string>>"
    assert out.collect() == []


@pytest.mark.parametrize("bad", [float("inf"), float("nan"), b"bytes"])
def test_lit_array_refuses_values_without_a_literal(bad):
    with pytest.raises(ValueError):
        lit_array(["a", bad])
