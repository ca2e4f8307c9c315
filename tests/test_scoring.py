"""Classifier surface: Arrow-batched scorer UDF ≡ native column
expression; threshold boundary; positional decode (reference ``indexOf``
bug fixed — TFInterface.scala:63-66)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.constants import ENCODER_CLASSES
from spark_streaming_twitch_analytics_spark.functions import scoring


def test_hash_scorer_udf_matches_native_expression(spark, docs):
    udf = scoring.score_udf(scoring.HashScorer())
    edge = spark.createDataFrame(
        [("",), ("a\U0001D11Eb😀😀",), ("user!u@tmi PRIVMSG #c :hi: there",)],
        "text string",
    )
    both = docs.limit(50).select("text").unionByName(edge).select(
        "text",
        udf(F.col("text")).alias("via_udf"),
        scoring.hash_scores(F.col("text")).alias("native"),
    )
    rows = both.collect()
    assert {"", "a\U0001D11Eb😀😀"} <= {r["text"] for r in rows}
    for r in rows:
        # bit-identical (k/15 doubles)
        assert [repr(x) for x in r["via_udf"]] == [repr(x) for x in r["native"]], r["text"]


def test_score_decode_column_builds_in_few_jvm_calls(spark):
    """Building the threshold-decode Column must not grow with the number
    of classes: one score expression and one literal per class would
    cost ~4,600 Py4J round trips. The count is deterministic for a given
    PySpark version."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        scoring.decode_categories(scoring.hash_scores(F.col("text")))
    finally:
        del client.send_command  # back to the class's method
    assert 0 < calls[0] <= 300, calls[0]


def test_scores_shape_and_range(spark, docs):
    row = docs.limit(1).select(scoring.hash_scores(F.col("text")).alias("s")).head()
    assert len(row["s"]) == 50
    assert all(0.0 <= x <= 1.0 for x in row["s"])


def test_threshold_is_strict_greater(spark):
    # scores are k/15; 8/15 ≈ 0.533 passes, 7/15 ≈ 0.467 doesn't; and a
    # score EXACTLY at the threshold must be dropped (reference keeps > 0.5)
    df = spark.createDataFrame([(1,)], "id int").select(
        scoring.decode_categories(
            F.array(F.lit(0.5), F.lit(0.51), F.lit(0.49)), threshold=0.5
        ).alias("cats")
    )
    assert df.head()["cats"] == [ENCODER_CLASSES[1]]


def test_duplicate_scores_decode_positionally(spark):
    # reference bug: preds.indexOf(x) maps duplicate values to the FIRST
    # index; rebuild must decode each position independently
    df = spark.createDataFrame([(1,)], "id int").select(
        scoring.decode_categories(
            F.array(F.lit(0.9), F.lit(0.9), F.lit(0.1)), threshold=0.5
        ).alias("cats")
    )
    assert df.head()["cats"] == [ENCODER_CLASSES[0], ENCODER_CLASSES[1]]


def test_http_scorer_one_request_per_batch(spark):
    """HTTPScorer (TF-Serving shape, TFInterface.scala:18-42) must send
    the WHOLE batch as one {"instances": [...]} request and parse
    {"predictions": [[...]]} — fixing the reference's per-row POST."""
    import json

    def stub_transport(url, payload):
        # the UDF runs in a worker process, so side effects on driver
        # state are invisible; encode the evidence (request batch size)
        # INTO every score row instead
        assert url.endswith(":predict")
        instances = json.loads(payload)["instances"]
        preds = [
            [float(len(instances))] + [(len(t) + i) % 16 / 15.0 for i in range(49)]
            for t in instances
        ]
        return json.dumps({"predictions": preds}).encode()

    scorer = scoring.HTTPScorer(
        "http://model-server:8501/v1/models/m:predict", transport=stub_transport
    )
    df = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(200)], "id long, text string"
    ).coalesce(1)
    out = df.select(
        "id", scoring.score_udf(scorer)(F.col("text")).alias("s")
    ).collect()
    assert len(out) == 200 and all(len(r["s"]) == 50 for r in out)
    # one Arrow batch (coalesce(1), 200 rows < default 10k batch size) →
    # ONE request carrying all 200 instances: every row saw batch size 200
    assert all(r["s"][0] == 200.0 for r in out)
    # values round-trip through the JSON predictions matrix
    row0 = next(r for r in out if r["id"] == 0)
    assert row0["s"][1] == (len("text number 0") + 0) % 16 / 15.0


def test_http_scorer_rejects_row_count_mismatch():
    import json

    import pandas as pd
    import pytest

    def bad_transport(url, payload):
        return json.dumps({"predictions": [[0.0] * 50]}).encode()

    scorer = scoring.HTTPScorer("http://x/v1/models/m:predict", transport=bad_transport)
    with pytest.raises(ValueError, match="1 predictions for 3 instances"):
        scorer.score_batch(pd.Series(["a", "b", "c"]))


def test_http_scorer_null_text_sent_as_empty_string():
    import json

    import pandas as pd

    seen = {}

    def stub(url, payload):
        seen["instances"] = json.loads(payload)["instances"]
        return json.dumps(
            {"predictions": [[0.0] * 50 for _ in seen["instances"]]}
        ).encode()

    scorer = scoring.HTTPScorer("http://x/v1/models/m:predict", transport=stub)
    out = scorer.score_batch(pd.Series(["a", None, "c"]))
    assert seen["instances"] == ["a", "", "c"]
    assert out.shape == (3, 50)


def test_http_scorer_drops_into_sentiment_surface(spark):
    """The model-backed sentiment surface must accept ANY Scorer —
    including an HTTPScorer against a served 3-class model (the
    reference's pretrained-pipeline story, pipelines.scala:10-40)."""
    import json

    def stub(url, payload):
        instances = json.loads(payload)["instances"]
        # a fake served model: 'good' → pos, 'bad' → neg, else neutral
        preds = [
            [1.0, 0.0, 0.0] if "bad" in t else
            [0.0, 0.0, 1.0] if "good" in t else [0.0, 1.0, 0.0]
            for t in instances
        ]
        return json.dumps({"predictions": preds}).encode()

    label = scoring.sentiment_label_udf(
        scoring.HTTPScorer("http://x/v1/models/sentiment:predict", transport=stub)
    )
    df = spark.createDataFrame(
        [(1, "good stream"), (2, "bad lag"), (3, "hello"), (4, None)],
        "id long, text string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", label("text").alias("l")).collect()}
    assert got == {1: "pos", 2: "neg", 3: "neutral", 4: None}


def test_lexicon_sentiment_scorer_matches_native_sign(spark, docs):
    """LexiconSentimentScorer's argmax label must equal the native
    lexicon score's sign on real corpus text (same arithmetic)."""
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.constants import (
        SENTIMENT_NEGATIVE,
        SENTIMENT_POSITIVE,
    )
    from spark_streaming_twitch_analytics_spark.functions import text as X

    label = scoring.sentiment_label_udf(
        scoring.LexiconSentimentScorer(
            frozenset(SENTIMENT_POSITIVE), frozenset(SENTIMENT_NEGATIVE)
        )
    )
    s = X.sentiment_score(X.tokenize(F.col("text")))
    native = F.when(s > 0, "pos").when(s < 0, "neg").otherwise("neutral")
    both = docs.limit(200).select(
        label("text").alias("model"), native.alias("native")
    )
    for r in both.collect():
        assert r["model"] == r["native"]


def test_lexicon_sentiment_scorer_edge_cases(spark):
    """The three divergences flaged in review: (1) a positive score that
    rounds to 0 at 4dp must label 'neutral' like the round(...,4) twins;
    (2) NBSP must NOT split tokens (Java/RE2 \\s is ASCII-only — Python's
    str.split would split it); (3) NULL text → NULL label, matching the
    oracle's explicit NULL branch."""
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.constants import (
        SENTIMENT_NEGATIVE,
        SENTIMENT_POSITIVE,
    )
    from spark_streaming_twitch_analytics_spark.functions import text as X

    label = scoring.sentiment_label_udf(
        scoring.LexiconSentimentScorer(
            frozenset(SENTIMENT_POSITIVE), frozenset(SENTIMENT_NEGATIVE)
        )
    )
    tiny = "good " + "x " * 20000  # 1/20001 rounds to 0.0000 at 4dp
    nbsp = "good bad ok"  # one token 'good\xa0bad' — hits neither lexicon
    df = spark.createDataFrame(
        [(1, tiny), (2, nbsp), (3, None)], "id long, text string"
    )
    s = X.sentiment_score(X.tokenize(F.col("text")))
    native = F.when(F.col("text").isNull(), None).when(s > 0, "pos").when(
        s < 0, "neg"
    ).otherwise("neutral")
    rows = df.select(
        "id", label("text").alias("model"), native.alias("native")
    ).collect()
    got = {r["id"]: (r["model"], r["native"]) for r in rows}
    assert got[1] == ("neutral", "neutral")
    assert got[2] == ("neutral", "neutral")
    assert got[3] == (None, None)


def test_udf_and_native_scores_agree_on_null_text(spark):
    """NULL text must decode identically through both paths: the native
    twin yields an all-NULL score array (md5(NULL) is NULL) → no labels;
    the Arrow UDF path must not silently score the empty string."""
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.functions import scoring

    df = spark.createDataFrame([(1, None), (2, "hello world")], "id long, text string")
    native = df.select(
        "id", scoring.decode_categories(scoring.hash_scores(F.col("text"))).alias("c")
    ).collect()
    via_udf = df.select(
        "id",
        scoring.decode_categories(
            scoring.score_udf(scoring.HashScorer())(F.col("text"))
        ).alias("c"),
    ).collect()
    n = {r["id"]: r["c"] for r in native}
    u = {r["id"]: r["c"] for r in via_udf}
    assert list(n[1] or []) == list(u[1] or []) == []
    assert list(n[2]) == list(u[2]) and len(n[2]) > 0
