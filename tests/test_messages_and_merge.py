"""Message parsing (P1-P4, incl. the ':' truncation quirk), the J1
``update_table`` merge (FIXTURES A6 shapes), and top-K determinism."""

from __future__ import annotations

import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.constants import STOPWORDS
from spark_streaming_twitch_analytics_spark.operators import merge, messages, topk
from spark_streaming_twitch_analytics_spark.sources.irc import format_privmsg


def parse_one(spark, line):
    raw = spark.createDataFrame([(line,)], "value string")
    return messages.format_raw_messages(raw).head().asDict()


def test_parse_privmsg_fields(spark):
    line = format_privmsg(1700000000123, "alice", "general", "Hello World")
    row = parse_one(spark, line)
    assert row["timestamp"] == "1700000000123"
    assert row["user"] == "alice"
    assert row["channel"] == "#general"
    assert row["text"] == "hello world"  # lowercased (P4)
    assert row["message"] == line


def test_parse_truncation_quirk_preserved(spark):
    # reference keeps only split-item 2: text after a ':' is TRUNCATED
    # (SparkRunner.scala:193-198; documented SURVEY §7 hard-point 2)
    line = format_privmsg(1, "bob", "chan", "see http://x.y for more")
    row = parse_one(spark, line)
    assert row["text"] == "see http"


def test_update_table_merge_shapes(spark):
    stored = spark.createDataFrame(
        [("both", 2), ("left_only", 5)], "word string, cnt int"
    )
    incoming = spark.createDataFrame(
        [("both", 3), ("right_only", 7)], "word string, cnt int"
    )
    got = {
        r["word"]: r["cnt"]
        for r in merge.update_table(stored, incoming, "word", "cnt").collect()
    }
    # full-outer + na.fill(0) + sum (RedisInterface.scala:61-73)
    assert got == {"both": 5, "left_only": 5, "right_only": 7}


def test_update_table_idempotent_empty(spark):
    stored = spark.createDataFrame([("w", 1)], "word string, cnt int")
    empty = spark.createDataFrame([], "word string, cnt int")
    got = merge.update_table(stored, empty, "word", "cnt").collect()
    assert [(r["word"], r["cnt"]) for r in got] == [("w", 1)]


def test_top_k_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("b", 2), ("a", 2), ("c", 2), ("d", 1)], "word string, cnt int"
    )
    got = [r["word"] for r in topk.top_k(df, "cnt", 2, ["word"]).collect()]
    assert got == ["a", "b"]


def test_top_k_per_group_matches_sorted_truth(spark):
    df = spark.createDataFrame(
        [("g1", "x", 3), ("g1", "y", 5), ("g1", "z", 5), ("g2", "q", 1)],
        "g string, word string, cnt int",
    )
    got = {
        (r["g"], r["word"], r["rn"])
        for r in topk.top_k_per_group(df, ["g"], "cnt", 1, ["word"]).collect()
    }
    assert got == {("g1", "y", 1), ("g2", "q", 1)}


def test_semi_join_equals_collect_whitelist(spark, docs):
    wc = messages.word_counts(F.col("text"), docs)
    top5 = topk.top_k(wc, "cnt", 5, ["word"])
    semi = topk.top_k_semi_join(wc, top5.select("word"), "word")
    whitelist = {r["word"] for r in top5.collect()}  # the reference's O3 way
    got = {r["word"] for r in semi.collect()}
    assert got == whitelist


def test_apply_changes_upsert_delete_untouched(spark):
    from spark_streaming_twitch_analytics_spark.operators import merge

    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k long, seq long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, 21, "a2", "U"),   # update k=1
            (1, 22, "a3", "U"),   # later update wins
            (2, 25, "bx", "D"),   # delete k=2
            (4, 40, "d", "U"),    # insert new key
            (5, 50, "e", "U"),    # insert then delete: latest wins -> gone
            (5, 51, "e2", "D"),
        ],
        "k long, seq long, v string, op string",
    )
    got = {
        (r["k"], r["seq"], r["v"])
        for r in merge.apply_changes(
            base, changes, keys=["k"], seq_cols=["seq"], broadcast_changes=True
        ).collect()
    }
    assert got == {(1, 22, "a3"), (3, 30, "c"), (4, 40, "d")}


def test_apply_changes_delete_then_reinsert(spark):
    from spark_streaming_twitch_analytics_spark.operators import merge

    base = spark.createDataFrame([(1, 1, "x")], "k long, seq long, v string")
    changes = spark.createDataFrame(
        [(1, 2, "x", "D"), (1, 3, "y", "U")], "k long, seq long, v string, op string"
    )
    rows = merge.apply_changes(base, changes, ["k"], ["seq"]).collect()
    assert [(r["k"], r["seq"], r["v"]) for r in rows] == [(1, 3, "y")]


def test_apply_changes_null_op_rejected_not_silent_delete(spark):
    """A malformed feed row with op=NULL must be IGNORED (key untouched)
    — left in, it would anti-join the base row away while failing the
    upsert filter, silently deleting the record."""
    base = spark.createDataFrame([(1, 10, 1.0), (2, 20, 2.0)], "k long, seq long, v double")
    changes = spark.createDataFrame(
        [(1, 30, 9.0, None), (2, 30, 8.0, "U")],
        "k long, seq long, v double, op string",
    )
    got = {
        r["k"]: (r["seq"], r["v"])
        for r in merge.apply_changes(base, changes, ["k"], ["seq"]).collect()
    }
    assert got[1] == (10, 1.0)  # NULL-op row ignored; base row survives
    assert got[2] == (30, 8.0)  # valid upsert applied


def test_epoch_guard_is_scoped_to_checkpoint_lineage(spark, tmp_path):
    """A FRESH checkpoint restarts foreachBatch epochs at 0; the
    exactly-once guard must not mistake those for replays of the old
    lineage's epochs (which would silently drop real batches)."""
    import pyspark.sql.types as T

    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore
    from spark_streaming_twitch_analytics_spark.streaming.wordcount import (
        COUNT_SCHEMA,
        apply_delta_once,
    )

    store = KVTableStore(spark, str(tmp_path / "kv"))
    delta = spark.createDataFrame([("w", 1)], COUNT_SCHEMA)
    assert apply_delta_once(store, "t", COUNT_SCHEMA, delta, "word", "cnt", 5, lineage="ckpt-A")
    # same lineage, same epoch → replay, skipped
    assert not apply_delta_once(store, "t", COUNT_SCHEMA, delta, "word", "cnt", 5, lineage="ckpt-A")
    # NEW lineage, epoch restarts at 0 → must apply
    assert apply_delta_once(store, "t", COUNT_SCHEMA, delta, "word", "cnt", 0, lineage="ckpt-B")
    rows = {r["word"]: r["cnt"] for r in store.get_table("t", COUNT_SCHEMA).collect()}
    assert rows == {"w": 2}


# word-count fuzz vocabulary: both stopword lists, words at and around
# the length threshold, case variants, `même` composed (a long fr
# stopword) and decomposed (5 code points, no stopword), astral-plane
# characters (one code point each in both engines). Separators are ASCII
# whitespace: on Unicode spaces the tokenizer twins differ (see
# test_tokenize_trim_differs_from_duckdb_on_unicode_space).
_WC_VOCAB = [
    *STOPWORDS["en"], *STOPWORDS["fr"], "The", "WITH", "Même", "MÊME",
    "me\u0302me", "abc", "abcd", "abcde", "café", "naïve", "日本語です",
    "a\U0001D11Eb", "a\U0001D11Ebc", "😀😀😀", "😀😀😀😀", "x😀😀😀", "alpha",
    "bravo", "charlie", "chat:", "#chan",
]
_WC_SEPS = [" ", "  ", "\t", " \n "]


def _fuzz_texts(seed: int, n: int) -> list[str | None]:
    rng = random.Random(seed)
    texts: list[str | None] = [None, "", " ", "   ", "\t\n", " \t \n  "]
    for _ in range(n):
        words = rng.choices(_WC_VOCAB, k=rng.randint(1, 12))
        seps = rng.choices(_WC_SEPS, k=len(words))
        edge = rng.choice(["", " ", "  ", "\t"])
        texts.append(edge + "".join(w + sep for w, sep in zip(words, seps)))
    return texts


@pytest.mark.parametrize("lang", ["en", "fr"])
def test_word_counts_row_filter_matches_duckdb_twin(spark, lang):
    """The row-form word filter counts what the DuckDB twin's list_filter
    counts, keyed and unkeyed, on fixed-seed fuzz text. `fr` lists 11
    stopwords longer than the length threshold, more than Catalyst's
    In-to-InSet threshold of 10, so it is checked through InSet; `en`
    lists 5 and stays In."""
    texts = _fuzz_texts(seed=4217, n=400)
    rows = [(i % 3, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "src int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (src INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    for keys in (None, ["src"]):
        wc = messages.word_counts(F.col("text"), df, lang, extra_keys=keys)
        got = sorted(tuple(r) for r in wc.collect())
        want = sorted(con.execute(
            messages.word_counts_sql("text", "docs", lang, extra_keys=keys)
        ).fetchall())
        assert got == want
        assert len(got) > 10
    words = {r[-2] for r in got}
    own, other = ("with", "nous") if lang == "en" else ("nous", "with")
    assert {other, "me\u0302me", "😀😀😀😀", "x😀😀😀", "a\U0001D11Ebc"} <= words
    assert not {own, "😀😀😀", "a\U0001D11Eb"} & words
    assert ("même" in words) == (lang == "en")
    optimized = wc._jdf.queryExecution().optimizedPlan().toString()
    assert ("INSET" in optimized) == (lang == "fr"), optimized
    assert "lambdafunction" not in optimized.lower(), optimized
    # split, explode and the filter run in generated code (a `*(n)`
    # prefix); a higher-order function would keep Generate out of it
    executed = wc._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\*\(\d+\) Generate", executed), executed


@pytest.mark.xfail(
    strict=True,
    reason="tokenize trims U+0020 only; DuckDB's trim also strips Unicode "
    "spaces, so a word ending in U+3000 is kept whole by Spark only",
)
def test_tokenize_trim_differs_from_duckdb_on_unicode_space(spark):
    from spark_streaming_twitch_analytics_spark.functions.text import (
        tokenize,
        tokenize_sql,
    )

    text = "alpha\u3000"
    got = spark.range(1).select(tokenize(F.lit(text))).head()[0]
    want = duckdb.connect().execute(f"SELECT {tokenize_sql('?')}", [text]).fetchone()[0]
    assert got == want


def test_streaming_word_counts_plan_has_no_lambda(spark, tmp_path):
    """The flagship stream filters words as a row predicate: the optimized
    plan of a running micro-batch holds no higher-order function (which
    would run interpreted) and its Generate runs in generated code."""
    from spark_streaming_twitch_analytics_spark.sources.irc import (
        file_line_source,
        write_batch_file,
    )
    from spark_streaming_twitch_analytics_spark.streaming import wordcount as SW

    src = str(tmp_path / "in")
    write_batch_file(src, [format_privmsg(1, "u", "c", "alpha the bravo")], 1)
    counts = SW.streaming_word_counts(file_line_source(spark, src))
    q = SW.memory_sink_query(counts, "wc_plan_check")
    try:
        q.processAllAvailable()
        execution = q._jsq.streamingQuery().lastExecution()
        optimized = execution.optimizedPlan().toString()
        executed = execution.executedPlan().toString()
    finally:
        q.stop()
    assert "Generate" in optimized and "Filter" in optimized, optimized
    assert "lambdafunction" not in optimized.lower(), optimized
    assert re.search(r"\*\(\d+\) Generate", executed), executed
