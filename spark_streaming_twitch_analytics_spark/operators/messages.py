"""IRC message parsing + word counting — the reference's flagship dataflow.

Rebuilds ``helpers.formatRawDataFrame`` (``SparkRunner.scala:191-209``) and
the wordcount branch (``SparkRunner.scala:115-127``) as one declarative
DataFrame plan: parse → tokenize → explode → word filter (length and
stopwords) → groupBy.count. Catalyst turns the count into
partial-HashAggregate → shuffle → final-HashAggregate automatically —
the map-side combine the reference hand-rolled with ``reduceByKey``
(``SparkRunner.scala:117,126``) is free here, and the plan survives a
1000-executor scale-up (one shuffle, keyed on the word).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import DEFAULT_LANG, MIN_WORD_LENGTH
from ..functions.text import countable_words_sql, is_countable_word, tokenize

RAW_SCHEMA = "value string"  # receiver output (IRCBot.scala:52-53)


def synth_raw_lines(docs: DataFrame) -> DataFrame:
    """Deterministic IRC-shaped raw lines from the documents table, matching
    the receiver's wire format ``{epoch_ms}:{user}!{host} PRIVMSG #{chan} :{text}``
    (``IRCBot.scala:52-53`` prefixes receive-time millis to the raw line).

    Text newlines collapse to spaces: the IRC wire is CRLF-delimited, so
    a message can never contain a raw line break — and a file/socket
    transport of the synthesized lines would otherwise split one message
    into malformed fragments."""
    user = F.concat(F.lit("u"), (F.col("doc_id") % 7).cast("string"))
    wire_text = F.regexp_replace(F.col("text"), "[\\r\\n]+", " ")
    value = F.concat(
        (F.lit(1700000000000) + F.col("doc_id")).cast("string"),
        F.lit(":"),
        user,
        F.lit("!"),
        user,
        F.lit("@tmi PRIVMSG #"),
        F.col("lang"),
        F.lit(" :"),
        wire_text,
    )
    return docs.select(value.alias("value"))


def synth_raw_lines_sql() -> str:
    """DuckDB twin of :func:`synth_raw_lines` (FROM documents)."""
    return (
        "SELECT CAST(1700000000000 + doc_id AS VARCHAR) || ':' || "
        "'u' || CAST(doc_id % 7 AS VARCHAR) || '!' || "
        "'u' || CAST(doc_id % 7 AS VARCHAR) || '@tmi PRIVMSG #' || lang "
        "|| ' :' || regexp_replace(text, '[\\r\\n]+', ' ', 'g') "
        "AS value FROM documents"
    )


def format_raw_messages(raw: DataFrame) -> DataFrame:
    """``formatRawDataFrame`` rebuilt (``SparkRunner.scala:191-209``):

    - rename ``value`` → ``message`` (P1)
    - split on ``:`` → timestamp / metadata / text (P2). The reference
      keeps only item 2, so any ``:`` inside the text TRUNCATES it — a
      documented quirk we preserve for parity (SURVEY §7 "what's hard" #2).
    - user = metadata before ``!``; channel = 3rd space-token (P3)
    - lowercase text (P4)
    """
    parts = F.split(F.col("message"), ":")
    meta_tokens = F.split(F.col("metadata"), " ")
    return (
        raw.withColumnRenamed("value", "message")
        .withColumn("timestamp", parts.getItem(0))
        .withColumn("metadata", parts.getItem(1))
        .withColumn("text", F.lower(parts.getItem(2)))
        .withColumn("user", F.split(F.col("metadata"), "!").getItem(0))
        .withColumn("channel", meta_tokens.getItem(2))
        .select("message", "metadata", "timestamp", "user", "channel", "text")
    )


def format_raw_messages_sql(raw_rel: str) -> str:
    """DuckDB twin (1-based list indexing)."""
    return f"""
SELECT message, metadata, timestamp, "user", channel, text FROM (
  SELECT value AS message,
         string_split(value, ':')[2] AS metadata,
         string_split(value, ':')[1] AS timestamp,
         lower(string_split(value, ':')[3]) AS text,
         string_split(string_split(value, ':')[2], '!')[1] AS "user",
         string_split(string_split(value, ':')[2], ' ')[3] AS channel
  FROM ({raw_rel})
)"""


def word_counts(
    text: Column,
    df: DataFrame,
    lang: str = DEFAULT_LANG,
    min_len: int = MIN_WORD_LENGTH,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """tokenize → explode → word filter → count
    (``SparkRunner.scala:121-126`` rebuilt; A2/A3). The filter is a row
    predicate on the exploded word, so split, explode, filter and the
    partial count run in one generated-code stage."""
    keys = extra_keys or []
    return (
        df.select(*keys, F.explode(tokenize(text)).alias("word"))
        .where(is_countable_word(F.col("word"), lang, min_len))
        .groupBy(*keys, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def word_counts_sql(
    text_expr: str,
    rel: str,
    lang: str = DEFAULT_LANG,
    min_len: int = MIN_WORD_LENGTH,
    extra_keys: list[str] | None = None,
) -> str:
    keys = ", ".join(extra_keys or [])
    key_sel = f"{keys}, " if keys else ""
    key_grp = f"{keys}, " if keys else ""
    return (
        f"SELECT {key_sel}word, CAST(count(*) AS BIGINT) AS cnt FROM "
        f"(SELECT {key_sel}unnest({countable_words_sql(text_expr, lang, min_len)}) "
        f"AS word FROM {rel}) GROUP BY {key_grp}word"
    )
