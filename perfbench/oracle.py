"""Correctness gate: DuckDB twins of every benchmarked output, compared by
row count, column names and an order-insensitive value hash."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from spark_streaming_twitch_analytics_spark.functions.scoring import (
    decode_categories_sql,
    hash_scores_sql,
)
from spark_streaming_twitch_analytics_spark.operators.messages import (
    format_raw_messages_sql,
    word_counts_sql,
)
from spark_streaming_twitch_analytics_spark.tables import TABLE_NAMES
from tools.compare_oracle import frame_hash


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def table_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def same_result(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark result matches the oracle, else why not."""
    dcols, drows = duck_result(con, sql)
    if sorted(dcols) != sorted(cols):
        return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
    got, want = frame_hash(cols, rows), frame_hash(dcols, drows)
    if got != want:
        return f"rows/hash {got[1]}/{got[0]} vs oracle {want[1]}/{want[0]}"
    return None


def stream_oracles() -> tuple[str, str]:
    """(word count SQL, category count SQL) over a registered ``raw`` table
    of wire lines: the same twins the program's own oracles use."""
    fmt = format_raw_messages_sql("SELECT value FROM raw")
    words = word_counts_sql("text", f"({fmt}) fmt", "en")
    cats = (
        f"WITH fmt AS ({fmt}), "
        "scored AS (SELECT md5(text) || md5('s' || text) AS h FROM fmt), "
        f"s AS (SELECT {hash_scores_sql('h')} AS scores FROM scored), "
        f"x AS (SELECT unnest({decode_categories_sql('scores')}) AS category FROM s) "
        "SELECT category, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY category"
    )
    return words, cats


def lines_connection(lines: list[str]):
    con = duckdb.connect()
    con.register("raw", pa.table({"value": pa.array(lines, pa.string())}))
    return con
