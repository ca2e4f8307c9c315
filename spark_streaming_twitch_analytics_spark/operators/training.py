"""Training-data prep pipeline — the reference's batch worksheet
(``ProcessingWorkSheet.sc:35-134``) re-expressed as ONE Catalyst plan.

Reference flow: CSV → na.drop → clean UDFs → explode discussions →
trim → outlier ``array_except`` → ``length(text) > 50`` filter →
top-100 labels (groupBy → sort → limit → **collect to driver**) →
whitelist-intersect UDF → ``size(label) > 0`` → coalesce(1) parquet.

Rebuild deltas (all scale-driven):
- U1/U2/U3 UDFs become built-ins (regexp_replace / array ops).
- The collect-to-driver whitelist (O3) becomes a broadcast LEFT SEMI
  join — the top-K frame never leaves the cluster.
- Labels re-assemble via sort_array(collect_list(...)) so output is
  order-deterministic.

The synthetic corpus has no ``discussions``/``categories`` CSV columns;
the pipeline derives a bracketed category string from ``source``/``lang``
so the exact same operator chain (strip listchars → split → except →
top-K → intersect) is exercised and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    MIN_TEXT_LENGTH,
    OUTLIER_LABELS,
    sql_str_list,
)
from ..functions import lit_array
from ..functions.text import clean_disc, clean_disc_sql, strip_listchars, strip_listchars_sql


def prepare_training_data(
    docs: DataFrame,
    top_k: int = 5,
    min_text_len: int = MIN_TEXT_LENGTH,
    outliers: tuple[str, ...] = OUTLIER_LABELS,
) -> DataFrame:
    """documents(text, source, lang) → (doc_id, text, labels) with labels
    restricted to the corpus's top-K, outliers removed."""
    cat_string = F.concat(
        F.lit('["'), F.col("source"), F.lit("', '"), F.col("lang"), F.lit('"]')
    )
    outlier_arr = lit_array(outliers)
    base = (
        docs.na.drop(subset=["text", "source", "lang"])
        .withColumn("text", F.trim(clean_disc(F.col("text"))))
        .filter(F.length("text") > min_text_len)
        .withColumn(
            "label",
            F.array_except(
                F.split(strip_listchars(cat_string), ", "), outlier_arr
            ),
        )
    )
    exploded = base.select("doc_id", "text", F.explode("label").alias("l"))
    top_labels = (
        exploded.groupBy("l")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l"))
        .limit(top_k)
    )
    kept = exploded.join(F.broadcast(top_labels.select("l")), "l", "left_semi")
    return (
        kept.groupBy("doc_id", "text")
        .agg(F.sort_array(F.collect_list("l")).alias("label"))
        .filter(F.size("label") > 0)
        .select("doc_id", "text", F.array_join("label", ",").alias("labels"))
    )


def prepare_training_worksheet(
    csv_df: DataFrame,
    top_k: int = 100,
    min_text_len: int = MIN_TEXT_LENGTH,
    outliers: tuple[str, ...] = OUTLIER_LABELS,
) -> DataFrame:
    """The reference worksheet end-to-end on its OWN input shape
    (``title, text, discussions, categories`` CSV — FIXTURES §A5):

    na.drop → clean the discussions blob (U1) → split into items →
    explode → trim → ``length > 50`` filter → strip the categories
    list-string (U2) → split into a label array → outlier
    ``array_except`` (P12) → top-K labels → whitelist intersect (U3) →
    ``size > 0`` → (text, label).

    The whitelist is collected to the driver as the reference does
    (``ProcessingWorkSheet.sc:113-114``) — top-K is bounded (≤ ``top_k``
    rows) so this is safe at any corpus size; ``prepare_training_data``
    shows the pure semi-join alternative."""
    outlier_arr = lit_array(outliers)
    base = (
        csv_df.na.drop()
        .select(
            F.split(clean_disc(F.col("discussions")), ",").alias("items"),
            F.split(strip_listchars(F.col("categories")), ", ").alias("label"),
        )
        .select(F.explode("items").alias("text"), "label")
        .withColumn("text", F.trim("text"))
        .filter(F.length("text") > min_text_len)
        .withColumn("label", F.array_except("label", outlier_arr))
    )
    top_labels = [
        r["l"]
        for r in (
            base.select(F.explode("label").alias("l"))
            .groupBy("l")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"))
            .limit(top_k)
            .collect()
        )
    ]
    keep_arr = lit_array(top_labels)
    return (
        base.withColumn("label", F.array_intersect("label", keep_arr))
        .filter(F.size("label") > 0)
        .select("text", "label")
    )


def prepare_training_data_sql(
    top_k: int = 5,
    min_text_len: int = MIN_TEXT_LENGTH,
    outliers: tuple[str, ...] = OUTLIER_LABELS,
) -> str:
    cat = """'["' || source || ''', ''' || lang || '"]'"""
    stripped = strip_listchars_sql(cat)
    cleaned = f"trim({clean_disc_sql('text')})"
    return f"""
WITH base AS (
  SELECT doc_id, {cleaned} AS text,
         list_filter(string_split({stripped}, ', '),
                     x -> x NOT IN ({sql_str_list(outliers)})) AS label
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL AND lang IS NOT NULL
    AND length({cleaned}) > {min_text_len}
),
exploded AS (SELECT doc_id, text, unnest(label) AS l FROM base),
top_labels AS (
  SELECT l FROM (SELECT l, count(*) AS cnt FROM exploded GROUP BY l)
  ORDER BY cnt DESC, l ASC LIMIT {top_k}
)
SELECT doc_id, text,
       array_to_string(list_sort(list(l)), ',') AS labels
FROM exploded WHERE l IN (SELECT l FROM top_labels)
GROUP BY doc_id, text
HAVING len(list(l)) > 0"""
