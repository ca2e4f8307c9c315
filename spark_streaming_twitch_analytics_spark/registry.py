"""Query registry — backs ``__spark_entry__.py``.

Every implemented operator from SURVEY §2 (plus the scale extensions) is
registered as a named query: a PySpark callable ``(spark, sf_dir) → DataFrame``
and, when SQL-expressible, a DuckDB oracle SQL string over the same parquet
tables. Column names are aligned on both sides (the driver hashes values
column-name-sorted).

Determinism rules applied throughout:
- every top-K carries a total tie-break order;
- every float produced by cross-row accumulation is rounded (2-6 dp);
- every float produced row-locally uses identical fold order on both
  engines (see ``functions.vectors``) so no tolerance is needed.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import (
    DEFAULT_LANG,
    OUTLIER_LABELS,
    SCORE_THRESHOLD,
    STOPWORDS,
    sql_str_array,
    sql_str_list,
)
from .functions import scoring
from .functions import text as X
from .functions import vectors as V
from .operators import (
    dedup,
    merge,
    messages,
    multimodal,
    quantiles,
    similarity,
    topk,
    training,
)
from .tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    # DuckDB oracle; None → rows-only check. A zero-arg callable defers
    # oracle construction (e.g. resource-file reads) past import time,
    # so a missing/corrupt resource degrades to THIS query erroring
    # instead of breaking `import registry` for every query.
    _sql: str | None | Callable[[], str]
    survey: str = ""  # SURVEY §2 row ids this query evidences
    tags: tuple[str, ...] = field(default_factory=tuple)

    @property
    def sql(self) -> str | None:
        if callable(self._sql):
            try:
                self._sql = self._sql()
            except Exception as e:  # degrade: only this query's oracle fails
                self._sql = (
                    "SELECT 'oracle construction failed: "
                    + str(e).replace("'", "''")
                    + "' AS oracle_error"
                )
        return self._sql


_REGISTRY: list[QueryDef] = []


def register(
    name: str,
    sql: str | None | Callable[[], str],
    survey: str = "",
    tags: tuple[str, ...] = (),
):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY.append(QueryDef(name, fn, sql, survey, tags))
        return fn

    return deco


def _certification_rounds() -> dict[str, int]:
    """Latest round in which each query got a green row, derived at runtime
    from the driver's own ``CORRECTNESS_r*.json`` records (no frozen literal,
    so the list cannot drift as queries are added or renamed)."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    latest: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            # Only a real driver hash-match counts as certification.  (A
            # rows-only "no_oracle" run used to earn green credit here, which
            # stranded queries that later gained oracles behind every
            # never-sampled query in the stale-first ordering.)
            green = row.get("hash_match") is True
            if green:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _ordered_registry() -> list[QueryDef]:
    """Never-certified queries first, then least-recently-certified — so a
    bounded-prefix sampler re-verifies the stalest certifications (including
    anything whose implementation changed since its last green row) instead
    of permanently skipping them. Stable within each certification round."""
    rounds = _certification_rounds()
    order = sorted(
        enumerate(_REGISTRY), key=lambda iq: (rounds.get(iq[1].name, -1), iq[0])
    )
    return [q for _, q in order]


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered_registry()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.sql for q in _ordered_registry() if q.sql is not None}


def get(name: str) -> QueryDef:
    return next(q for q in _REGISTRY if q.name == name)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ===========================================================================
# 1. Reference flagship: IRC parse → tokenize → count → top-K (SURVEY §7 P0)
# ===========================================================================

_FLAGSHIP_SQL = f"""
WITH raw AS ({messages.synth_raw_lines_sql()}),
fmt AS ({messages.format_raw_messages_sql("SELECT * FROM raw")}),
wc AS ({messages.word_counts_sql("text", "fmt")})
SELECT word, cnt FROM wc ORDER BY cnt DESC, word ASC LIMIT 100"""


@register(
    "flagship_wordcount",
    _FLAGSHIP_SQL,
    survey="S1-shape,P1-P4,N2-N3,P13,P8,A1-A3,O1-O2",
)
def flagship_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature computation end-to-end in batch:
    receiver-shaped lines → formatRawDataFrame → wordcount → top-100."""
    raw = messages.synth_raw_lines(_docs(spark, sf_dir))
    fmt = messages.format_raw_messages(raw)
    wc = messages.word_counts(F.col("text"), fmt)
    return topk.top_k(wc, "cnt", 100, ["word"])


@register(
    "format_messages",
    f"""WITH raw AS ({messages.synth_raw_lines_sql()})
{messages.format_raw_messages_sql("SELECT * FROM raw")}""",
    survey="P1,P2,P3,P4,P5,P6",
)
def format_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages.format_raw_messages(
        messages.synth_raw_lines(_docs(spark, sf_dir))
    )


@register(
    "wordcount",
    messages.word_counts_sql("text", "documents"),
    survey="A1,A2,A3,P8,P13,N2,N3",
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages.word_counts(F.col("text"), _docs(spark, sf_dir))


@register(
    "wordcount_by_channel",
    messages.word_counts_sql("text", "documents", extra_keys=["source"]),
    survey="A1 keyed",
)
def wordcount_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages.word_counts(
        F.col("text"), _docs(spark, sf_dir), extra_keys=["source"]
    )


@register(
    "category_count",
    "SELECT category, cnt FROM (SELECT lang AS category, CAST(count(*) AS BIGINT)"
    " AS cnt FROM documents GROUP BY lang) WHERE cnt > 1",
    survey="A1,P8 (worksheet count>1 filter, DStreamTests.sc:248)",
)
def category_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy(category).count() + the worksheet's count>1 filter."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.col("lang").alias("category"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


# ===========================================================================
# 2. Projections / scalar functions (P4, P7, P10, P14, U1, U2)
# ===========================================================================


@register(
    "scalar_projection",
    """SELECT doc_id, lower(text) AS text_lower,
CAST(length(text) AS INT) AS text_len,
CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INT) AS n_tokens,
trim(source) AS source_trim, CAST(n_chars AS INT) AS n_chars_int
FROM documents""",
    survey="P4,P5,P7,P10,P14",
)
def scalar_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.lower("text").alias("text_lower"),
        F.length("text").alias("text_len"),
        F.size(X.tokenize(F.col("text"))).alias("n_tokens"),
        F.trim("source").alias("source_trim"),
        F.col("n_chars").cast("int").alias("n_chars_int"),
    )


@register(
    "clean_text",
    f"""SELECT doc_id,
{X.clean_disc_sql("'< br / >' || text || chr(10) || ' tail'")} AS cleaned
FROM documents""",
    survey="U1",
)
def clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 ``clean_disc`` over text with injected markers (the corpus has
    none, so we add them to actually exercise the replacement)."""
    d = _docs(spark, sf_dir)
    noisy = F.concat(F.lit("< br / >"), F.col("text"), F.lit("\n tail"))
    return d.select("doc_id", X.clean_disc(noisy).alias("cleaned"))


@register(
    "strip_listchars",
    f"SELECT event_id, {X.strip_listchars_sql('props')} AS cleaned FROM events",
    survey="U2",
)
def strip_listchars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", X.strip_listchars(F.col("props")).alias("cleaned"))


@register(
    "tokens_nostop",
    f"""SELECT doc_id, coalesce(array_to_string(
{X.remove_stopwords_sql(X.tokenize_sql("text"), DEFAULT_LANG)}, ' '), '') AS toks
FROM documents""",
    survey="N2,N3",
)
def tokens_nostop(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = X.remove_stopwords(X.tokenize(F.col("text")), DEFAULT_LANG)
    return d.select("doc_id", F.array_join(toks, " ").alias("toks"))


@register(
    "explode_tokens",
    f"""SELECT doc_id, unnest({X.countable_words_sql("text", DEFAULT_LANG)}) AS word
FROM documents""",
    survey="P13,P8",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.explode(X.countable_words(F.col("text"), DEFAULT_LANG)).alias("word"),
    )


@register(
    "array_ops",
    f"""SELECT doc_id,
COALESCE(array_to_string(list_sort(list_filter(list_distinct({X.tokenize_sql("text")}),
  x -> x NOT IN ({sql_str_list(OUTLIER_LABELS)}))), ' '), '') AS except_outliers,
COALESCE(array_to_string(list_sort(list_intersect(list_distinct({X.tokenize_sql("text")}),
  {sql_str_array(STOPWORDS[DEFAULT_LANG])})), ' '), '') AS stop_hits,
CAST(len({X.tokenize_sql("text")}) AS INT) AS n_tok
FROM documents""",
    survey="P11,P12,P14,U3",
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 literal array + P12 array_except + U3 array_intersect + P14 size.

    Spark's array_except/array_intersect dedupe; we feed distinct token
    sets so both engines agree, and sort the intersect (Spark preserves
    left order, DuckDB doesn't guarantee one)."""
    d = _docs(spark, sf_dir)
    toks = F.array_distinct(X.tokenize(F.col("text")))
    outliers = F.array(*[F.lit(x) for x in OUTLIER_LABELS])
    stops = X.stopword_array(DEFAULT_LANG)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_except(toks, outliers)), " ").alias(
            "except_outliers"
        ),
        F.array_join(F.array_sort(F.array_intersect(toks, stops)), " ").alias(
            "stop_hits"
        ),
        F.size(X.tokenize(F.col("text"))).alias("n_tok"),
    )


# ===========================================================================
# 3. Merge / top-K (J1, A4 batch form, O1-O3)
# ===========================================================================

_WC_EVEN = messages.word_counts_sql("text", "documents WHERE doc_id % 2 = 0")
_WC_ODD = messages.word_counts_sql("text", "documents WHERE doc_id % 2 = 1")


@register(
    "update_table_merge",
    merge.update_table_sql(_WC_EVEN, _WC_ODD, "word", "cnt"),
    survey="J1,A4,P9,P15,P1",
)
def update_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ``update_table``: stored (even docs) + incoming (odd docs)
    wordcounts merged by full-outer join — the reference's cross-batch
    running-count maintenance in batch form (A4 ≡ J1∘A1)."""
    d = _docs(spark, sf_dir)
    stored = messages.word_counts(F.col("text"), d.filter(F.col("doc_id") % 2 == 0))
    incoming = messages.word_counts(F.col("text"), d.filter(F.col("doc_id") % 2 == 1))
    return merge.update_table(stored, incoming, "word", "cnt")


_CDC_BASE = """
  SELECT user_id, event_id, value FROM (
    SELECT user_id, event_id, value,
      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id < (SELECT max(event_id) // 2
                                  FROM events)) WHERE rn = 1"""
_CDC_CHANGES = """
  SELECT user_id, event_id, value,
    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events WHERE event_id >= (SELECT max(event_id) // 2
                                 FROM events)"""


@register(
    "cdc_apply_changes",
    merge.apply_changes_sql(
        _CDC_BASE,
        _CDC_CHANGES,
        keys=["user_id"],
        seq_cols=["event_id"],
        out_cols=["user_id", "event_id", "value"],
    ),
    survey="ext: CDC upsert — apply a change feed (latest-per-key, "
    "delete ops) to a keyed base; broadcast touched keys so the base "
    "never reshuffles",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC scenario on the events stream: base = each user's latest
    pre-split event, change feed = post-split events ('error' → delete,
    anything else → upsert). The winner per user is the highest
    event_id."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    # floor-divide on BOTH engines: DuckDB CAST(x/2 AS BIGINT) rounds to
    # nearest while Spark cast truncates, so an odd max would classify the
    # boundary event differently
    half = ev.agg(F.floor(F.max("event_id") / 2).cast("long")).first()[0]
    w = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    base = (
        ev.filter(F.col("event_id") < half)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )
    changes = ev.filter(F.col("event_id") >= half).select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    return merge.apply_changes(
        base,
        changes,
        keys=["user_id"],
        seq_cols=["event_id"],
        broadcast_changes=True,
    )


@register(
    "scd2_user_history",
    merge.scd2_history_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        keys=["user_id"],
        attr_col="event_type",
        seq_cols=["event_id"],
        ts_col="ts",
    ),
    survey="ext: SCD2 temporal versioning — collapse an append-only "
    "change log into type-2 dimension rows with [valid_from, valid_to) "
    "intervals and a current flag; one shuffle total (both windows "
    "share the key partitioning, exchange reused)",
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's event_type as a slowly-changing attribute: versioned
    interval history instead of the reference's latest-only snapshot."""
    ev = load_table(spark, sf_dir, "events")
    return merge.scd2_history(
        ev.select("user_id", "ts", "event_id", "event_type"),
        keys=["user_id"],
        attr_col="event_type",
        seq_cols=["event_id"],
        ts_col="ts",
    )


@register(
    "topk_words_per_lang",
    topk.top_k_per_group_sql(
        messages.word_counts_sql("text", "documents", extra_keys=["lang"]),
        ["lang"],
        "cnt",
        5,
        ["word"],
    ),
    survey="O1,O2 scalable form (window)",
)
def topk_words_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = messages.word_counts(F.col("text"), _docs(spark, sf_dir), extra_keys=["lang"])
    return topk.top_k_per_group(wc, ["lang"], "cnt", 5, ["word"])


_TOP20 = f"""SELECT word FROM ({messages.word_counts_sql("text", "documents")})
ORDER BY cnt DESC, word ASC LIMIT 20"""


@register(
    "semi_join_top_words",
    f"""WITH wc AS ({messages.word_counts_sql("text", "documents")}),
top20 AS ({_TOP20})
SELECT word, cnt FROM wc WHERE word IN (SELECT word FROM top20)""",
    survey="O3 as broadcast semi-join",
)
def semi_join_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference collects the top-label whitelist to the driver
    (``ProcessingWorkSheet.sc:113-114``); here the whitelist stays
    distributed via broadcast LEFT SEMI."""
    wc = messages.word_counts(F.col("text"), _docs(spark, sf_dir))
    top20 = topk.top_k(wc, "cnt", 20, ["word"]).select("word")
    return topk.top_k_semi_join(wc, top20, "word")


# ===========================================================================
# 4. Classifier surface (U4b/U4c, N7)
# ===========================================================================

_SCORED_CTE = (
    "SELECT doc_id, md5(text) || md5('s' || text) AS h FROM documents"
)


@register(
    "threshold_decode",
    f"""WITH scored AS ({_SCORED_CTE}),
s AS (SELECT doc_id, {scoring.hash_scores_sql("h")} AS scores FROM scored)
SELECT doc_id, unnest({scoring.decode_categories_sql("scores")}) AS category
FROM s""",
    survey="U4b,U4c,N7",
)
def threshold_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic scorer → threshold (>0.5) → label decode → explode.
    Fixes the reference's ``indexOf`` duplicate-score bug by carrying
    positional indices (``TFInterface.scala:63-66``)."""
    d = _docs(spark, sf_dir)
    cats = scoring.decode_categories(scoring.hash_scores(F.col("text")))
    return d.select("doc_id", F.explode(cats).alias("category"))


@register(
    "category_doc_counts",
    f"""WITH scored AS ({_SCORED_CTE}),
s AS (SELECT doc_id, {scoring.hash_scores_sql("h")} AS scores FROM scored),
x AS (SELECT doc_id, unnest({scoring.decode_categories_sql("scores")}) AS category FROM s)
SELECT category, CAST(count(*) AS BIGINT) AS n_docs FROM x GROUP BY category""",
    survey="N7+A1 (category counting over classifier output)",
)
def category_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cats = scoring.decode_categories(scoring.hash_scores(F.col("text")))
    return (
        d.select(F.explode(cats).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "training_prep",
    training.prepare_training_data_sql(),
    survey="§3.3 full pipeline: P9-P14,U1-U3,O1-O3,A1",
)
def training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training.prepare_training_data(_docs(spark, sf_dir))


# ===========================================================================
# 4b. Source/sink round-trips — driver-certifies the S5/S6/S8/ST6 rows
# that previously had only pytest evidence. Each query pushes rows
# through the REAL source/sink (CSV writer+reader, coalesce(1) parquet
# sink, driver-loaded broadcast label map) and aggregates the result;
# the DuckDB oracle computes the same aggregate on the ORIGINAL table,
# so a hash match proves the round-trip was lossless.
# ===========================================================================


def _code_token(fn, *helpers) -> str:
    """Short hash of a query function's source text PLUS the sources of
    the helpers it writes through (``read_training_csv``,
    ``write_single_parquet``, ``_docs``, …), folded into its round-trip
    cache key so editing the query definition OR a helper one call-level
    down invalidates the cached result even when the source DATA is
    unchanged (ADVICE r5, extended to helpers per ADVICE r6)."""
    import hashlib
    import inspect

    parts = []
    for f in (fn, *helpers):
        try:
            parts.append(inspect.getsource(f))
        except (OSError, TypeError):
            parts.append(getattr(f, "__name__", repr(f)))
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:8]


def _roundtrip_loc(sf_dir: str, kind: str, code_token: str = "") -> str:
    """Fingerprint-keyed tmp dir (same idempotence contract as
    ``operators.bucketed.ensure_partitioned_events``): rebuilt only when
    the source content OR the query/helper definitions (code_token)
    change. Sibling dirs for the same (kind, sf_dir) under a DIFFERENT
    fingerprint or token are stale by construction — pruned here so code
    edits don't accrete orphaned tmp dirs (ADVICE r6)."""
    import glob
    import os
    import shutil
    import tempfile

    from .operators.bucketed import _slug, _source_fingerprint

    fp = _source_fingerprint(sf_dir, "documents")
    suffix = f"_{code_token}" if code_token else ""
    base = tempfile.gettempdir()
    current = os.path.join(base, f"ssta_rt_{kind}_{_slug(sf_dir)}_{fp}{suffix}")
    for stale in glob.glob(os.path.join(base, f"ssta_rt_{kind}_{_slug(sf_dir)}_*")):
        if stale != current:
            shutil.rmtree(stale, ignore_errors=True)
    return current


@register(
    "csv_roundtrip_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
  CAST(sum(length(text)) AS BIGINT) AS n_chars,
  CAST(sum(CASE WHEN contains(text, ',') OR contains(text, '"')
                     OR contains(text, chr(10)) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_quoted
FROM documents WHERE length(text) > 0""",
    survey="S5: CSV source with the reference's exact options — header, "
    "multiLine, quote-escape (ProcessingWorkSheet.sc:35-43). Documents "
    "are written through Spark's CSV sink and read back through "
    "read_training_csv; the oracle aggregates the ORIGINAL rows, so the "
    "hash certifies quoting/multiline fidelity, not just row counts",
)
def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-CSV proof: n_rows/n_ids/n_chars plus a counter of rows
    whose text needs quoting (embedded comma, quote, or newline — the
    cases the S5 options exist for). Single-file write keeps the test
    layout deterministic; at scale the sink writes per-task files."""
    import os

    from pyspark.sql import types as T

    from .sources.io import read_training_csv

    loc = _roundtrip_loc(
        sf_dir, "csv", _code_token(csv_roundtrip_stats, read_training_csv, _docs)
    )
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        (
            _docs(spark, sf_dir)
            .filter(F.length("text") > 0)
            .select("doc_id", "text")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("escape", '"')
            .csv(loc)
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = read_training_csv(spark, loc, schema)
    needs_quote = (
        F.col("text").contains(",")
        | F.col("text").contains('"')
        | F.col("text").contains("\n")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.when(needs_quote, 1).otherwise(0)).alias("n_quoted"),
    )


@register(
    "parquet_single_file_stats",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY lang""",
    survey="S6: coalesce(1) overwrite parquet sink "
    "(ProcessingWorkSheet.sc:130-134) — the per-lang aggregate is pushed "
    "through write_single_parquet and read back; the query raises if the "
    "sink produced more than one part file, and the oracle recomputes "
    "the aggregate from the original table",
)
def parquet_single_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .sources.io import write_single_parquet

    loc = _roundtrip_loc(
        sf_dir,
        "pq1",
        _code_token(parquet_single_file_stats, write_single_parquet, _docs),
    )
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        agg = _docs(spark, sf_dir).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        write_single_parquet(agg, loc)
    part_files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    if len(part_files) != 1:
        raise AssertionError(
            f"coalesce(1) sink contract broken: {len(part_files)} part files"
        )
    return spark.read.parquet(loc)


@register(
    "orc_roundtrip_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(sum(length(text)) AS BIGINT) AS n_chars,
  CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents""",
    survey="ext: ORC source/sink round-trip — columnar-format breadth "
    "beside the parquet/CSV sinks (Spark's native vectorized ORC "
    "reader/writer, zlib stripes); the oracle aggregates the ORIGINAL "
    "parquet rows, so the hash certifies value fidelity through the "
    "second columnar format, not just row counts",
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents written through Spark's ORC sink and read back, then
    reduced to row/id/lang/char checksums the oracle recomputes from
    the source-of-truth parquet. ORC round-trips the same logical types
    (long/string) with its own encoders — a real second-format proof,
    and at 100 TB the per-task multi-file write (no coalesce here,
    unlike the single-file parquet contract) is the scalable layout."""
    import os

    loc = _roundtrip_loc(sf_dir, "orc", _code_token(orc_roundtrip_stats, _docs))
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        (
            _docs(spark, sf_dir)
            .select("doc_id", "lang", "text")
            .write.mode("overwrite")
            .option("compression", "zlib")
            .orc(loc)
        )
    back = spark.read.orc(loc)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "jsonl_roundtrip_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
  CAST(sum(length(text)) AS BIGINT) AS n_chars,
  CAST(sum(CASE WHEN contains(text, '"') OR contains(text, chr(92))
                OR contains(text, chr(10)) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_escaped
FROM documents""",
    survey="ext: JSONL source/sink round-trip (gzip) — the interchange "
    "format of training corpora, written through write_jsonl and read "
    "back schema-enforced (no inference scan); the oracle aggregates "
    "the ORIGINAL rows and n_escaped counts exactly the texts whose "
    "JSON encoding is non-trivial (quotes/backslashes/newlines), so the "
    "hash certifies escaping fidelity, not just row counts",
)
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents through the JSONL sink (gzip) and back through the
    schema-enforced reader, reduced to checksums the oracle recomputes
    from the source parquet. Completes the format matrix (parquet / CSV
    / ORC / JSONL); per-task multi-file write — already the 100 TB
    layout."""
    import os

    from pyspark.sql import types as T

    from .sources.io import read_jsonl, write_jsonl

    loc = _roundtrip_loc(
        sf_dir, "jsonl", _code_token(jsonl_roundtrip_stats, write_jsonl, _docs)
    )
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        write_jsonl(
            _docs(spark, sf_dir).select("doc_id", "text"), loc, compression="gzip"
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = read_jsonl(spark, loc, schema)
    needs_escape = (
        F.col("text").contains('"')
        | F.col("text").contains("\\")
        | F.col("text").contains("\n")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.when(needs_escape, 1).otherwise(0)).alias("n_escaped"),
    )


def _label_values_sql() -> str:
    from .sources.io import load_label_map

    m = load_label_map()
    return ", ".join(
        "({}, '{}')".format(k, v.replace("'", "''")) for k, v in sorted(m.items())
    )


@register(
    "label_broadcast_decode",
    # lazy (callable) oracle: the resource-file read happens at compare
    # time, so a missing/corrupt encoder_classes.json fails THIS query
    # instead of crashing registry import (ADVICE r5)
    lambda: f"""WITH labels(idx, name) AS (VALUES {_label_values_sql()})
SELECT name, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN labels l ON d.doc_id % 50 = l.idx
GROUP BY name""",
    survey="S8 ST6: the bundled JSON label dictionary "
    "(TFInterface.scala:44-47, resources/encoder_classes.json) loaded "
    "ONCE on the driver and shipped as a broadcast join — the DataFrame "
    "replacement for the reference's per-row classpath re-read and its "
    "ttlMap broadcast (SparkRunner.scala:55-61). The oracle inlines the "
    "same 50 labels as a VALUES list built from the same resource file "
    "at registration time",
)
def label_broadcast_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.io import load_label_map

    m = load_label_map()  # S8: one driver-side read of the resource
    lbl = spark.createDataFrame(sorted(m.items()), "idx int, name string")
    d = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 50).cast("int").alias("idx")
    )
    return (
        d.join(F.broadcast(lbl), "idx")  # ST6: one copy per executor
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ===========================================================================
# 5. Relational breadth (joins / aggs / windows on the TPC-H-ish tables)
# ===========================================================================


@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 2) AS avg_qty,
  round(avg(l_extendedprice), 2) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    survey="A1 multi-agg (extension breadth)",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",
    survey="joins+agg+topK (Q3 shape)",
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name""",
    survey="multi-join + broadcast dims (Q5 shape)",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "orders_monthly",
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
CAST(count(*) AS BIGINT) AS n_orders,
round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1""",
    survey="date bucketing + agg",
)
def orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "window_running_total",
    """SELECT o_orderkey, o_custkey,
round(sum(o_totalprice) OVER (PARTITION BY o_custkey
  ORDER BY o_orderdate ASC, o_orderkey ASC
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total
FROM orders""",
    survey="window functions (extension; SURVEY §2.8 notes reference has none)",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("run_total"),
    )


@register(
    "events_hourly",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2""",
    survey="ST7 extension batch shape: tumbling event-time window",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_sliding_2h",
    """WITH w AS (
  SELECT event_type, value,
    to_timestamp(unnest([
      CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT),
      CAST(floor(epoch(ts) / 3600) * 3600 - 3600 AS BIGINT)
    ])) AS win_start
  FROM events)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
FROM w GROUP BY 1, 2""",
    survey="ST7 extension: SLIDING event-time window (2h window, 1h "
    "slide) — F.window's overlapping-assignment semantics; each event "
    "lands in exactly window/slide = 2 windows, epoch-aligned. The "
    "oracle unrolls the two starts per event explicitly.",
)
def events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "sessionize",
    """WITH g AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 OR
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
    THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id""",
    survey="sessionization (lag + gap; streaming twin = session_window)",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    micros = F.unix_micros(F.col("ts"))
    prev = F.lag(micros).over(w)
    new_sess = F.when(
        prev.isNull() | (micros - prev > 1_800_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ONE islands construction for both the batch and the streaming session
# oracle. The cumulative sum carries the SAME (ts, event_id) tie-break as
# the lag window: without it, two events at an identical (user_id, ts)
# could be ordered differently in the two windows and land in different
# sessions nondeterministically (minute-granularity fuzz events tie often).
_SESSION_ISLANDS_SQL = """WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL OR
         epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
    THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
s AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 minutes AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid"""


def _session_window_report(df: DataFrame) -> DataFrame:
    """The native session aggregate, shared by the batch query and the
    streaming registration (one definition of the operator)."""
    return (
        df.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "session_window_agg",
    _SESSION_ISLANDS_SQL,
    survey="ext: native session_window aggregation — per-session rows "
    "(start, end = last event + gap, count); the oracle derives identical "
    "sessions via the lag/cumsum islands construction, pinning Spark's "
    "merge-at-exactly-gap boundary semantics (diff > gap starts a session)",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregation via the NATIVE ``F.session_window``
    operator (the engine-managed merge used by streaming session
    aggregation — ``streaming/windows.py`` runs the same expression on a
    stream). Semantics pinned cross-engine: an event at exactly
    ``last_ts + gap`` MERGES into the session (sessions are
    ``[start, last_ts + gap)``), so the islands oracle starts a new
    session only when the gap is strictly exceeded.

    Scale shape: one shuffle on user_id; Spark merges session windows
    inside the aggregate (partial merge per task, final merge post
    exchange) — no per-user sort materialization, unlike the
    lag-window form (``sessionize``), which pays a full
    sort-within-partition. Both forms are kept: lag/cumsum composes
    with arbitrary window logic, session_window is the streaming-safe
    operator."""
    return _session_window_report(load_table(spark, sf_dir, "events"))


# ===========================================================================
# 6. Dedup suite (extensions, SURVEY §7 phase 4)
# ===========================================================================


@register(
    "dedup_exact",
    dedup.exact_dup_groups_sql(),
    survey="ext: exact dedup (hash groupBy)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_docs(spark, sf_dir))


def _sh_cte(shingle_n: int = dedup.SHINGLE_N) -> str:
    return (
        f"SELECT doc_id, {X.word_shingles_sql(X.tokenize_sql('text'), shingle_n)} "
        f"AS sh FROM documents"
    )


_BANDS_SQL = f"""
WITH shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx)
SELECT doc_id, CAST(b.band AS INT) AS band,
coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b"""


@register("dedup_minhash_bands", _BANDS_SQL, survey="ext: MinHash-LSH banding")
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_bands(_docs(spark, sf_dir))


@register(
    "dedup_minhash_pairs",
    f"""
WITH shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx),
bands AS (
  SELECT doc_id, b.band,
  coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
  FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  AND l.doc_id < r.doc_id),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shx)
SELECT a, b,
(floor((len(list_intersect(x.sh, y.sh)) /
  greatest(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)), 1)) * 1000000.0) / 1000000.0) AS jaccard
FROM cand JOIN shd x ON x.doc_id = a JOIN shd y ON y.doc_id = b""",
    survey="ext: MinHash-LSH candidates + Jaccard verify",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(_docs(spark, sf_dir))


def _ensure_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing verified-pair table for the dedup-graph family
    (clusters, keep-best, PageRank, BFS, triangles, reports): the
    MinHash-LSH candidate+verify pipeline runs ONCE per source-content
    version and persists (a, b, jaccard) — the fingerprint-keyed
    pattern of the ANN/BPE artifacts, and the honest production shape
    (a dedup run derives ALL its graph views from one pair table, it
    does not re-shingle the corpus per view). The ``dedup_minhash_pairs``
    registry query stays live, so pair GENERATION itself remains a
    timed, oracle-checked operator; every consumer's oracle recomputes
    the pairs independently, so a stale or corrupt artifact still
    breaks their hashes."""
    import os
    import tempfile

    from .operators.bucketed import _slug, _source_fingerprint, atomic_publish

    fp = _source_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(), f"ssta_mhpairs_{_slug(sf_dir)}_{fp}"
    )
    atomic_publish(
        lambda staging: dedup.minhash_dedup_pairs(_docs(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(staging),
        path,
    )
    return spark.read.parquet(path)


@register(
    "dedup_pair_evidence",
    f"""
WITH shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx),
bands AS (
  SELECT doc_id, b.band,
  coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
  FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  AND l.doc_id < r.doc_id),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shx),
ev AS (SELECT a, b, list_sort(list_intersect(x.sh, y.sh)) AS shared,
  len(x.sh) AS nx, len(y.sh) AS ny
  FROM cand JOIN shd x ON x.doc_id = a JOIN shd y ON y.doc_id = b)
SELECT a, b, CAST(len(shared) AS INT) AS n_shared,
(floor((CAST(len(shared) AS DOUBLE) /
  greatest(nx + ny - len(shared), 1)) * 1000000.0) / 1000000.0) AS jaccard,
coalesce(array_to_string(shared[1:3], ' | '), '') AS evidence
FROM ev""",
    survey="ext: near-dup pair EVIDENCE — the audit/appeal view of the "
    "minhash candidate pairs: shared-shingle count, exact Jaccard, and "
    "the first shared shingles in lexicographic order; shingle sets ride "
    "the pair join as bounded per-row arrays (no explode), so the audit "
    "costs one per-row intersect over the pipeline's existing frames",
)
def dedup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.pair_evidence(_docs(spark, sf_dir))


@register(
    "dedup_simhash",
    f"""WITH t AS (SELECT doc_id,
list_transform({X.tokenize_sql("text")}, t -> md5(t)) AS md5s FROM documents)
SELECT doc_id, {X.simhash16_sql("md5s")} AS simhash FROM t""",
    survey="ext: SimHash signatures",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_docs(_docs(spark, sf_dir))


@register(
    "dedup_simhash_pairs",
    f"""WITH t AS (SELECT doc_id,
list_transform({X.tokenize_sql("text")}, t -> md5(t)) AS md5s FROM documents),
s AS (SELECT doc_id, {X.simhash16_sql("md5s")} AS simhash FROM t)
SELECT l.doc_id AS a, r.doc_id AS b, l.simhash
FROM s l JOIN s r ON l.simhash = r.simhash AND l.doc_id < r.doc_id""",
    survey="ext: SimHash equal-signature blocking",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_dup_pairs(_docs(spark, sf_dir))


@register(
    "dedup_simhash64_hamming",
    f"""WITH t AS (SELECT doc_id,
{X.simhash64_token_ints_sql(X.tokenize_sql("text"))} AS hs FROM documents),
s AS (SELECT doc_id, {X.simhash64_bands_sql("hs")} AS bands FROM t),
e AS (SELECT doc_id, b.band, bands[b.band + 1] AS val
  FROM s, (SELECT unnest(range(0, 4)) AS band) b),
p AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM e l JOIN e r ON l.band = r.band AND l.val = r.val AND l.doc_id < r.doc_id)
SELECT a, b, hamming FROM (
  SELECT a, b, CAST(bit_count(xor(x.bands[1], y.bands[1])) + bit_count(xor(x.bands[2], y.bands[2]))
    + bit_count(xor(x.bands[3], y.bands[3])) + bit_count(xor(x.bands[4], y.bands[4])) AS INT) AS hamming
  FROM p JOIN s x ON x.doc_id = a JOIN s y ON y.doc_id = b)
WHERE hamming <= 3""",
    survey="ext: 64-bit SimHash near-dup, Hamming-distance-3 band blocking "
    "(4x16-bit bands; pigeonhole guarantees candidate coverage)",
)
def dedup_simhash64_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash64_dup_pairs(_docs(spark, sf_dir))


@register(
    "dedup_ngram_topk",
    f"""
WITH shx AS ({_sh_cte(2)}),
e AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shx),
rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM e GROUP BY s)
  WHERE df <= (SELECT ceil(count(*) * 0.05) FROM documents)),
je AS (SELECT doc_id, s FROM e WHERE s IN (SELECT s FROM rare)),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM je l JOIN je r ON l.s = r.s AND l.doc_id < r.doc_id),
shd AS (SELECT doc_id, list_distinct(sh) AS shs FROM shx),
sizes AS (SELECT doc_id, CAST(len(list_distinct(sh)) AS INT) AS n_sh FROM shx)
SELECT a, b,
(floor((len(list_intersect(x.shs, y.shs)) /
  (sx.n_sh + sy.n_sh - len(list_intersect(x.shs, y.shs)))) * 1000000.0) / 1000000.0) AS jaccard
FROM cand JOIN shd x ON x.doc_id = a JOIN shd y ON y.doc_id = b
JOIN sizes sx ON sx.doc_id = a JOIN sizes sy ON sy.doc_id = b
ORDER BY jaccard DESC, a ASC, b ASC LIMIT 50""",
    survey="ext: n-gram Jaccard (inverted index + df-cut prefix filter)",
)
def dedup_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), shingle_n=2, max_df_fraction=0.05
    )
    return topk.top_k(pairs, "jaccard", 50, ["a", "b"])


_PPJOIN_T = 0.5


@register(
    "dedup_ppjoin_pairs",
    f"""WITH shx AS ({_sh_cte()}),
d AS (SELECT doc_id, list_distinct(sh) AS shs FROM shx),
e AS (SELECT doc_id, unnest(shs) AS s FROM d),
dfq AS (SELECT s, count(*) AS df FROM e GROUP BY s),
r AS (SELECT doc_id, s,
        row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn,
        count(*) OVER (PARTITION BY doc_id) AS n
      FROM e JOIN dfq USING (s)),
p AS (SELECT doc_id, s FROM r WHERE rn <= n - ceil({_PPJOIN_T} * n - 1e-9) + 1),
cand AS (SELECT DISTINCT l.doc_id AS a, r2.doc_id AS b
         FROM p l JOIN p r2 ON l.s = r2.s AND l.doc_id < r2.doc_id),
j AS (SELECT a, b,
  (floor((CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) /
     greatest(len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)), 1))
   * 1000000.0) / 1000000.0) AS jaccard
  FROM cand JOIN d x ON x.doc_id = a JOIN d y ON y.doc_id = b)
SELECT a, b, jaccard FROM j WHERE jaccard >= {_PPJOIN_T}""",
    survey="ext: EXACT threshold similarity join (PPJoin prefix filter) — "
    "provably complete recall at jaccard >= t, unlike the df-cut "
    "heuristic or probabilistic MinHash; the oracle proves "
    "order-independence by ranking raw strings where Spark ranks hashes",
)
def dedup_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with Jaccard ≥ 0.5, exactly (see
    :func:`~spark_streaming_twitch_analytics_spark.operators.dedup.ppjoin_pairs` for the
    prefix-filter lemma and scale analysis)."""
    return dedup.ppjoin_pairs(_docs(spark, sf_dir), threshold=_PPJOIN_T)


@register(
    "dedup_embedding_cosine",
    f"""WITH e AS (SELECT vec_id, label,
list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
SELECT l.vec_id AS a, r.vec_id AS b, {V.cosine_sql("l.v", "r.v", 64)} AS cos
FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id
WHERE {V.cosine_sql("l.v", "r.v", 64)} >= 0.4""",
    survey="ext: embedding-cosine near-dup (label blocking)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the synthetic embeddings have no planted near-dups (global max cosine
    # ~0.51); 0.4 surfaces the closest within-block pairs so the operator's
    # output is non-trivially exercised. Production near-dup would use ~0.95.
    return dedup.embedding_dup_pairs(emb, F.col("label"), 0.4)


_CLUSTER_EDGES_SQL = f"""
WITH RECURSIVE shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx),
bands AS (
  SELECT doc_id, b.band,
  coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
  FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  AND l.doc_id < r.doc_id),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shx),
edges AS (
  SELECT a, b FROM cand JOIN shd x ON x.doc_id = a JOIN shd y ON y.doc_id = b
  WHERE len(list_intersect(x.sh, y.sh)) /
    greatest(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)), 1) >= 0.5)"""


@register(
    "dedup_clusters",
    _CLUSTER_EDGES_SQL
    + """,
undirected AS (SELECT a AS src, b AS dst FROM edges
               UNION SELECT b AS src, a AS dst FROM edges),
reach AS (
  SELECT src, dst FROM undirected
  UNION
  SELECT r.src, u.dst FROM reach r JOIN undirected u ON r.dst = u.src)
SELECT src AS doc_id,
       least(src, min(dst)) AS canonical_id
FROM reach GROUP BY src""",
    survey="ext: connected-components dedup clustering (iterative label "
    "propagation vs recursive-CTE oracle)",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup: minhash-LSH pairs with jaccard ≥ 0.5 become
    edges; connected components assign one canonical doc per cluster."""
    from .operators.clusters import connected_components

    pairs = _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
    edges = pairs.filter(F.col("jaccard") >= 0.5).select("a", "b")
    return connected_components(edges)


@register(
    "dedup_cluster_keep_best",
    _CLUSTER_EDGES_SQL
    + f""",
undirected AS (SELECT a AS src, b AS dst FROM edges
               UNION SELECT b AS src, a AS dst FROM edges),
reach AS (
  SELECT src, dst FROM undirected
  UNION
  SELECT r.src, u.dst FROM reach r JOIN undirected u ON r.dst = u.src),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src),
scored AS (
  SELECT c.doc_id, c.canonical_id,
         {{q}} AS quality
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
ranked AS (
  SELECT doc_id, canonical_id, quality,
         row_number() OVER (PARTITION BY canonical_id
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM scored)
SELECT doc_id AS kept_id, canonical_id, quality
FROM ranked WHERE rn = 1""".format(
        q=X.quality_score_sql("d.text", X.tokenize_sql("d.text"), DEFAULT_LANG)
    ),
    survey="ext: quality-priority dedup keep policy — within each near-dup "
    "cluster (minhash connected components) keep the HIGHEST-quality "
    "member, not the lowest id; the keep policy real pipelines want "
    "(dedup should drop the worse copy). Window is keyed by cluster id — "
    "clusters are small, so the rank shuffle is bounded by cluster size.",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters keep their best member by quality score (ties
    by doc_id). Unlike ``dedup_clusters``'s min-id canonical, this
    implements the keep policy that preserves the highest-quality copy
    of duplicated content — identical texts tie on quality and fall
    back to the id, so exact dups behave like ``dedup_keep_canonical``."""
    from .operators.clusters import connected_components

    d = _docs(spark, sf_dir)
    pairs = _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
    edges = pairs.filter(F.col("jaccard") >= 0.5).select("a", "b")
    clusters = connected_components(edges)
    scored = clusters.join(d, "doc_id").select(
        "doc_id",
        "canonical_id",
        X.quality_score(F.col("text"), X.tokenize(F.col("text")), DEFAULT_LANG).alias(
            "quality"
        ),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("canonical_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("kept_id"), "canonical_id", "quality")
    )


_PR_SCALE = 10**12
_PR_ITERS = 4


def _pagerank_sql() -> str:
    base = (_PR_SCALE * 15) // 100
    ctes = [
        """undirected AS (SELECT a AS src, b AS dst FROM edges
               UNION SELECT b AS src, a AS dst FROM edges)""",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM undirected GROUP BY 1)",
        f"r0 AS (SELECT src AS node, d, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg)",
    ]
    for t in range(_PR_ITERS):
        ctes.append(
            f"""r{t + 1} AS (
  SELECT deg.src AS node, deg.d,
         CAST({base} + sum((r{t}.r * 85) // (100 * r{t}.d)) AS BIGINT) AS r
  FROM undirected u JOIN r{t} ON u.src = r{t}.node
  JOIN deg ON deg.src = u.dst
  GROUP BY 1, 2)"""
        )
    return (
        _CLUSTER_EDGES_SQL
        + ",\n"
        + ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, d AS degree, r AS rank FROM r{_PR_ITERS}"
    )


@register(
    "dedup_pagerank_centrality",
    _pagerank_sql(),
    survey="ext: deterministic integer PageRank over the minhash near-dup "
    "graph — centrality-based canonical selection (the most central member "
    "of a boilerplate family is its best representative). All flows are "
    "BIGINT ((r*85) div (100*deg) per edge, restart (scale*15) div 100), "
    "so per-node sums are order-independent and the K-round result is "
    "bit-identical on both engines — no float fold hazard. Per round: one "
    "keyed join + one keyed groupBy, bounded by the dup-graph size",
)
def dedup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-round integer PageRank over the near-dup edge set (minhash
    pairs, jaccard >= 0.5 — the same graph ``dedup_clusters`` components
    are built from). Extension family; iterative-algorithm showcase
    alongside label propagation."""
    from .operators.clusters import pagerank_int

    pairs = _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
    edges = pairs.filter(F.col("jaccard") >= 0.5).select("a", "b")
    return pagerank_int(edges, iterations=_PR_ITERS, scale=_PR_SCALE)


# ===========================================================================
# 7. Similarity search (extensions)
# ===========================================================================

_EMB_CTE = (
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings"
)


@register(
    "ann_brute_topk",
    f"""WITH e AS ({_EMB_CTE}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id)
{topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", 5, ["c_id"])}""",
    survey="ext: exact cosine top-k (baseline ANN ground truth)",
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.brute_force_topk(queries, emb, 5)


@register(
    "ann_brute_topk_np",
    f"""WITH e AS ({_EMB_CTE}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id)
{topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", 5, ["c_id"])}""",
    survey="ext: exact cosine top-k, numpy matmul scale path (mapInPandas, "
    "per-batch top-k reduction — same oracle as ann_brute_topk)",
)
def ann_brute_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.brute_force_topk_np(queries, emb, 5)


_LSH_TOPK_SQL = f"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
{V.lsh_bucket_sql("list_transform(embedding, x -> CAST(x AS DOUBLE))", 4, 64)} AS bucket
FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id % 10 = 0),
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c JOIN q USING (bucket) WHERE c.vec_id <> q_id)
{topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", 5, ["c_id"])}"""


@register(
    "ann_lsh_topk",
    _LSH_TOPK_SQL,
    survey="ext: LSH-bucketed ANN (sign random projection)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.lsh_topk(queries, emb, 5)


_IVF_CELLS = 8
_IVF_SQL_ASSIGN = f"""sc AS (SELECT vec_id, v,
  {V.cell_scores_sql("v", _IVF_CELLS, 64)} AS cs FROM e),
ac AS (SELECT vec_id, v, CAST(list_position(cs, list_max(cs)) AS INT) AS cell, cs FROM sc)"""

# 2-probe query cells, shared by ann_ivf_topk and the recall evaluation so
# the two oracles always measure the SAME index
_IVF_SQL_PROBES = """qm AS (SELECT vec_id, v, cs, cell,
  list_transform(cs, x -> CASE WHEN x = list_max(cs) THEN -1e18 ELSE x END) AS cs2
  FROM ac WHERE vec_id % 10 = 0),
qp AS (
  -- UNION (not ALL): all-tied scores make probe 2 re-hit probe 1's cell
  SELECT vec_id AS q_id, v AS qv, cell FROM qm
  UNION
  SELECT vec_id, v, CAST(list_position(cs2, list_max(cs2)) AS INT) FROM qm),"""


_IVF_TOPK_SQL = f"""WITH e AS ({_EMB_CTE}),
{_IVF_SQL_ASSIGN},
{_IVF_SQL_PROBES}
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN qp ON c.cell = qp.cell WHERE c.vec_id <> q_id)
{topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", 5, ["c_id"])}"""


@register(
    "ann_ivf_topk",
    _IVF_TOPK_SQL,
    survey="ext: IVF-style ANN (deterministic pseudo-centroids, argmax-cell "
    "assignment, 2-probe queries)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivf_topk(queries, emb, 5, n_cells=_IVF_CELLS, n_probe=2)


def _ensure_ann_index(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Build the persisted ANN index layout once per source-content
    version (fingerprint-keyed path, same staleness contract as
    ``operators.bucketed.ensure_partitioned_events``)."""
    import os
    import tempfile

    from .operators.bucketed import _slug, _source_fingerprint

    fp = _source_fingerprint(sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"ssta_ann_{kind}_{_slug(sf_dir)}_{fp}"
    )
    # sq8/ivfsq8 write two sibling datasets (codes/ + stats/); their
    # _SUCCESS marker lives under codes/. The other kinds write at the
    # root.
    marker = os.path.join(path, "codes") if kind in ("sq8", "ivfsq8") else path
    if not os.path.exists(os.path.join(marker, "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        if kind == "lsh":
            similarity.build_lsh_index(emb, path, n_bits=4)
        elif kind == "sq8":
            similarity.build_sq8_index(emb, path)
        elif kind == "ivfsq8":
            similarity.build_ivf_sq8_index(emb, path, n_cells=_IVF_CELLS)
        else:
            similarity.build_ivf_index(emb, path, n_cells=_IVF_CELLS)
    return path


@register(
    "ann_lsh_index_topk",
    _LSH_TOPK_SQL,
    survey="ext: LSH ANN served off the PERSISTED bucket-partitioned "
    "index (build_lsh_index → query_lsh_index): results hash-match "
    "ann_lsh_topk exactly, but the scan prunes to the query batch's "
    "buckets via PartitionFilters (plan-asserted in tests/test_plans.py) "
    "— the serve path a standing 100 TB index actually uses",
)
def ann_lsh_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_ann_index(spark, sf_dir, "lsh")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.query_lsh_index(queries, path, 5)


@register(
    "ann_ivf_index_topk",
    _IVF_TOPK_SQL,
    survey="ext: IVF ANN served off the PERSISTED cell-partitioned index "
    "(build_ivf_index → query_ivf_index): hash-matches ann_ivf_topk; the "
    "index scan reads only the probed cells' files (PartitionFilters)",
)
def ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_ann_index(spark, sf_dir, "ivf")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.query_ivf_index(
        queries, path, 5, n_cells=_IVF_CELLS, n_probe=2
    )


_RECALL_SQL = f"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
{V.lsh_bucket_sql("list_transform(embedding, x -> CAST(x AS DOUBLE))", 4, 64)} AS bucket
FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
lscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c JOIN q USING (bucket) WHERE c.vec_id <> q_id),
lt AS ({topk.top_k_per_group_sql("SELECT * FROM lscored", ["q_id"], "cos", 5, ["c_id"])}),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched
  FROM bt JOIN lt ON bt.q_id = lt.q_id AND bt.c_id = lt.c_id),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bt)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t"""


@register(
    "ann_lsh_recall",
    _RECALL_SQL,
    survey="ext: ANN evaluation — recall@5 of the LSH path against the "
    "exact brute-force top-k (total true-neighbour hits / total truth "
    "rows, a single engine-exact integer ratio). The measurement every "
    "approximate index ships with; both rankings come from the same "
    "quantized cosine so the comparison is apples-to-apples",
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of sign-LSH ANN vs exact top-k. The join of the two
    (q_id, c_id) rank sets is tiny (k rows per query); recall is one
    integer division, floor-quantized — no float-fold nondeterminism.

    Expect LOW recall on this testdata (~0.11 at sf0.01): the synthetic
    embeddings have no cluster structure, so nearest neighbours rarely
    share all 4 hyperplane signs — which is exactly what this query is
    for: measuring whether an approximate index is adequate BEFORE
    serving it. Real embedding corpora (clustered) sit far higher."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # r12: one fused candidate scan serves both sides (bucket decisions
    # via the bit-exact fold twin lsh_buckets_np) — see
    # similarity._fused_recall_meter
    return similarity.lsh_recall_fused(queries, emb, 5)


_IVF_RECALL_SQL = f"""WITH e AS ({_EMB_CTE}),
{_IVF_SQL_ASSIGN},
{_IVF_SQL_PROBES}
iscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN qp ON c.cell = qp.cell WHERE c.vec_id <> q_id),
it AS ({topk.top_k_per_group_sql("SELECT * FROM iscored", ["q_id"], "cos", 5, ["c_id"])}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched
  FROM bt JOIN it ON bt.q_id = it.q_id AND bt.c_id = it.c_id),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bt)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t"""


@register(
    "ann_ivf_recall",
    _IVF_RECALL_SQL,
    survey="ext: ANN evaluation — recall@5 of the 2-probe IVF path vs "
    "exact brute-force top-k (same engine-exact integer ratio as "
    "ann_lsh_recall). IVF is the production index layout here, so its "
    "recall is the serving gate; the probe count is the recall knob",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index (argmax-cell, 2 probes) vs exact
    top-k — data-adaptive cells recover notably more than fixed
    hyperplane signs on the same embeddings. One fused candidate scan
    serves both sides (r12: the composed two-scan form ran the slowest
    plan in the bench — see similarity.ivf_recall_fused)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivf_recall_fused(
        queries, emb, 5, n_cells=_IVF_CELLS, n_probe=2
    )


_PQ_SUB, _PQ_CODES = 8, 16
_PQ_ENC_SQL = f"""pqc AS (SELECT vec_id AS c_id,
  {V.pq_codes_sql("v", _PQ_SUB, _PQ_CODES, 64)} AS codes FROM e),
pqq AS (SELECT vec_id AS q_id,
  {V.pq_dtabs_sql("v", _PQ_SUB, _PQ_CODES, 64)} AS qd
  FROM e WHERE vec_id % 10 = 0),
pscored AS (SELECT q_id, c_id,
  {V.quantize_sql(V.pq_adc_score_sql("qd", "codes", _PQ_SUB), 6)} AS pq_sim
  FROM pqc, pqq WHERE c_id <> q_id)"""


@register(
    "ann_pq_topk",
    f"""WITH e AS ({_EMB_CTE}),
{_PQ_ENC_SQL}
{topk.top_k_per_group_sql("SELECT * FROM pscored", ["q_id"], "pq_sim", 5, ["c_id"])}""",
    survey="ext: product-quantization ANN (asymmetric-distance top-k over "
    "8×16 deterministic unit-norm codebooks) — the compressed-index path: "
    "candidates stored as 8 small ints instead of 64 floats",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k. The index row is the candidate's 8 codes
    (argmin-L2 per subspace against unit-norm md5 codebooks); each pair
    costs 8 table lookups instead of a 64-dim dot. At 100 TB the codes
    table is 1/32 the embedding bytes — the whole index stays scannable
    where raw vectors would not be."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.pq_topk(queries, emb, 5, n_sub=_PQ_SUB, n_codes=_PQ_CODES)


_PQ_RECALL_SQL = f"""WITH e AS ({_EMB_CTE}),
{_PQ_ENC_SQL},
pt AS ({topk.top_k_per_group_sql("SELECT * FROM pscored", ["q_id"], "pq_sim", 5, ["c_id"])}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched
  FROM bt JOIN pt ON bt.q_id = pt.q_id AND bt.c_id = pt.c_id),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bt)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t"""


@register(
    "ann_pq_recall",
    _PQ_RECALL_SQL,
    survey="ext: ANN evaluation — recall@5 of the PQ/ADC path vs exact "
    "brute-force top-k (same engine-exact integer ratio as the LSH/IVF "
    "recall meters). Quantization error is measured, not assumed: this is "
    "the gate before shipping the 1/32-size compressed index",
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ/ADC vs exact cosine top-k — quantifies what the
    32× index compression costs in neighbour fidelity on THIS corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # r12: fused one-scan meter; ADC approx scores are fully bit-exact
    # (fixed-order fold + floor quantize) — similarity.pq_recall_fused
    return similarity.pq_recall_fused(
        queries, emb, 5, n_sub=_PQ_SUB, n_codes=_PQ_CODES
    )


_IVFPQ_SQL = f"""WITH e AS ({_EMB_CTE}),
{_IVF_SQL_ASSIGN},
{_IVF_SQL_PROBES}
pqc AS (SELECT vec_id AS c_id, cell,
  {V.pq_codes_sql("v", _PQ_SUB, _PQ_CODES, 64)} AS codes FROM ac),
pqq AS (SELECT q_id, cell,
  {V.pq_dtabs_sql("qv", _PQ_SUB, _PQ_CODES, 64)} AS qd FROM qp),
pscored AS (SELECT q_id, c_id,
  {V.quantize_sql(V.pq_adc_score_sql("qd", "codes", _PQ_SUB), 6)} AS pq_sim
  FROM pqc JOIN pqq USING (cell) WHERE c_id <> q_id)"""


@register(
    "ann_ivfpq_topk",
    _IVFPQ_SQL
    + f"""
{topk.top_k_per_group_sql("SELECT * FROM pscored", ["q_id"], "pq_sim", 5, ["c_id"])}""",
    survey="ext: IVF+PQ composed ANN — the standard large-scale serving "
    "shape (inverted-file coarse pruning to n_probe/n_cells of the "
    "corpus, then asymmetric-distance scoring over 8-byte codes): scan "
    "volume and per-candidate bytes shrink MULTIPLICATIVELY. Probe "
    "selection and code assignment are the same bit-exact folds as the "
    "standalone IVF and PQ paths, so the composition needed no new "
    "determinism machinery",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse pruning + PQ/ADC scoring (the FAISS IVFPQ shape,
    public): queries meet only their probed cells' candidates and pay 8
    table lookups per pair; the serving layout is (cell, codes) — both
    partition-pruned AND 1/32 the raw bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivfpq_topk(
        queries, emb, 5, n_cells=_IVF_CELLS, n_probe=2,
        n_sub=_PQ_SUB, n_codes=_PQ_CODES,
    )


@register(
    "ann_ivfpq_recall",
    _IVFPQ_SQL
    + f""",
pt AS ({topk.top_k_per_group_sql("SELECT * FROM pscored", ["q_id"], "pq_sim", 5, ["c_id"])}),
bq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, bq WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched
  FROM bt JOIN pt ON bt.q_id = pt.q_id AND bt.c_id = pt.c_id),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bt)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t""",
    survey="ext: ANN evaluation — recall@5 of the composed IVF+PQ path vs "
    "exact brute-force top-k: probe loss and quantization loss PRICED "
    "TOGETHER, the number that decides whether the composed index is "
    "shippable for a given corpus",
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF+PQ vs exact cosine top-k (np truth side, like the
    other recall meters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # r12: fused one-scan meter (IVF probe eligibility x bit-exact ADC
    # scores) — similarity.ivfpq_recall_fused
    return similarity.ivfpq_recall_fused(
        queries, emb, 5, n_cells=_IVF_CELLS, n_probe=2,
        n_sub=_PQ_SUB, n_codes=_PQ_CODES,
    )


@register(
    "ann_ivfpq_rerank",
    _IVFPQ_SQL
    + f""",
pt AS (SELECT q_id, c_id FROM ({topk.top_k_per_group_sql("SELECT * FROM pscored", ["q_id"], "pq_sim", 25, ["c_id"])})),
rr AS (SELECT pt.q_id, pt.c_id, {V.cosine_sql("q.v", "c.v", 64)} AS cos
  FROM pt JOIN e q ON q.vec_id = pt.q_id JOIN e c ON c.vec_id = pt.c_id)
{topk.top_k_per_group_sql("SELECT * FROM rr", ["q_id"], "cos", 5, ["c_id"])}""",
    survey="ext: two-stage ANN serving — IVF+PQ shortlist (m=25, 8-byte "
    "codes, partition-pruned cells) then EXACT cosine re-rank of only "
    "the shortlist: full vectors are gathered for m·|Q| rows via a "
    "broadcast join, never scanned wholesale; the re-rank restores "
    "exact ordering within the shortlist so quantization error cannot "
    "reorder the final top-k",
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ shortlist → exact-cosine re-rank (the production two-stage
    serving shape; shortlist recall upper-bounds final recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivfpq_rerank(
        queries, emb, 5, m=25, n_cells=_IVF_CELLS, n_probe=2,
        n_sub=_PQ_SUB, n_codes=_PQ_CODES,
    )


_MMR_C = 12  # candidate pool per query (any ANN variant can feed it)
_MMR_M = 5  # diversified picks per query
_MMR_LAM = 0.7  # relevance weight; (1-λ) penalizes redundancy


def _mmr_steps_sql(pool_prefix: str) -> str:
    """Unrolled-step MMR oracle: the greedy argmax is inherently
    sequential, but with M fixed it unrolls to M chained CTEs — each
    step a window argmax of λ·rel − (1−λ)·max_sim_to_selected over the
    not-yet-selected candidates. Coefficients are emitted with repr()
    so BOTH engines multiply by the same doubles (1−0.7 is
    0.30000000000000004, not 0.3). ``pool_prefix`` supplies everything
    through a ``cand(q_id, c_id, rel)`` CTE (plus an ``e`` CTE exposing
    vectors) — brute-force for the exact meter, IVF-probed for the
    serving shape; the steps below are identical either way."""
    lam, one_m = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    parts = [
        f"""{pool_prefix}
ce AS (SELECT cand.q_id, cand.c_id, cand.rel, e.v FROM cand
  JOIN e ON e.vec_id = cand.c_id),
ps AS (SELECT a.q_id, a.c_id AS d1, b.c_id AS d2,
  coalesce({V.cosine_sql("a.v", "b.v", 64)}, 0.0) AS sim
  FROM ce a JOIN ce b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
s1 AS (SELECT q_id, c_id, CAST(1 AS INT) AS step, score FROM (
  SELECT q_id, c_id, {lam} * rel - {one_m} * 0.0 AS score,
    row_number() OVER (PARTITION BY q_id
      ORDER BY {lam} * rel - {one_m} * 0.0 DESC, c_id ASC) AS rn
  FROM cand) WHERE rn = 1),
sel1 AS (SELECT q_id, c_id FROM s1)"""
    ]
    for i in range(2, _MMR_M + 1):
        parts.append(
            f""",
m{i} AS (SELECT ps.q_id, ps.d1 AS c_id, max(ps.sim) AS ms
  FROM ps JOIN sel{i - 1} s ON s.q_id = ps.q_id AND s.c_id = ps.d2
  GROUP BY 1, 2),
s{i} AS (SELECT q_id, c_id, CAST({i} AS INT) AS step, score FROM (
  SELECT c.q_id, c.c_id, {lam} * c.rel - {one_m} * m.ms AS score,
    row_number() OVER (PARTITION BY c.q_id
      ORDER BY {lam} * c.rel - {one_m} * m.ms DESC, c.c_id ASC) AS rn
  FROM cand c
  JOIN m{i} m ON m.q_id = c.q_id AND m.c_id = c.c_id
  LEFT JOIN sel{i - 1} x ON x.q_id = c.q_id AND x.c_id = c.c_id
  WHERE x.c_id IS NULL) WHERE rn = 1),
sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT q_id, c_id FROM s{i})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, _MMR_M + 1))
    parts.append(
        f"""
SELECT q_id, step, c_id, {V.quantize_sql("score", 6)} AS score
FROM ({union})"""
    )
    return "".join(parts)


def _mmr_brute_pool_sql() -> str:
    return f"""WITH e AS ({_EMB_CTE}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 20 = 0),
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> q_id),
cand0 AS ({topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", _MMR_C, ["c_id"])}),
cand AS (SELECT q_id, c_id, cos AS rel FROM cand0 WHERE cos IS NOT NULL),"""


def _mmr_sql() -> str:
    return _mmr_steps_sql(_mmr_brute_pool_sql())


@register(
    "retrieval_mmr_diverse",
    _mmr_sql(),
    survey="ext: MMR diversification (Carbonell & Goldstein SIGIR'98) — "
    "bounded candidate pool per query, q_id-keyed C² pairwise-sim stage, "
    "greedy argmax per group in applyInPandas; engine-exact quantized "
    "cosines + repr'd coefficients make the greedy trajectory identical "
    "to the unrolled-step SQL oracle, hash-exact",
)
def retrieval_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse top-M retrieval: rank by relevance, then re-rank so each
    pick maximizes λ·rel − (1−λ)·max-sim-to-already-picked. The greedy
    loop (the only sequential part) runs over ≤ C·(C−1) rows per query
    group; everything feeding it is bounded joins over the candidate
    pool, so the operator distributes across queries at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    return similarity.mmr_rerank(
        queries, emb, n_candidates=_MMR_C, n_select=_MMR_M, lam=_MMR_LAM
    )


def _mmr_ivf_pool_sql() -> str:
    """IVF-probed candidate pool for MMR (same assign/2-probe CTEs the
    ann_ivf_* oracles share, query set vec_id % 20)."""
    return f"""WITH e AS ({_EMB_CTE}),
{_IVF_SQL_ASSIGN},
qm AS (SELECT vec_id, v, cs, cell,
  list_transform(cs, x -> CASE WHEN x = list_max(cs) THEN -1e18 ELSE x END) AS cs2
  FROM ac WHERE vec_id % 20 = 0),
qp AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM qm
  UNION
  SELECT vec_id, v, CAST(list_position(cs2, list_max(cs2)) AS INT) FROM qm),
scored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN qp ON c.cell = qp.cell WHERE c.vec_id <> q_id),
cand0 AS ({topk.top_k_per_group_sql("SELECT * FROM scored", ["q_id"], "cos", _MMR_C, ["c_id"])}),
cand AS (SELECT q_id, c_id, cos AS rel FROM cand0 WHERE cos IS NOT NULL),"""


@register(
    "retrieval_mmr_ivf",
    lambda: _mmr_steps_sql(_mmr_ivf_pool_sql()),
    survey="ext: MMR diversification at serving shape — the candidate "
    "pool comes from the IVF 2-probe index scan (n_probe/n_cells scan "
    "fraction, the ×10-replica fix for the brute-force meter's ~N² pair "
    "growth) and feeds the IDENTICAL unrolled greedy steps; same "
    "quantized-cosine determinism, hash-exact",
)
def retrieval_mmr_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production pairing of retrieval_mmr_diverse: the exact meter
    scores every query against every candidate (pairs ∝ N²); here the
    pool is the IVF-probed scan (bounded fraction of cells per query),
    so the whole operator scales like ann_ivf_topk plus a constant
    per-query re-rank — the mmr_rerank contract is pool-source-agnostic."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    pool = similarity.ivf_topk(
        queries, emb, _MMR_C, n_cells=_IVF_CELLS, n_probe=2
    )
    return similarity.mmr_rerank(
        queries, emb, n_candidates=_MMR_C, n_select=_MMR_M, lam=_MMR_LAM, pool=pool
    )


_RERANK_TOPK = 5


def _rerank_sql() -> str:
    """Scored-rerank oracle: the IVF 2-probe pool CTEs, the SAME
    md5-derived relevance logit (single IEEE division by 0xFFFFFFFF),
    the 0.5/0.5 blend (exact powers of two — multiplication never
    rounds), and a per-query rank cut."""
    one_half = repr(0.5)
    rel = V.quantize_sql(
        "CAST(CAST('0x' || substr(md5(CAST(q_id AS VARCHAR) || ':' || "
        "CAST(c_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) / 4294967295.0",
        6,
    )
    blend = V.quantize_sql(
        f"{one_half} * cos + {one_half} * model_rel", 6
    )
    return f"""{_mmr_ivf_pool_sql()}
rrsc AS (SELECT q_id, c_id, rel AS cos, {rel} AS model_rel FROM cand),
rrbl AS (SELECT q_id, c_id, cos, model_rel, {blend} AS score FROM rrsc),
rrrk AS (SELECT q_id, c_id, cos, model_rel, score,
  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rn
  FROM rrbl)
SELECT q_id, CAST(rn AS INT) AS rn, c_id, cos, model_rel, score
FROM rrrk WHERE rn <= {_RERANK_TOPK}"""


@register(
    "retrieval_scored_rerank",
    lambda: _rerank_sql(),
    survey="ext: cross-encoder-shaped scored rerank — the third stage "
    "of the retrieval stack (IVF retrieve -> MMR diversify -> MODEL "
    "rerank): the IVF 2-probe pool's pairs get a relevance logit from "
    "an Arrow-batched pair Scorer (HashRelevanceScorer stand-in; an "
    "HTTPScorer at a served cross-encoder drops in), blended "
    "0.5·cos + 0.5·logit with exact power-of-two coefficients, "
    "per-query rank cut; hash-exact vs the oracle recomputing the "
    "logit from md5 hex",
)
def retrieval_scored_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-loop rerank at serving shape: candidates come from
    the bounded IVF probe scan (never all-pairs), the model boundary is
    one Scorer call per Arrow batch of pair keys (the reference's
    per-row HTTP bug fixed the same way as U4), and the final cut is a
    per-query window over ≤ pool-size rows. Deterministic: the fake
    logit is one IEEE division, the blend coefficients are powers of
    two, ranks tie-break on c_id."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    pool = similarity.ivf_topk(
        queries, emb, _MMR_C, n_cells=_IVF_CELLS, n_probe=2
    ).filter(F.col("cos").isNotNull())
    key = F.concat_ws(
        ":", F.col("q_id").cast("string"), F.col("c_id").cast("string")
    )
    scorer = scoring.HashRelevanceScorer()
    scored = pool.select(
        "q_id",
        "c_id",
        "cos",
        V.quantize(scoring.pair_score_udf(scorer)(key), 6).alias("model_rel"),
    )
    blend = V.quantize(
        F.lit(0.5) * F.col("cos") + F.lit(0.5) * F.col("model_rel"), 6
    )
    w = W.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.select("q_id", "c_id", "cos", "model_rel", blend.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RERANK_TOPK)
        .select("q_id", "rn", "c_id", "cos", "model_rel", "score")
    )


_TRUNC_DIM = 32  # prefix dimensionality for the truncation meter
_TRUNC_K = 10


def _trunc_recall_sql() -> str:
    """Truncation-recall oracle: full-dim and prefix-dim brute top-k
    sets per query (identical quantized-cosine formulation at each
    width), joined on (q_id, c_id) to count survivors."""
    from .operators import topk

    full_scored = f"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
  {V.cosine_sql("q.v", "c.v", 64)} AS cos
  FROM e c, e q WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id"""
    trunc_scored = f"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
  {V.cosine_sql(f"q.v[1:{_TRUNC_DIM}]", f"c.v[1:{_TRUNC_DIM}]", _TRUNC_DIM)} AS cos
  FROM e c, e q WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id"""
    ftop = topk.top_k_per_group_sql(full_scored, ["q_id"], "cos", _TRUNC_K, ["c_id"])
    ttop = topk.top_k_per_group_sql(trunc_scored, ["q_id"], "cos", _TRUNC_K, ["c_id"])
    return f"""WITH e AS ({_EMB_CTE}),
ft AS ({ftop}),
tt AS ({ttop})
SELECT ft.q_id, CAST(count(tt.c_id) AS INT) AS n_overlap,
  {V.quantize_sql(f"CAST(count(tt.c_id) AS DOUBLE) / {_TRUNC_K}", 6)}
    AS overlap_frac
FROM ft LEFT JOIN tt ON ft.q_id = tt.q_id AND ft.c_id = tt.c_id
GROUP BY ft.q_id"""


@register(
    "ann_dim_truncation_recall",
    lambda: _trunc_recall_sql(),
    survey="ext: embedding-truncation quality meter (the Matryoshka/"
    "dimension-compression eval) — top-10 by full 64-dim cosine vs "
    "top-10 by the 32-dim PREFIX cosine per query, overlap@10 counted "
    "by an equi-join of the two bounded top-k sets; answers 'how much "
    "retrieval quality does halving the embedding width cost' before "
    "committing a fleet to the smaller index",
)
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query overlap@10 between full-width and prefix-width
    retrieval. Shape: two brute meters (exact sides — this is an
    EVALUATION query, sampled in production like the other recall
    meters) and one (q_id, c_id)-keyed join of k-bounded sets; the
    prefix scoring reuses the identical unrolled-dot pipeline at
    dim=32, so both widths share fold order and quantization."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    # r12: np meters at both widths — hash-identical to the fold path
    # (test_numpy_matmul_path_matches_fold_path; prefix slice just
    # changes dim)
    full = similarity.brute_force_topk_np(queries, emb, _TRUNC_K)
    emb32 = emb.select(
        "vec_id", F.slice("embedding", 1, _TRUNC_DIM).alias("embedding")
    )
    trunc = similarity.brute_force_topk_np(
        emb32.filter(F.col("vec_id") % 20 == 0), emb32, _TRUNC_K, dim=_TRUNC_DIM
    )
    joined = full.select("q_id", "c_id").join(
        trunc.select("q_id", "c_id", F.lit(1).alias("hit")),
        ["q_id", "c_id"],
        "left",
    )
    return joined.groupBy("q_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_overlap"),
        V.quantize(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
            / F.lit(float(_TRUNC_K)),
            6,
        ).alias("overlap_frac"),
    )


_NEG_POS = 3  # positives: pool ranks 1..3
_NEG_HARD = 6  # hard negatives: pool ranks 4..9 (just below the cut)
_NEG_EASY = 3  # easy negatives per query from the shared sample
_NEG_SAMPLE = 64  # shared candidate sample (the "in-batch negatives" pool)


def _hard_negatives_sql() -> str:
    """Negative-mining oracle: the IVF pool CTEs, rank recomputed over
    the null-filtered pool (cos DESC, c_id ASC — identical to the Spark
    window), the md5-ordered global sample, NOT-EXISTS pool exclusion,
    and md5-keyed per-query easy-negative ranks."""
    return f"""{_mmr_ivf_pool_sql()}
rkd AS (SELECT q_id, c_id, rel AS cos,
  row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id ASC) AS rn
  FROM cand),
samp AS (SELECT vec_id FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {_NEG_SAMPLE}),
easy0 AS (
  SELECT q.q_id, s.vec_id AS c_id,
    row_number() OVER (PARTITION BY q.q_id
      ORDER BY md5(CAST(q.q_id AS VARCHAR) || ':' ||
                   CAST(s.vec_id AS VARCHAR)) ASC, s.vec_id ASC) AS rk
  FROM (SELECT DISTINCT q_id FROM cand) q, samp s
  WHERE s.vec_id <> q.q_id
    AND NOT EXISTS (SELECT 1 FROM rkd p
                    WHERE p.q_id = q.q_id AND p.c_id = s.vec_id))
SELECT q_id, 'pos' AS role, CAST(rn AS INT) AS rank, c_id
  FROM rkd WHERE rn <= {_NEG_POS}
UNION ALL
SELECT q_id, 'hard_neg', CAST(rn - {_NEG_POS} AS INT), c_id
  FROM rkd WHERE rn > {_NEG_POS} AND rn <= {_NEG_POS + _NEG_HARD}
UNION ALL
SELECT q_id, 'easy_neg', CAST(rk AS INT), c_id
  FROM easy0 WHERE rk <= {_NEG_EASY}"""


@register(
    "retrieval_hard_negatives",
    lambda: _hard_negatives_sql(),
    survey="ext: contrastive-training negative mining — per query: "
    "positives (IVF pool ranks 1..3), HARD negatives (ranks just below "
    "the cut, the pairs that teach an embedding model the decision "
    "boundary), and easy negatives drawn md5-deterministically from a "
    "bounded SHARED corpus sample (the in-batch-negatives shape) with "
    "pool exclusion; every stage is bounded — index scan, 64-row "
    "broadcast sample, per-query windows — never all-pairs",
)
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-pair generator for embedding/reranker models:
    (q_id, role, rank, c_id) with role ∈ pos | hard_neg | easy_neg.
    Hard negatives come from the same bounded IVF probe scan that
    serves retrieval (ranks just past the positives cut); easy
    negatives join the query set against a 64-row md5-ordered corpus
    sample (broadcast both at any scale) minus the pool (left-anti).
    Fully deterministic: ranks tie-break on c_id, sampling keys are
    md5 hex — no RNG, so the oracle hash-matches."""
    from pyspark.sql import Window as W

    from .cache import eager_persist

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    # pool feeds THREE consumers (the rank window, the easy-negative
    # anti-join, and the query-id set) whose column pruning produces
    # DIFFERENT exchanges over the same subtree, so ReuseExchange cannot
    # dedupe them — unpersisted, the whole IVF scan ran once per
    # consumer (profiled as the query's two dominant duplicate stages;
    # A/B: persist 3.2 s vs 3.5 s without at sf0.1, and at scale the
    # saved work is full corpus scans). ≤ pool·|Q| rows: cheap to cache.
    pool = eager_persist(
        similarity.ivf_topk(
            queries, emb, _MMR_C, n_cells=_IVF_CELLS, n_probe=2
        ).filter(F.col("cos").isNotNull())
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    rkd = pool.select("q_id", "c_id", F.row_number().over(wq).alias("rn"))
    pos = rkd.filter(F.col("rn") <= _NEG_POS).select(
        "q_id", F.lit("pos").alias("role"), F.col("rn").cast("int").alias("rank"), "c_id"
    )
    hard = rkd.filter(
        (F.col("rn") > _NEG_POS) & (F.col("rn") <= _NEG_POS + _NEG_HARD)
    ).select(
        "q_id",
        F.lit("hard_neg").alias("role"),
        (F.col("rn") - _NEG_POS).cast("int").alias("rank"),
        "c_id",
    )
    samp = (
        emb.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_NEG_SAMPLE)
        .select("vec_id")
    )
    qs = pool.select("q_id").distinct()
    cand = (
        qs.join(F.broadcast(samp))
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(
            pool.select("q_id", F.col("c_id").alias("vec_id")),
            ["q_id", "vec_id"],
            "left_anti",
        )
    )
    we = W.partitionBy("q_id").orderBy(
        F.md5(
            F.concat_ws(
                ":", F.col("q_id").cast("string"), F.col("vec_id").cast("string")
            )
        ),
        F.asc("vec_id"),
    )
    easy = (
        cand.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= _NEG_EASY)
        .select(
            "q_id",
            F.lit("easy_neg").alias("role"),
            F.col("rk").cast("int").alias("rank"),
            F.col("vec_id").alias("c_id"),
        )
    )
    return pos.unionByName(hard).unionByName(easy)


_NDCG_K = 10
# Dyadic discount table: disc(i) = round(2^20 / log2(i+1)) / 2^20. The
# numerators are exact integers, every gain·disc term is an exact
# multiple of 2^-20 with ≤24 significant bits, and per-query sums of ten
# such terms stay exact in an IEEE double — so DCG is order-independent
# INTEGER arithmetic and the only float op in the whole meter is the
# final dcg/idcg division (quantized at 6 dp like every other meter).
import math as _math  # noqa: E402

_NDCG_DISC_NUM = tuple(
    round((1 << 20) / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)
)
# ideal: the brute top-10 in relevance order, gains 10,9,...,1
_NDCG_IDCG_NUM = sum(
    (_NDCG_K - i) * _NDCG_DISC_NUM[i] for i in range(_NDCG_K)
)


def _ndcg_sql() -> str:
    """nDCG@10 oracle: the IVF pool + blended-score rerank CTEs
    (identical to ``_rerank_sql`` but ranked to depth 10), the brute
    full-cosine ideal top-10, graded gains 11-ideal_rank via a LEFT
    JOIN, and the exact dyadic DCG (integer numerator / 2^20)."""
    from .operators import topk

    rel = V.quantize_sql(
        "CAST(CAST('0x' || substr(md5(CAST(q_id AS VARCHAR) || ':' || "
        "CAST(c_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) / 4294967295.0",
        6,
    )
    blend = V.quantize_sql(f"{0.5!r} * cos + {0.5!r} * model_rel", 6)
    disc_case = " ".join(
        f"WHEN {i + 1} THEN {n}" for i, n in enumerate(_NDCG_DISC_NUM)
    )
    ideal_scored = f"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
  {V.cosine_sql("q.v", "c.v", 64)} AS cos
  FROM e c, e q WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id"""
    itop = topk.top_k_per_group_sql(
        ideal_scored, ["q_id"], "cos", _NDCG_K, ["c_id"]
    )
    return f"""{_mmr_ivf_pool_sql()}
gsc AS (SELECT q_id, c_id, rel AS cos, {rel} AS model_rel FROM cand),
gbl AS (SELECT q_id, c_id, {blend} AS score FROM gsc),
grk AS (SELECT q_id, c_id,
  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rn
  FROM gbl),
ideal AS ({itop}),
gains AS (SELECT r.q_id, r.rn,
  CASE WHEN i.rn IS NULL THEN 0 ELSE {_NDCG_K + 1} - i.rn END AS gain
  FROM grk r LEFT JOIN ideal i ON i.q_id = r.q_id AND i.c_id = r.c_id
  WHERE r.rn <= {_NDCG_K})
SELECT q_id,
  CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS INT) AS n_hits,
  CAST(sum(gain * CASE rn {disc_case} END) AS BIGINT) AS dcg_num,
  CAST(sum(gain * CASE rn {disc_case} END) AS DOUBLE) / 1048576.0 AS dcg,
  {V.quantize_sql(
      f"CAST(sum(gain * CASE rn {disc_case} END) AS DOUBLE)"
      f" / {_NDCG_IDCG_NUM}", 6)} AS ndcg
FROM gains GROUP BY q_id"""


@register(
    "retrieval_ndcg_meter",
    lambda: _ndcg_sql(),
    survey="ext: retrieval-stack capstone meter — per-query nDCG@10 of "
    "the blended-rerank ordering (IVF 2-probe pool + Arrow-batched "
    "pair-Scorer logit, the retrieval_scored_rerank pipeline ranked to "
    "depth 10) against the brute-force exact-cosine ideal; graded gains "
    "11-ideal_rank, dyadic discount table (integer numerators / 2^20) "
    "so DCG is exact order-independent integer arithmetic and the only "
    "float op is the final quantized division; the exact side is the "
    "meter itself (sampled in production like every recall meter)",
)
def retrieval_ndcg_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the served ranking, really: nDCG@10 of the
    rerank-stage ordering vs the relevance-ideal list. Gains are graded
    by ideal rank (brute top-10 by exact cosine → gains 10..1), the
    discount table is dyadic so per-query DCG sums are exact integers
    scaled by 2^-20 (no float-order nondeterminism), and IDCG is a
    compile-time constant (every query has a full ideal list by
    construction). Output: (q_id, n_hits, dcg_num, dcg, ndcg)."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    pool = similarity.ivf_topk(
        queries, emb, _MMR_C, n_cells=_IVF_CELLS, n_probe=2
    ).filter(F.col("cos").isNotNull())
    key = F.concat_ws(
        ":", F.col("q_id").cast("string"), F.col("c_id").cast("string")
    )
    scorer = scoring.HashRelevanceScorer()
    scored = pool.select(
        "q_id",
        "c_id",
        "cos",
        V.quantize(scoring.pair_score_udf(scorer)(key), 6).alias("model_rel"),
    )
    blend = V.quantize(
        F.lit(0.5) * F.col("cos") + F.lit(0.5) * F.col("model_rel"), 6
    )
    w = W.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    reranked = (
        scored.select("q_id", "c_id", blend.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NDCG_K)
    )
    # r12: np truth side — hash-identical to the fold path (pinned by
    # test_numpy_matmul_path_matches_fold_path), same switch the recall
    # meters made in r9
    ideal = similarity.brute_force_topk_np(queries, emb, _NDCG_K).select(
        "q_id", "c_id", F.col("rn").alias("irn")
    )
    gains = reranked.join(ideal, ["q_id", "c_id"], "left").select(
        "q_id",
        "rn",
        F.coalesce(F.lit(_NDCG_K + 1) - F.col("irn"), F.lit(0)).alias("gain"),
    )
    disc = F.element_at(
        F.array(*[F.lit(int(n)) for n in _NDCG_DISC_NUM]), F.col("rn")
    )
    dcg_num = F.sum(F.col("gain") * disc)
    return gains.groupBy("q_id").agg(
        F.sum((F.col("gain") > 0).cast("int")).cast("int").alias("n_hits"),
        dcg_num.cast("long").alias("dcg_num"),
        (dcg_num.cast("double") / F.lit(float(1 << 20))).alias("dcg"),
        V.quantize(
            dcg_num.cast("double") / F.lit(float(_NDCG_IDCG_NUM)), 6
        ).alias("ndcg"),
    )


_BTX_K = 8  # neighborhood depth for both margin directions
_BTX_TOP = 3  # mined pairs kept per source query


def _bitext_margin_sql() -> str:
    """Bitext-margin oracle: both IVF pools as CTEs (forward over the
    odd-label side, backward over the even-label side with the pooled
    targets as queries — identical assign/probe/mask semantics to
    ``_IVF_SQL_ASSIGN``/``_IVF_SQL_PROBES``, re-derived here because
    both sides carry a label filter), micro-integer neighborhood sums,
    and the single exact-integer ratio division."""
    mask = (
        "list_transform(cs, x -> CASE WHEN x = list_max(cs) "
        "THEN -1e18 ELSE x END)"
    )
    ftop = topk.top_k_per_group_sql(
        "SELECT * FROM fsc", ["q_id"], "cos", _BTX_K, ["c_id"]
    )
    btop = topk.top_k_per_group_sql(
        "SELECT * FROM bsc", ["q_id"], "cos", _BTX_K, ["c_id"]
    )
    return f"""WITH e AS (SELECT vec_id, label,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
sc AS (SELECT vec_id, label, v,
  {V.cell_scores_sql("v", _IVF_CELLS, 64)} AS cs FROM e),
ac AS (SELECT vec_id, label, v,
  CAST(list_position(cs, list_max(cs)) AS INT) AS cell, cs FROM sc),
fqm AS (SELECT vec_id, v, cs, cell, {mask} AS cs2
  FROM ac WHERE vec_id % 10 = 0 AND label % 2 = 0),
fqp AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM fqm
  UNION
  SELECT vec_id, v, CAST(list_position(cs2, list_max(cs2)) AS INT) FROM fqm),
fsc AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN fqp ON c.cell = fqp.cell
  WHERE c.label % 2 = 1 AND c.vec_id <> q_id),
fwd0 AS ({ftop}),
fwd AS (SELECT q_id, c_id, cos,
  CAST(floor(cos * 1000000.0) AS BIGINT) AS micro
  FROM fwd0 WHERE cos IS NOT NULL),
xstat AS (SELECT q_id, sum(micro) AS sx, count(*) AS nx FROM fwd GROUP BY q_id),
bqm AS (SELECT a.vec_id, a.v, a.cs, a.cell, {mask.replace("cs", "a.cs")} AS cs2
  FROM ac a JOIN (SELECT DISTINCT c_id FROM fwd) y ON a.vec_id = y.c_id),
bqp AS (
  SELECT vec_id AS q_id, v AS qv, cell FROM bqm
  UNION
  SELECT vec_id, v, CAST(list_position(cs2, list_max(cs2)) AS INT) FROM bqm),
bsc AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN bqp ON c.cell = bqp.cell
  WHERE c.label % 2 = 0 AND c.vec_id <> q_id),
bwd0 AS ({btop}),
ystat AS (SELECT q_id AS c_id,
  sum(CAST(floor(cos * 1000000.0) AS BIGINT)) AS sy, count(*) AS ny
  FROM bwd0 WHERE cos IS NOT NULL GROUP BY q_id),
mg AS (SELECT f.q_id, f.c_id, f.cos,
  {V.quantize_sql(
      "CAST(2 * f.micro * x.nx * y.ny AS DOUBLE)"
      " / (x.sx * y.ny + y.sy * x.nx)", 6)} AS margin
  FROM fwd f JOIN xstat x USING (q_id) JOIN ystat y USING (c_id)
  WHERE (x.sx * y.ny + y.sy * x.nx) > 0),
mrk AS (SELECT q_id, c_id, cos, margin,
  row_number() OVER (PARTITION BY q_id ORDER BY margin DESC, c_id ASC) AS rn
  FROM mg)
SELECT q_id, CAST(rn AS INT) AS rank, c_id, cos, margin
FROM mrk WHERE rn <= {_BTX_TOP}"""


@register(
    "retrieval_bitext_margin",
    lambda: _bitext_margin_sql(),
    survey="ext: margin-based bitext mining (Artetxe & Schwenk 2019, "
    "the LASER/CCMatrix parallel-pair miner) — ratio margin cos(x,y) / "
    "mean of both k-NN neighborhoods, the hubness-suppressing score "
    "that mines aligned training pairs from comparable corpora; BOTH "
    "neighborhood directions are bounded IVF probe scans (nothing "
    "all-pairs), micro-integer neighborhood sums + one exact-integer "
    "ratio division so the hash is engine-exact",
)
def retrieval_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine pseudo-parallel pairs across the even/odd label halves of
    the embeddings table (stand-ins for two languages' sentence
    embeddings): per even-side query, the top-3 odd-side candidates by
    bidirectional ratio margin. The backward neighborhood (y's k-NN
    among sources) is what kills hubs — a y that is everyone's
    neighbor accrues a high avgB and stops outranking genuine pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") % 2 == 0)
    tgt = emb.filter(F.col("label") % 2 == 1)
    queries = src.filter(F.col("vec_id") % 10 == 0)
    return similarity.bitext_margin_pairs(
        queries,
        src,
        tgt,
        k=_BTX_K,
        top=_BTX_TOP,
        n_cells=_IVF_CELLS,
        n_probe=2,
    )


_SEMDEDUP_CELLS = 8
_SEMDEDUP_TAU = 0.4  # synthetic embeddings top out near cos 0.51 (see
# dedup_embedding_cosine); production near-dup would use ~0.95


@register(
    "dedup_semantic",
    f"""WITH e AS ({_EMB_CTE}),
sc AS (SELECT vec_id, v, {V.cell_scores_sql("v", _SEMDEDUP_CELLS, 64)} AS cs FROM e),
ac AS (SELECT vec_id, v,
  CAST(list_position(cs, list_max(cs)) AS INT) AS cell,
  {V.quantize_sql("list_max(cs)", 6)} AS centroid_score FROM sc),
losers AS (SELECT DISTINCT a.vec_id
  FROM ac a JOIN ac b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE {V.cosine_sql("a.v", "b.v", 64)} >= {_SEMDEDUP_TAU}
    AND (a.centroid_score > b.centroid_score OR
         (a.centroid_score = b.centroid_score AND a.vec_id > b.vec_id)))
SELECT ac.vec_id, cell, centroid_score,
       losers.vec_id IS NULL AS kept
FROM ac LEFT JOIN losers ON ac.vec_id = losers.vec_id""",
    survey="ext: SemDeDup semantic deduplication — cluster embeddings "
    "(deterministic IVF pseudo-centroids), pairwise cosine ONLY within a "
    "cell, drop the more-typical member of any pair above the threshold. "
    "Work is sum(cell^2), never global n^2; the cell count grows with the "
    "corpus (~sqrt(n) clusters) so cell sizes stay bounded at 100 TB",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep-list over the embeddings table.
    Extension family — the reference has no embedding operators."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, _SEMDEDUP_TAU, n_cells=_SEMDEDUP_CELLS)


# ===========================================================================
# 8. Text analysis (extensions)
# ===========================================================================

_TOKS_CTE = f"SELECT doc_id, text, {X.tokenize_sql('text')} AS toks FROM documents"


@register(
    "text_lang_confusion",
    f"""WITH t AS (SELECT doc_id, lang, {X.tokenize_sql('text')} AS toks
  FROM documents)
SELECT lang AS declared_lang, {X.lang_id_sql("toks")} AS pred_lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CASE WHEN lang = {X.lang_id_sql("toks")} THEN 1 ELSE 0 END AS INT)
    AS agree
FROM t GROUP BY 1, 2, 4""",
    survey="ext: metadata-quality audit — the confusion matrix between "
    "DECLARED language metadata and the detected language (mislabeled "
    "lang tags silently poison per-language stopword/quality rules "
    "downstream); one partial-agg shuffle keyed by the (declared, "
    "detected) pair",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the corpus's lang column disagrees with the n-gram
    detector: each (declared, detected) cell with its population and an
    agreement flag — the audit run before trusting source metadata for
    language-keyed processing. Off-diagonal mass = mislabeled or
    code-mixed documents to re-route."""
    d = _docs(spark, sf_dir)
    pred = X.lang_id(X.tokenize(F.col("text")))
    return (
        d.select(
            F.col("lang").alias("declared_lang"),
            pred.alias("pred_lang"),
        )
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "declared_lang",
            "pred_lang",
            "n_docs",
            (F.col("declared_lang") == F.col("pred_lang"))
            .cast("int")
            .alias("agree"),
        )
    )


@register(
    "text_langid",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id, {X.lang_id_sql("toks")} AS pred_lang FROM t""",
    survey="ext: language-ID heuristic",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", X.lang_id(X.tokenize(F.col("text"))).alias("pred_lang")
    )


@register(
    "text_quality",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id, {X.quality_score_sql("text", "toks", DEFAULT_LANG)} AS quality FROM t""",
    survey="ext: quality scoring",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    return d.select(
        "doc_id", X.quality_score(F.col("text"), toks, DEFAULT_LANG).alias("quality")
    )


@register(
    "text_token_count",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id, CAST(len(toks) AS INT) AS n_words,
{X.token_count_estimate_sql("text")} AS n_tokens_est FROM t""",
    survey="ext: token counting (whitespace + BPE-ish estimate)",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(X.tokenize(F.col("text"))).alias("n_words"),
        X.token_count_estimate(F.col("text")).alias("n_tokens_est"),
    )


@register(
    "text_fingerprint",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id, {X.fingerprint_sql("toks")} AS fp FROM t""",
    survey="ext: document fingerprinting",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", X.fingerprint(X.tokenize(F.col("text"))).alias("fp")
    )


@register(
    "text_sentiment",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id, {X.sentiment_score_sql("toks")} AS sentiment,
CASE WHEN {X.sentiment_score_sql("toks")} > 0 THEN 'pos'
     WHEN {X.sentiment_score_sql("toks")} < 0 THEN 'neg'
     ELSE 'neutral' END AS sentiment_label
FROM t""",
    survey="N6 extension: lexicon sentiment (reference declared, unwired)",
)
def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = X.sentiment_score(X.tokenize(F.col("text")))
    return d.select(
        "doc_id",
        s.alias("sentiment"),
        F.when(s > 0, "pos").when(s < 0, "neg").otherwise("neutral").alias(
            "sentiment_label"
        ),
    )


@register(
    "sentiment_count",
    f"""WITH t AS ({_TOKS_CTE}),
s AS (SELECT doc_id,
CASE WHEN {X.sentiment_score_sql("toks")} > 0 THEN 'pos'
     WHEN {X.sentiment_score_sql("toks")} < 0 THEN 'neg'
     ELSE 'neutral' END AS sentiment_label FROM t)
SELECT sentiment_label, CAST(count(*) AS BIGINT) AS cnt
FROM s GROUP BY sentiment_label""",
    survey="N6: sentiment feeding the reference's count-aggregate shape "
    "(declared-but-unwired pipeline, pipelines.scala:10-40 + sentimentCountTtl)",
)
def sentiment_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = X.sentiment_score(X.tokenize(F.col("text")))
    label = F.when(s > 0, "pos").when(s < 0, "neg").otherwise("neutral")
    return (
        d.select(label.alias("sentiment_label"))
        .groupBy("sentiment_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "sentiment_model_labels",
    f"""WITH t AS ({_TOKS_CTE})
SELECT doc_id,
CASE WHEN text IS NULL THEN NULL
     WHEN {X.sentiment_score_sql("toks")} > 0 THEN 'pos'
     WHEN {X.sentiment_score_sql("toks")} < 0 THEN 'neg'
     ELSE 'neutral' END AS sentiment_label
FROM t""",
    survey="N6 model-backed variant: the reference's pretrained sentiment "
    "pipeline (pipelines.scala:10-40, PretrainedPipeline('analyze_sentiment') "
    "— declared, never wired) as a Scorer-protocol surface: any served "
    "model (HTTPScorer) drops in; the lexicon Scorer runs here so the "
    "label output is DuckDB-oracled. Deliberately an Arrow-UDF plan — "
    "that IS the model boundary.",
    tags=("arrow",),
)
def sentiment_model_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .constants import SENTIMENT_NEGATIVE, SENTIMENT_POSITIVE

    label = scoring.sentiment_label_udf(
        scoring.LexiconSentimentScorer(
            frozenset(SENTIMENT_POSITIVE), frozenset(SENTIMENT_NEGATIVE)
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id", label(F.col("text")).alias("sentiment_label")
    )


# ===========================================================================
# 9. Streaming (S1/S2, ST1-ST5, A4) — REAL Structured Streaming execution;
# oracle = the equivalent batch query (running state over the whole stream
# ≡ batch aggregate over the same rows, SURVEY §5)
# ===========================================================================


def _run_stream_over_docs(spark: SparkSession, sf_dir: str, build_counts, n_batches: int = 4, mode: str = "complete") -> DataFrame:
    """Materialize the documents table as IRC-shaped raw lines split into
    micro-batch files, run a streaming query over them to completion, and
    return the final state table.

    The feeder write is distributed — ``repartition(n_batches).write.text``
    lands one text part-file per micro-batch straight from the executors
    (no data crosses the driver), and ``maxFilesPerTrigger=1`` replays
    them one micro-batch each, like :func:`_run_stream_over_events`. A
    real deployment points the same ``build_counts`` plan at a
    socket/Kafka/DataSource stream; the streaming plan is identical."""
    import shutil
    import tempfile
    import uuid

    from .streaming.wordcount import memory_sink_query

    d = _docs(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="irc_stream_")
    messages.synth_raw_lines(d).repartition(n_batches).write.mode("overwrite").text(src)
    stream = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    )
    name = f"stream_{uuid.uuid4().hex[:8]}"
    q = memory_sink_query(build_counts(stream), name, mode=mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)  # feeder files: one-shot
    return spark.table(name)


# streaming oracles MUST model the IRC round-trip the stream applies
# (synth lines → colon-split parse, truncation quirk included) — a raw
# documents.text oracle diverges the moment a text contains ':'
_STREAM_ROUNDTRIP_CTE = f"""WITH raw AS ({messages.synth_raw_lines_sql()}),
fmt AS ({messages.format_raw_messages_sql("SELECT * FROM raw")})"""

_STREAM_WC_SQL = f"""{_STREAM_ROUNDTRIP_CTE}
{messages.word_counts_sql("text", "fmt")}"""


@register(
    "streaming_wordcount",
    _STREAM_WC_SQL,
    survey="S1,S2,S3,S4,S7,ST1-ST5,ST8,U5,A4: running word counts, update-mode state",
)
def streaming_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.wordcount import streaming_word_counts

    return _run_stream_over_docs(spark, sf_dir, streaming_word_counts)


@register(
    "streaming_category_count",
    f"""{_STREAM_ROUNDTRIP_CTE},
scored AS (SELECT md5(text) || md5('s' || text) AS h FROM fmt),
s AS (SELECT {scoring.hash_scores_sql("h")} AS scores FROM scored),
x AS (SELECT unnest({scoring.decode_categories_sql("scores")}) AS category FROM s)
SELECT category, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY category""",
    survey="N7+ST4: running category counts off the classifier branch "
    "(oracle scores the PARSED lowercased text, as the stream does)",
)
def streaming_category_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.wordcount import streaming_category_counts

    return _run_stream_over_docs(
        spark,
        sf_dir,
        lambda raw: streaming_category_counts(
            raw, lambda text: scoring.decode_categories(scoring.hash_scores(text))
        ),
    )


@register(
    "streaming_stateful_wordcount",
    _STREAM_WC_SQL,
    survey="ST4 arbitrary-state path (applyInPandasWithState): running "
    "counts via custom per-key state; final state ≡ batch counts",
)
def streaming_stateful_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import countable_words
    from .operators.messages import format_raw_messages
    from .streaming.stateful import running_count_with_expiry

    def build(raw: DataFrame) -> DataFrame:
        words = format_raw_messages(raw).select(
            F.explode(countable_words(F.col("text"), DEFAULT_LANG)).alias("word")
        )
        return running_count_with_expiry(words, idle_timeout_ms=None)

    updates = _run_stream_over_docs(spark, sf_dir, build, mode="update")
    # update-mode sink logs every per-batch revision; the final state per
    # key is the max running count
    return updates.groupBy("word").agg(F.max("cnt").alias("cnt"))


_STREAM_HH_PHI_INV = 500  # stream heavy hitter ⇔ freq ≥ N/500 (φ = 0.2%)


@register(
    "streaming_heavy_hitters",
    f"""{_STREAM_ROUNDTRIP_CTE},
wc AS ({messages.word_counts_sql("text", "fmt")}),
tot AS (SELECT sum(cnt) AS n FROM wc)
SELECT word, CAST(cnt AS BIGINT) AS freq FROM wc
WHERE cnt * {_STREAM_HH_PHI_INV} >= (SELECT n FROM tot)""",
    survey="ext: streaming iceberg query — the frequent-items cut over "
    "live per-key state (applyInPandasWithState running counts), the "
    "streaming twin of corpus_heavy_hitters: same integer threshold "
    "(phi_inv·freq ≥ N), applied to the final state snapshot, so the "
    "result is the exact heavy-hitter set of everything streamed so far",
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a live stream: words accumulate running counts
    in keyed state; the threshold cut reads the state snapshot. Keyed
    state shards across executors (state size = vocabulary of the
    stream; production bounds it with state TTL — the idle_timeout seam
    below — or swaps in per-partition MG summaries when even the hot
    vocabulary is too large, as corpus_heavy_hitters does for batch)."""
    from .functions.text import countable_words
    from .operators.messages import format_raw_messages
    from .streaming.stateful import running_count_with_expiry

    def build(raw: DataFrame) -> DataFrame:
        words = format_raw_messages(raw).select(
            F.explode(countable_words(F.col("text"), DEFAULT_LANG)).alias("word")
        )
        return running_count_with_expiry(words, idle_timeout_ms=None)

    updates = _run_stream_over_docs(spark, sf_dir, build, mode="update")
    final = updates.groupBy("word").agg(F.max("cnt").alias("freq"))
    total = final.agg(F.sum("freq").alias("n"))
    return (
        final.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * _STREAM_HH_PHI_INV >= F.col("n"))
        .select("word", "freq")
    )


def _has_tws_runtime() -> bool:
    """transformWithStateInPandas needs the protobuf runtime for its
    state-server protocol (pyspark/sql/streaming/proto/StateMessage_pb2)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "streaming_tws_wordcount",
    _STREAM_WC_SQL,  # final state ≡ batch counts over the fed prefix,
    # whichever engine path ran — so the batch SQL is a real oracle
    survey="ST4 Spark-4 successor path (transformWithStateInPandas, "
    "SPARK-49564): runs the real TWS StatefulProcessor when the protobuf "
    "runtime is present; otherwise the semantically-identical "
    "applyInPandasWithState twin runs and the chosen path is reported on "
    "stderr — so a capable runtime certifies TWS, and an incapable one "
    "records WHY without a silent skip. Word counts are identical either "
    "way (both are running counts over the same stream), which is exactly "
    "why the batch word-count SQL is a valid hash oracle for BOTH paths.",
)
def streaming_tws_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import countable_words
    from .operators.messages import format_raw_messages
    from .streaming.stateful import running_count_tws, running_count_with_expiry

    def build_with(op):
        def build(raw: DataFrame) -> DataFrame:
            words = format_raw_messages(raw).select(
                F.explode(countable_words(F.col("text"), DEFAULT_LANG)).alias("word")
            )
            return op(words, idle_timeout_ms=None)

        return build

    def run_tws() -> DataFrame:
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(conf_key, "")
        spark.conf.set(  # TWS supports only the RocksDB state backend
            conf_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            return _run_stream_over_docs(
                spark, sf_dir, build_with(running_count_tws), mode="update"
            )
        finally:
            if prev:
                spark.conf.set(conf_key, prev)
            else:
                spark.conf.unset(conf_key)

    path = "apiws-fallback:no-protobuf"
    updates = None
    if _has_tws_runtime():
        # the TWS state-server needs runtime pieces this container can't
        # exercise (protobuf + RocksDB JNI); if the environment has
        # protobuf but the stream still fails, record the failure in the
        # path column and certify the semantics via the apiws twin
        # rather than erroring the whole row
        try:
            updates = run_tws()
            path = "tws"
        except Exception as e:  # env-specific TWS failure, not semantics
            path = f"apiws-fallback:tws-error:{type(e).__name__}"
    if updates is None:
        updates = _run_stream_over_docs(
            spark, sf_dir, build_with(running_count_with_expiry), mode="update"
        )
    # the engine path is diagnostics, not data: stderr keeps the hashed
    # output runtime-independent so the batch oracle applies to both paths
    import sys

    print(f"# streaming_tws_wordcount path={path}", file=sys.stderr)
    return updates.groupBy("word").agg(F.max("cnt").alias("cnt"))


def _run_stream_over_events(
    spark: SparkSession,
    sf_dir: str,
    build,
    n_files: int = 4,
    pre=None,
    mode: str = "append",
) -> DataFrame:
    """Materialize the events table as ``n_files`` parquet files and run a
    streaming query over them to completion, one file per micro-batch
    (``maxFilesPerTrigger=1``). The write is the test-harness feeder; the
    streaming plan is the real product surface (a deployment points the
    same ``build`` at a Kafka/file firehose). The feeder directory is
    removed after the run; the memory-sink result table (one per
    invocation, bounded by the run count) is the returned frame."""
    import shutil
    import tempfile
    import uuid

    from .streaming.wordcount import memory_sink_query

    ev = load_table(spark, sf_dir, "events")
    if pre is not None:
        ev = pre(ev)
    src = tempfile.mkdtemp(prefix="ev_stream_")
    ev.repartition(n_files).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"stream_{uuid.uuid4().hex[:8]}"
    q = memory_sink_query(build(stream), name, mode=mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)  # feeder files: one-shot
    return spark.table(name)


# Streaming relational ops (streaming/ops.py), registered with batch
# oracles. The watermark delay is set past the table's full event-time
# span so no state is evicted mid-replay — making the streaming result
# EQUAL the batch join/distinct over the same rows regardless of how the
# feeder split the files (bounded-state eviction behavior is exercised
# separately in tests/test_streaming_ops.py with tight watermarks).
_SSJOIN_WITHIN = "30 minutes"


@register(
    "streaming_interval_join",
    f"""SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS event_id_r, r.ts AS ts_r
FROM events l JOIN events r ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL {_SSJOIN_WITHIN}""",
    survey="ext: stream-stream time-interval inner join "
    "(click-joins-purchase within 30 min; per-side state bounded by "
    "watermark + interval condition) — streaming result ≡ batch join",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.ops import interval_join

    def build(stream: DataFrame) -> DataFrame:
        left = stream.filter(F.col("event_type") == "click")
        right = stream.filter(F.col("event_type") == "purchase")
        return interval_join(
            left,
            right,
            "user_id",
            within=_SSJOIN_WITHIN,
            watermark="3650 days",
        ).select("event_id", "user_id", "ts", "event_id_r", "ts_r")

    return _run_stream_over_events(spark, sf_dir, build)


@register(
    "streaming_session_window",
    _SESSION_ISLANDS_SQL,
    survey="ext: STREAMING session-window aggregation — sessions merge "
    "across micro-batches in the state store (merge is associative, so "
    "the final state is split-invariant); final table ≡ the batch "
    "islands construction",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native session-window aggregation run as a REAL stream (one
    file per trigger): per-user sessions merge inside the state store as
    events arrive — two sessions created in different micro-batches
    collapse when a bridging event lands. Complete-mode sink; the final
    table must equal ``session_window_agg``'s batch result (the plan is
    literally ``_session_window_report`` — one definition of the
    operator for both modes)."""

    def build(stream: DataFrame) -> DataFrame:
        return _session_window_report(stream.withWatermark("ts", "3650 days"))

    return _run_stream_over_events(spark, sf_dir, build, mode="complete")


@register(
    "streaming_sliding_window",
    """WITH w AS (
  SELECT event_type, value,
    to_timestamp(unnest([
      CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT),
      CAST(floor(epoch(ts) / 3600) * 3600 - 3600 AS BIGINT)
    ])) AS win_start
  FROM events)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
FROM w GROUP BY 1, 2""",
    survey="ST7 extension: STREAMING sliding window (2h/1h) — overlapping "
    "windows accumulate across micro-batches in the state store; final "
    "table ≡ the batch events_sliding_2h oracle (watermark past the "
    "event span so no eviction during replay)",
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import sliding_counts

    def build(stream: DataFrame) -> DataFrame:
        return sliding_counts(stream, watermark="3650 days")

    return _run_stream_over_events(spark, sf_dir, build, mode="complete")


@register(
    "streaming_dedup_watermark",
    "SELECT event_id, user_id, event_type, ts FROM events",
    survey="ext: watermarked streaming deduplication "
    "(dropDuplicatesWithinWatermark) — the feeder REPLAYS every event "
    "twice across micro-batches; exactly one row per id survives",
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.ops import dedup_stream

    def build(stream: DataFrame) -> DataFrame:
        return dedup_stream(stream, ["event_id"], "ts", delay="3650 days").select(
            "event_id", "user_id", "event_type", "ts"
        )

    # exact-replica replay: every row fed twice, scattered across files
    return _run_stream_over_events(
        spark, sf_dir, build, pre=lambda ev: ev.union(ev)
    )


_SW_ANOM_TAU = 2.0


@register(
    "streaming_window_anomaly",
    f"""WITH b AS (SELECT event_id, event_type, value,
  CAST(floor(value * 100) AS BIGINT) AS xc,
  strftime(to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS win_start
  FROM events),
s AS (SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(xc) AS BIGINT) AS s1, CAST(sum(xc * xc) AS BIGINT) AS s2
  FROM b GROUP BY 1, 2),
z AS (SELECT event_id, b.event_type, b.win_start, value,
  (CAST(xc AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
  sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS zs
  FROM b JOIN s ON b.win_start = s.win_start AND b.event_type = s.event_type
  WHERE n >= 2 AND n * s2 - s1 * s1 > 0)
SELECT event_id, event_type, win_start, value, {V.quantize_sql("zs", 4)} AS z
FROM z WHERE abs(zs) >= {_SW_ANOM_TAU}""",
    survey="ext: STREAMING windowed anomaly detection — per (1h tumbling "
    "window, event_type) moment sums accumulate in the state store as "
    "exact INTEGERS (values are cent-quantized before aggregation, so the "
    "final stats are split-invariant: any micro-batch replay yields the "
    "same sums bit-for-bit), then the closed-window stats table scores "
    "the events batch-side — the stats-stream + scoring-scan topology a "
    "production telemetry monitor runs; result ≡ the all-batch oracle",
)
def streaming_window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed z-score outliers where the window statistics come from a
    REAL stream (one file per micro-batch): stateful tumbling-window
    aggregation of (n, Σx, Σx²) integer moments, complete-mode snapshot,
    then a batch join scores every event against its own window's
    closed stats. Streaming ≡ batch because integer sums are associative
    and the watermark outlives the replay. Two-pass by construction —
    z-scores need the window CLOSED before any event in it can be
    scored; the streaming stats table is exactly the first pass."""

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "3650 days")
            .withColumn("xc", F.floor(F.col("value") * 100).cast("long"))
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("xc").alias("s1"),
                F.sum(F.col("xc") * F.col("xc")).alias("s2"),
            )
            .select(
                F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "win_start"
                ),
                "event_type",
                "n",
                "s1",
                "s2",
            )
        )

    stats = _run_stream_over_events(spark, sf_dir, build, mode="complete")
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100).cast("long").alias("xc"),
        F.date_format(
            F.timestamp_seconds(
                (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 3600)
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("win_start"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (
        F.col("n") * (F.col("n") - F.lit(1))
    ).cast("double")
    zs = (F.col("xc").cast("double") - mean) / F.sqrt(var)
    return (
        b.join(stats, ["win_start", "event_type"])
        .filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1") > 0)
        )
        .select("event_id", "event_type", "win_start", "value", zs.alias("zs"))
        .filter(F.abs(F.col("zs")) >= _SW_ANOM_TAU)
        .select(
            "event_id",
            "event_type",
            "win_start",
            "value",
            V.quantize(F.col("zs"), 4).alias("z"),
        )
    )


# ===========================================================================
# 10. Relational breadth extensions: set ops, distinct, rollup, pivot,
# as-of / range joins, percentiles — capabilities a user of any analytics
# engine expects; none have reference lineage (SURVEY §2.7/§2.8 record the
# reference has no set ops and no window functions)
# ===========================================================================


@register(
    "set_ops",
    """WITH a AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT lang FROM documents WHERE doc_id % 3 = 0)
SELECT 'union' AS op, lang FROM (SELECT lang FROM a UNION SELECT lang FROM b)
UNION ALL
SELECT 'intersect' AS op, lang FROM (SELECT lang FROM a INTERSECT SELECT lang FROM b)
UNION ALL
SELECT 'except' AS op, lang FROM (SELECT lang FROM a EXCEPT SELECT lang FROM b)""",
    survey="ext: union/intersect/except (SURVEY §2.7: absent from reference)",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("doc_id") % 2 == 0).select("lang")
    b = d.filter(F.col("doc_id") % 3 == 0).select("lang")
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "lang")
        .unionByName(
            a.intersect(b).select(F.lit("intersect").alias("op"), "lang")
        )
        .unionByName(a.subtract(b).select(F.lit("except").alias("op"), "lang"))
    )


@register(
    "drop_duplicates",
    "SELECT DISTINCT lang, source FROM documents",
    survey="ext: dropDuplicates (A5 row in SURVEY: dedup built-ins)",
)
def drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).dropDuplicates(["lang", "source"]).select(
        "lang", "source"
    )


@register(
    "rollup_orders",
    """SELECT strftime(o_orderdate, '%Y') AS year, o_orderstatus,
round(sum(o_totalprice), 2) AS total, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY ROLLUP(strftime(o_orderdate, '%Y'), o_orderstatus)""",
    survey="ext: rollup / grouping sets",
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("year", F.date_format("o_orderdate", "yyyy"))
        .rollup("year", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "pivot_events",
    "SELECT user_id, "
    + ", ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
    survey="ext: pivot (conditional aggregation)",
)
def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_EVENT_TYPES))
    )


@register(
    "asof_join_events",
    """WITH p AS (
  SELECT user_id, ts, round(max(value), 2) AS pv FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT e.event_id, e.user_id, p.pv AS asof_value
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.ts""",
    survey="ext: as-of join (union+window rebuild vs DuckDB native ASOF)",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("pv"))
    )
    return as_of_join(
        ev, purchases, "user_id", "ts", "ts", "pv", out_col="asof_value"
    ).select("event_id", "user_id", "asof_value")


@register(
    "range_join_buckets",
    """WITH buckets AS (
  SELECT * FROM (VALUES ('q0_10', 0, 10), ('q10_20', 10, 20),
                        ('q20_35', 20, 35), ('q35_plus', 35, 1000)) b(name, lo, hi))
SELECT name, CAST(count(*) AS BIGINT) AS n,
round(sum(l_extendedprice), 2) AS revenue
FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
GROUP BY name""",
    survey="ext: range (non-equi) join against broadcast band table",
)
def range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    buckets = F.broadcast(
        li.sparkSession.createDataFrame(
            [("q0_10", 0, 10), ("q10_20", 10, 20), ("q20_35", 20, 35), ("q35_plus", 35, 1000)],
            "name string, lo int, hi int",
        )
    )
    return (
        li.join(
            buckets,
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "quantiles_exact",
    """SELECT l_returnflag,
round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem GROUP BY l_returnflag""",
    survey="ext: exact percentiles (approx_percentile available as the sketch path)",
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


_ZSCORE_TAU = 2.5


@register(
    "events_anomaly_zscore",
    f"""WITH b AS (SELECT event_id, event_type, value,
  CAST(floor(value * 100) AS BIGINT) AS xc FROM events),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(xc) AS BIGINT) AS s1, CAST(sum(xc * xc) AS BIGINT) AS s2
  FROM b GROUP BY event_type),
z AS (SELECT event_id, b.event_type, value,
  (CAST(xc AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
  sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS zs
  FROM b JOIN s ON b.event_type = s.event_type)
SELECT event_id, event_type, value, {V.quantize_sql("zs", 4)} AS z
FROM z WHERE abs(zs) >= {_ZSCORE_TAU}""",
    survey="ext: per-group z-score outlier detection — values are "
    "integer-quantized (cents) BEFORE aggregation so the per-group sums "
    "are exact integers and mean/std are bit-identical row-local doubles "
    "on every engine (no float fold-order hazard at the filter boundary); "
    "group stats are a 5-row broadcast joined back map-side",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly flagging: the data-quality gate a
    telemetry/training pipeline runs before aggregation. Sums integer
    cents (exact, engine-order-independent) rather than raw doubles:
    mean/variance derive row-locally from (n, Σx, Σx²), so the |z| ≥ τ
    cut is engine-exact. At 1e16+ cents² per group the Σx² accumulator
    would need DECIMAL — at this value range that is beyond 100 TB.
    Extension family (no reference analogue)."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100).cast("long").alias("xc"),
    )
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (
        F.col("n") * (F.col("n") - F.lit(1))
    ).cast("double")
    zs = (F.col("xc").cast("double") - mean) / F.sqrt(var)
    return (
        b.join(F.broadcast(s), "event_type")
        .select(
            "event_id", "event_type", "value", zs.alias("zs")
        )
        .filter(F.abs(F.col("zs")) >= _ZSCORE_TAU)
        .select("event_id", "event_type", "value", V.quantize(F.col("zs"), 4).alias("z"))
    )


@register(
    "skew_salted_count",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
    survey="ext: salted two-phase aggregation (skew lever; result ≡ plain count)",
)
def skew_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_count

    return salted_count(load_table(spark, sf_dir, "events"), "event_type")


@register(
    "q6_forecast_revenue",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    survey="ext: Q6 shape (pure scan-filter-agg, full pushdown)",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q12_shipmode_priority",
    """SELECT l_linestatus,
CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY l_linestatus""",
    survey="ext: Q12 shape (join + conditional aggregation)",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_share",
    """SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey""",
    survey="ext: Q14 shape (join + CASE ratio)",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "q18_large_orders",
    """SELECT c_name, o_orderkey, round(o_totalprice, 2) AS totalprice,
round(sum(l_quantity), 2) AS sum_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c_name, o_orderkey, o_totalprice
ORDER BY totalprice DESC, o_orderkey ASC LIMIT 20""",
    survey="ext: Q18 shape (HAVING subquery semi-join + topK)",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q4_priority_exists",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority""",
    survey="ext: Q4 shape (EXISTS → left-semi join, date-window pushdown; "
    "predicate adapted to the testdata's columns)",
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    qualifying = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey")
    )
    return (
        orders.join(qualifying, orders.o_orderkey == qualifying.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q19_disjunctive_revenue",
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)""",
    survey="ext: Q19 shape (disjunctive mixed-table predicates — Catalyst "
    "splits the OR into per-table pushable conjuncts; brands adapted to "
    "testdata values)",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "q16_distinct_suppliers",
    """SELECT p_brand, p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 10 GROUP BY p_brand, p_type""",
    survey="ext: Q16 shape (count distinct after join)",
)
def q16_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 10)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "json_extract_props",
    """SELECT event_id, CAST(props->>'$.k' AS INT) AS k,
CASE WHEN CAST(props->>'$.k' AS INT) >= 50 THEN 'high' ELSE 'low' END AS k_band
FROM events""",
    survey="ext: JSON column extraction (semi-structured props)",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


@register(
    "json_variant_stats",
    """SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  round(avg(CAST(props->>'$.k' AS INT)), 6) AS avg_k,
  CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
FROM events GROUP BY event_type""",
    survey="ext: VariantType semi-structured aggregation (Spark 4 "
    "parse_json -> binary variant -> variant_get; the JSON string is "
    "decoded once per row into the columnar variant encoding instead of "
    "re-parsed per extraction)",
)
def json_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).cast("int").alias("max_k"),
    )


@register(
    "unpivot_lineitem",
    """SELECT l_returnflag, name, val FROM (
  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_tax), 2) AS sum_tax
  FROM lineitem GROUP BY l_returnflag)
UNPIVOT (val FOR name IN (sum_qty, sum_tax))""",
    survey="ext: unpivot/melt (stack)",
)
def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_tax"), 2).alias("sum_tax"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'sum_qty', sum_qty, 'sum_tax', sum_tax) AS (name, val)",
    )


@register(
    "sql_api_revenue",
    """SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag""",
    survey="ext: spark.sql API surface (same Catalyst plan as DataFrame)",
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: temp views + ``spark.sql`` — Catalyst produces
    the same plan as the DataFrame API; users can pick either."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """SELECT l_returnflag,
                  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                  count(*) AS n
           FROM lineitem_v WHERE l_quantity > 10 GROUP BY l_returnflag"""
    )


@register(
    "approx_sketches",
    # Sketch values are engine-specific, but their ERROR BOUNDS are not:
    # the query emits deterministic pass/fail booleans against exact
    # truth computed in the same plan, and those booleans hash exactly.
    "SELECT l_returnflag, TRUE AS approx_parts_ok, TRUE AS approx_p50_ok "
    "FROM lineitem GROUP BY l_returnflag",
    survey="ext: approx_count_distinct + approx_percentile (sketch path); "
    "oracle-checkable via tolerance booleans — HLL rsd defaults to 0.05 so "
    "|approx−exact|/exact < 0.15 is a 3σ bound, and percentile_approx "
    "accuracy=10000 bounds rank error at 1e-4 so the estimate must land "
    "between the exact 45th and 55th percentiles",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-truth tolerance meter, as TWO aggregates joined on the
    3-row group key: mixing countDistinct (planned via Expand) with the
    object-buffer aggregates (percentile/percentile_approx) in ONE agg
    forces every buffer through the row-doubling expand pipeline —
    measured 9.5 s vs 0.7 s + 1.2 s split at sf0.1 (the former slowest
    query in the bench). The join is 3 rows × 3 rows, broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("apx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    pcts = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_p50"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.45), F.lit(0.55))
        ).alias("p4555"),
    )
    agg = counts.join(F.broadcast(pcts), "l_returnflag").select(
        "l_returnflag",
        "apx_parts",
        "exact_parts",
        "apx_p50",
        F.col("p4555")[0].alias("p45"),
        F.col("p4555")[1].alias("p55"),
    )
    return agg.select(
        "l_returnflag",
        (
            F.abs(F.col("apx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.15
        ).alias("approx_parts_ok"),
        ((F.col("apx_p50") >= F.col("p45")) & (F.col("apx_p50") <= F.col("p55"))).alias(
            "approx_p50_ok"
        ),
    )


@register(
    "exact_quantiles_histogram",
    quantiles.exact_quantiles_sql(
        "SELECT l_extendedprice FROM lineitem", "l_extendedprice"
    ),
    survey="ext: EXACT distributed quantiles by two-pass histogram-select "
    "(bin-count pass bounded by value range, then per-selected-bin order "
    "statistic) — the scalable exact complement to percentile_approx: no "
    "global sort ever touches the full table; ranks are integer rationals "
    "and values are selected not computed, so the result is engine-exact",
)
def exact_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return quantiles.exact_quantiles(li, "l_extendedprice", bin_width=100.0)


@register(
    "group_quantiles_histogram",
    quantiles.grouped_exact_quantiles_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag",
        "l_extendedprice",
    ),
    survey="ext: per-group exact quantiles (histogram-select with the "
    "group key threaded through every stage) — the p99-per-service / "
    "p50-per-segment production shape; a skewed group pays only for its "
    "own bins' sorts",
)
def group_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return quantiles.grouped_exact_quantiles(
        li, "l_returnflag", "l_extendedprice", bin_width=100.0
    )


# ===========================================================================
# 11. Multimodal plumbing (extension)
# ===========================================================================


@register(
    "multimodal_meta",
    """SELECT doc_id,
CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
  ELSE 'video' END AS modality,
octet_length(encode(text)) AS n_bytes, md5(text) AS digest,
CASE WHEN text[1:1] = 'j' THEN 'jpeg_like' WHEN text[1:1] = 'p' THEN 'png_like'
     WHEN text[1:1] = 'w' THEN 'wav_like' ELSE 'unknown' END AS sniffed_format
FROM documents""",
    survey="ext: multimodal binary columns (metadata path)",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.binary_metadata(
        multimodal.attach_payload(_docs(spark, sf_dir))
    )


# The fake decoder is a pure function of the payload bytes (md5-seeded:
# byte i of md5(payload), /255.0 — operators/multimodal.py:69), so DuckDB
# can recompute the feature vectors from md5(text) hex pairs. The fold sum
# is left-associated on both engines (F.aggregate init 0.0 ≡ SQL left-assoc
# +), so the doubles are bit-identical before the 6dp round.
_MM_BYTES_CTE = """WITH h AS (SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
    ELSE 'video' END AS modality, md5(text) AS hx FROM documents),
v AS (SELECT doc_id, modality,
  CAST('0x' || substr(hx, 1, 2) AS INT) / 255.0 AS v0,
  CAST('0x' || substr(hx, 3, 2) AS INT) / 255.0 AS v1,
  CAST('0x' || substr(hx, 5, 2) AS INT) / 255.0 AS v2,
  CAST('0x' || substr(hx, 7, 2) AS INT) / 255.0 AS v3,
  CAST('0x' || substr(hx, 9, 2) AS INT) / 255.0 AS v4,
  CAST('0x' || substr(hx, 11, 2) AS INT) / 255.0 AS v5,
  CAST('0x' || substr(hx, 13, 2) AS INT) / 255.0 AS v6,
  CAST('0x' || substr(hx, 15, 2) AS INT) / 255.0 AS v7
 FROM h)"""


@register(
    "multimodal_decode",
    f"""{_MM_BYTES_CTE}
SELECT doc_id, modality,
  round(v0 + v1 + v2 + v3 + v4 + v5 + v6 + v7, 6) AS feat_sum FROM v""",
    survey="ext: multimodal decode plumbing (mapInPandas, Arrow batches); "
    "hash-checkable because the deterministic fake decoder is md5-seeded "
    "and DuckDB recomputes the same bytes from md5 hex pairs",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = multimodal.decode_features(
        multimodal.attach_payload(_docs(spark, sf_dir))
    )
    return feats.select(
        "doc_id",
        "modality",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feat_sum"
        ),
    )


@register(
    "multimodal_frame_sample",
    """WITH m AS (SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
    ELSE 'video' END AS modality, text FROM documents),
f AS (SELECT doc_id, modality, text,
  CAST(unnest(range(CASE WHEN modality = 'video' THEN 4 ELSE 1 END)) AS INT)
    AS frame_idx FROM m)
SELECT doc_id, modality, frame_idx,
  md5(text || '#' || frame_idx) AS frame_digest FROM f""",
    survey="ext: multimodal frame sampling (mapInPandas 1→N fan-out)",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_frames(
        multimodal.attach_payload(_docs(spark, sf_dir)), n_frames=4
    )


@register(
    "multimodal_resize",
    # np.interp(linspace(0,1,4), linspace(0,1,8), v) hits exactly four
    # points: v0, lerp(v2,v3 @ 1/3 between 2/7..3/7), lerp(v4,v5 @ 2/3
    # between 4/7..5/7), v7. The SQL below repeats numpy's IEEE op
    # sequence (slope = Δf/Δx; ret = slope·(x−x_lo) + f_lo, with the
    # linspace knots as 2.0*(1.0/7.0) etc.), so before the 8dp round the
    # doubles are bit-identical; the rounds absorb any residual ulp.
    f"""{_MM_BYTES_CTE},
r AS (SELECT doc_id, modality,
  round(v0, 8) AS r0,
  round(((v3 - v2) / (3.0*(1.0/7.0) - 2.0*(1.0/7.0)))
        * (1.0/3.0 - 2.0*(1.0/7.0)) + v2, 8) AS r1,
  round(((v5 - v4) / (5.0*(1.0/7.0) - 4.0*(1.0/7.0)))
        * (2.0*(1.0/3.0) - 4.0*(1.0/7.0)) + v4, 8) AS r2,
  round(v7, 8) AS r3
 FROM v)
SELECT doc_id, modality, round(r0 + r1 + r2 + r3, 6) AS resized_sum FROM r""",
    survey="ext: multimodal resize plumbing (decode→resample, one Arrow "
    "pass); hash-checkable — the md5-seeded decode and the 8→4 linear "
    "resample are recomputed in DuckDB at identical IEEE op order",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = multimodal.resize_features(
        multimodal.attach_payload(_docs(spark, sf_dir)), out_dim=4
    )
    return out.select(
        "doc_id",
        "modality",
        F.round(F.aggregate("resized", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "resized_sum"
        ),
    )


@register(
    "multimodal_png_roundtrip",
    """WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id, CAST(8 AS INT) AS n_features,
  CAST(CAST('0x' || substr(hx, 1, 2) AS INT)
     + CAST('0x' || substr(hx, 3, 2) AS INT)
     + CAST('0x' || substr(hx, 5, 2) AS INT)
     + CAST('0x' || substr(hx, 7, 2) AS INT)
     + CAST('0x' || substr(hx, 9, 2) AS INT)
     + CAST('0x' || substr(hx, 11, 2) AS INT)
     + CAST('0x' || substr(hx, 13, 2) AS INT)
     + CAST('0x' || substr(hx, 15, 2) AS INT) AS BIGINT) AS pixel_sum
FROM h""",
    survey="ext: REAL image-codec round-trip — md5-derived pixel rows are "
    "encoded to genuine PNG bytes (vendored stdlib zlib/struct writer) and "
    "decoded back through the real-decoder dispatch (Pillow when "
    "importable, the stdlib PNG reader otherwise) in one bounded-batch "
    "mapInPandas pass; the oracle recomputes the pixel bytes from md5 hex "
    "pairs, so the hash match proves the codec round-trip is lossless",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.png_roundtrip_features(_docs(spark, sf_dir))


@register(
    "multimodal_wav_roundtrip",
    """WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id, CAST(8 AS INT) AS n_features,
  CAST(CAST('0x' || substr(hx, 17, 2) AS INT)
     + CAST('0x' || substr(hx, 19, 2) AS INT)
     + CAST('0x' || substr(hx, 21, 2) AS INT)
     + CAST('0x' || substr(hx, 23, 2) AS INT)
     + CAST('0x' || substr(hx, 25, 2) AS INT)
     + CAST('0x' || substr(hx, 27, 2) AS INT)
     + CAST('0x' || substr(hx, 29, 2) AS INT)
     + CAST('0x' || substr(hx, 31, 2) AS INT) AS BIGINT) AS sample_sum,
  CAST(8000 AS INT) AS sample_rate
FROM h""",
    survey="ext: REAL audio-container round-trip — md5 digest bytes 8..15 "
    "are encoded to genuine RIFF/WAVE PCM bytes (stdlib wave module) and "
    "decoded back through audio_decoder in one bounded-batch mapInPandas "
    "pass; sample_rate comes from the parsed fmt chunk and the oracle "
    "recomputes the sample bytes from md5 hex pairs, so the hash match "
    "proves the container round-trip is lossless (audio twin of "
    "multimodal_png_roundtrip)",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.wav_roundtrip_features(_docs(spark, sf_dir))


def _audio_centered_sql() -> str:
    """CTE exposing the 8 decoded PCM samples centered at 128 (md5
    digest bytes 8..15 — the range multimodal_wav_roundtrip certifies
    survives the WAV container losslessly)."""
    cols = ",\n  ".join(
        f"CAST('0x' || substr(hx, {17 + 2 * j}, 2) AS INT) - 128 AS a{j}"
        for j in range(8)
    )
    return (
        "WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),\n"
        f"s AS (SELECT doc_id,\n  {cols}\n FROM h)"
    )


def _audio_frame_sql(frame_idx: int) -> str:
    """One frame's (energy, zero_crossings, peak) over samples
    a{4f}..a{4f+3} — pure integer arithmetic, identical to the numpy
    reduction in operators/multimodal.py:audio_frame_features."""
    a = [f"a{4 * frame_idx + i}" for i in range(4)]
    energy = " + ".join(f"{x}*{x}" for x in a)
    zcr = " + ".join(
        f"CASE WHEN ({a[i + 1]} >= 0) <> ({a[i]} >= 0) THEN 1 ELSE 0 END"
        for i in range(3)
    )
    peak = ", ".join(f"abs({x})" for x in a)
    return (
        f"SELECT doc_id, CAST({frame_idx} AS INT) AS frame_idx, "
        "CAST(4 AS INT) AS n_samples, "
        f"CAST({energy} AS BIGINT) AS energy, "
        f"CAST({zcr} AS INT) AS zero_crossings, "
        f"CAST(greatest({peak}) AS INT) AS peak FROM s"
    )


def _png_pixels_sql() -> str:
    """CTE exposing the 8 decoded pixels (md5 digest bytes 0..7 — the
    range multimodal_png_roundtrip certifies survives the PNG codec)."""
    cols = ",\n  ".join(
        f"CAST('0x' || substr(hx, {1 + 2 * j}, 2) AS INT) AS p{j}"
        for j in range(8)
    )
    return (
        "WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),\n"
        f"s AS (SELECT doc_id,\n  {cols}\n FROM h)"
    )


@register(
    "multimodal_image_stats",
    lambda: f"""{_png_pixels_sql()}
SELECT doc_id,
  CAST({" + ".join(f"abs(p{j + 1} - p{j})" for j in range(7))} AS BIGINT)
    AS total_variation,
  CAST(least({", ".join(f"p{j}" for j in range(8))}) AS INT) AS px_min,
  CAST(greatest({", ".join(f"p{j}" for j in range(8))}) AS INT) AS px_max
FROM s""",
    survey="ext: spatial image feature extraction through the REAL PNG "
    "codec — total variation (1-D edge energy, the classic blur/flat "
    "detector), min/max; all-integer features recomputed exactly by the "
    "oracle from md5 hex pairs; shuffle-free mapInPandas pass (the image "
    "twin of multimodal_audio_frames)",
)
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.image_stats_features(_docs(spark, sf_dir))


def _png_tile_resize_sql(out_h: int = 6, out_w: int = 6) -> str:
    """Oracle for the 4×4 → out_h×out_w nearest-neighbor resize: all 16
    digest bytes as pixels, the resized grid rebuilt with the SAME floor
    index map ((dst·4)//dst_dim) as pure column references — every
    output pixel is an exact source byte, so no float ever appears. The
    grid is emitted as the row-major lowercase-hex string (two md5-hex
    chars per sampled byte), not a list: the driver's pandas
    canonicalizer cannot lexsort list cells, so output schemas are
    contract-bound to atomic types (tests/test_contract.py)."""
    cols = ",\n  ".join(
        f"CAST('0x' || substr(hx, {1 + 2 * j}, 2) AS INT) AS p{j}"
        for j in range(16)
    )
    ri = [(i * 4) // out_h for i in range(out_h)]
    ci = [(j * 4) // out_w for j in range(out_w)]
    flat = [r * 4 + c for r in ri for c in ci]
    refs = [f"p{j}" for j in flat]
    hex_parts = " || ".join(f"substr(hx, {1 + 2 * j}, 2)" for j in flat)
    return f"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
s AS (SELECT doc_id, hx,
  {cols}
 FROM h)
SELECT doc_id, {hex_parts} AS resized_hex,
  CAST({" + ".join(refs)} AS BIGINT) AS px_sum
FROM s"""


@register(
    "multimodal_image_resize",
    lambda: _png_tile_resize_sql(),
    survey="ext: REAL 2-D nearest-neighbor image resize through the PNG "
    "codec — encode the md5-derived 4x4 grayscale tile to genuine PNG, "
    "decode, resize 4x4 -> 6x6 with the canonical floor index map "
    "(every output pixel an exact source byte); the oracle rebuilds the "
    "grid from md5 hex by pure index arithmetic, so a codec or sampler "
    "bug breaks the hash; shuffle-free bounded-batch mapInPandas",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode→resize→emit pipeline made real: a genuine PNG decode
    feeds a genuine spatial resample (row/col replication upsample,
    4×4 → 6×6), emitted as the row-major hex grid plus a checksum.
    Production swaps the tile for real images and NN for bilinear; the
    Spark plan — one Arrow pass, no shuffle — is unchanged."""
    return multimodal.image_resize_features(_docs(spark, sf_dir))


def _audio_spectrum_bin_sql(k: int) -> str:
    """One DFT bin's power over centered samples a0..a7, with the exact
    twiddle-table doubles and the same left-associated op sequence as
    ``operators.multimodal.dft8_power`` — bit-identical, no trig call."""
    def d(x: float) -> str:
        # plain decimal literals parse as DECIMAL in DuckDB (bounded
        # precision → overflow, non-IEEE arithmetic); force DOUBLE
        return f"CAST({x!r} AS DOUBLE)"

    re_terms = "".join(
        f" + (a{n}) * {d(multimodal._COS8[(k * n) % 8])}" for n in range(8)
    )
    im_terms = "".join(
        f" - (a{n}) * {d(multimodal._SIN8[(k * n) % 8])}" for n in range(8)
    )
    re = f"({d(0.0)}{re_terms})"
    im = f"({d(0.0)}{im_terms})"
    return (
        f"SELECT doc_id, CAST({k} AS INT) AS bin, "
        f"{V.quantize_sql(f'{re} * {re} + {im} * {im}', 6)}"
        " AS power FROM s"
    )


@register(
    "multimodal_audio_spectrum",
    lambda: f"""{_audio_centered_sql()}
{" UNION ALL ".join(_audio_spectrum_bin_sql(k) for k in range(5))}""",
    survey="ext: frequency-domain audio features through the REAL WAV "
    "codec — 8-point DFT power spectrum (bins 0..4) with exact "
    "twiddle-table doubles (angles are multiples of π/4: 0, ±1, ±√2/2), "
    "so no engine ever calls trig and the left-associated sums are "
    "IEEE-identical; one shuffle-free mapInPandas pass, 1→5 fan-out",
)
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = multimodal.audio_spectrum_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "bin", V.quantize(F.col("power"), 6).alias("power")
    )


@register(
    "multimodal_audio_frames",
    f"""{_audio_centered_sql()}
{_audio_frame_sql(0)}
UNION ALL
{_audio_frame_sql(1)}""",
    survey="ext: frame-level audio feature extraction through the REAL "
    "WAV codec — encode → stdlib-wave decode → center → frame → "
    "energy/zero-crossings/peak, one mapInPandas pass with a 1→n_frames "
    "fan-out; every feature is an integer function of the sample bytes, "
    "so the oracle recomputes them exactly from md5 hex pairs",
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.audio_frame_features(_docs(spark, sf_dir))


# ===========================================================================
# 12. Training-pipeline corpus ops (extensions): reproducible sampling,
# dedup keep-list materialization, corpus shape statistics
# ===========================================================================


@register(
    "corpus_sample_10pct",
    "SELECT doc_id, text FROM documents "
    "WHERE CAST('0x' || md5(CAST(doc_id AS VARCHAR))[1:8] AS BIGINT) % 100 < 10",
    survey="ext: deterministic hash sampling — reproducible corpus subsets "
    "(same rows on every engine/run/partitioning, unlike rand()-based "
    "TABLESAMPLE); the filter is a pure row predicate so it pushes to the "
    "scan and composes with any downstream op",
)
def corpus_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    from .sources.io import hash_bucket

    bucket = hash_bucket("doc_id", 100)
    return d.select("doc_id", "text").filter(bucket < 10)


@register(
    "dedup_keep_canonical",
    f"""WITH g AS ({dedup.exact_dup_groups_sql()})
SELECT d.doc_id, d.text FROM documents d
JOIN g ON g.canonical_id = d.doc_id""",
    survey="ext: dedup keep-list materialization — the corpus AFTER exact "
    "dedup (one canonical doc per distinct text), as a semi-joinable frame",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    keep = dedup.exact_dup_groups(d).select(F.col("canonical_id").alias("doc_id"))
    return d.join(keep, "doc_id", "left_semi").select("doc_id", "text")


@register(
    "corpus_token_histogram",
    f"""WITH t AS (SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents)
SELECT CAST(floor(len(toks) / 10) AS INT) AS bucket,
CAST(count(*) AS BIGINT) AS n_docs,
CAST(min(len(toks)) AS INT) AS min_toks, CAST(max(len(toks)) AS INT) AS max_toks
FROM t GROUP BY 1""",
    survey="ext: corpus shape statistics — token-count histogram (10-token "
    "buckets); the distribution check before a training run",
)
def corpus_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n = F.size(X.tokenize(F.col("text")))
    return (
        d.select(F.floor(n / 10).cast("int").alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").cast("int").alias("min_toks"),
            F.max("n").cast("int").alias("max_toks"),
        )
    )


# ===========================================================================
# 13. Remaining TPC-H shapes (Q2, Q7-Q11, Q13, Q15, Q17, Q20-Q22) — imported
# for registration side effects; completes all 22 TPC-H query shapes.
# ===========================================================================

from . import registry_tpch  # noqa: E402,F401  (registration import)

# ===========================================================================
# 14. Training-corpus preparation ops (redact / chunk / pack / mix)
# ===========================================================================

from . import registry_corpus  # noqa: E402,F401  (registration import)


@register(
    "corpus_near_dedup_report",
    _CLUSTER_EDGES_SQL
    + """,
undirected AS (SELECT a AS src, b AS dst FROM edges
               UNION SELECT b AS src, a AS dst FROM edges),
reach AS (
  SELECT src, dst FROM undirected
  UNION
  SELECT r.src, u.dst FROM reach r JOIN undirected u ON r.dst = u.src),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src),
sizes AS (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clusters GROUP BY canonical_id)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(sum(n_members) AS BIGINT) AS n_docs_clustered,
  CAST(sum(n_members - 1) AS BIGINT) AS n_removable,
  CAST(max(n_members) AS BIGINT) AS largest_cluster
FROM sizes""",
    survey="ext: near-dup coverage report — cluster count, docs swept into "
    "clusters, removable rows, and worst cluster size over the minhash "
    "connected components; the near-dup counterpart of "
    "corpus_dedup_report's exact summary (together they are the dedup "
    "run's before/after ledger).",
)
def corpus_near_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary of the near-dup cluster structure (jaccard ≥ 0.5 minhash
    components): how many clusters, how many docs they sweep in, how
    many rows dedup would remove, and the largest cluster — the scale
    red-flag (a mega-cluster means boilerplate is defeating shingling)."""
    from .operators.clusters import connected_components

    pairs = _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
    edges = pairs.filter(F.col("jaccard") >= 0.5).select("a", "b")
    sizes = (
        connected_components(edges)
        .groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_members").cast("long").alias("n_docs_clustered"),
        F.sum(F.col("n_members") - 1).cast("long").alias("n_removable"),
        F.max("n_members").cast("long").alias("largest_cluster"),
    )


@register(
    "bucketed_join_priority_revenue",
    """SELECT o_orderpriority,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority""",
    survey="ext: bucketed co-located fact-fact join — both sides written "
    "bucketed by the join key once (one file per bucket), then "
    "SortMergeJoin with NO Exchange under the join (plan-asserted in "
    "tests/test_plans.py): the layout that amortizes the 100 TB "
    "orders-lineitem shuffle across every later join on the key",
)
def bucketed_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once bucketed layout, join-many shuffle-free: the result is
    layout-independent (exact integer-cents revenue), which the plain
    unbucketed oracle SQL verifies."""
    from .operators.bucketed import bucketed_priority_revenue

    return bucketed_priority_revenue(spark, sf_dir)


@register(
    "events_funnel",
    """WITH f1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
f2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN f1 ON e.user_id = f1.user_id AND e.ts > f1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id),
f3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN f2 ON e.user_id = f2.user_id AND e.ts > f2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT step, n_users FROM (
  SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM f1
  UNION ALL
  SELECT '2_click', CAST(count(*) AS BIGINT) FROM f2
  UNION ALL
  SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM f3)""",
    survey="ext: ordered funnel analysis — users reaching view → click "
    "→ purchase IN ORDER (each step's earliest time must precede the "
    "next step's event): three aggregates and two joins, all keyed on "
    "user_id, so the exchange is planned once and reused",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel in ONE scan: a cascade of whole-partition
    window minima over the SAME user_id partitioning (t1 = first view,
    t2 = first click after t1, t3 = first purchase after t2), so events
    shuffle once; the per-user reduce rides the window's partitioning
    with no second exchange, and only 150 user rows reach the final
    3-row rollup. (The 3-aggregate/2-join formulation — the oracle's
    shape — planned 7 exchanges; this plans 2.)"""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    w = W.partitionBy("user_id")
    d = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    # t1/t2/t3 are constant within each user partition; max() is just the
    # per-user reduce (any row's value), and it reuses the window exchange
    per_user = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    agg = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return agg.select(
        F.expr(
            "stack(3, '1_view', n1, '2_click', n2, '3_purchase', n3) "
            "AS (step, n_users)"
        )
    )


@register(
    "events_retention",
    """WITH first_seen AS (
  -- DuckDB date_trunc('week') yields DATE; cast to TIMESTAMP to render
  -- identically to Spark's timestamp-typed date_trunc
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
  FROM events)
SELECT cohort_week,
  CAST((epoch(w) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
  CAST(count(*) AS BIGINT) AS n_users
FROM act JOIN first_seen USING (user_id)
GROUP BY 1, 2""",
    survey="ext: cohort retention matrix — users bucketed by first-seen "
    "week, counted per later activity-week offset: the standard "
    "product-analytics rollup; week arithmetic stays in exact integer "
    "epoch seconds (both engines truncate weeks to Monday)",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: first-seen week × activity-week offset
    → distinct users. Cohort assignment is an aggregate on user_id;
    activity dedup is a distinct on (user_id, week); the final join is
    user-keyed — the whole matrix is two shuffles on uniform keys."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        act.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                (
                    F.unix_timestamp("w")
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "streaming_static_enrich",
    """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2""",
    survey="ext-ST: stream-static enrichment join — the micro-batch "
    "stream joins a broadcast dimension (customer segments) inside the "
    "streaming plan, then keeps running per-(segment, type) counts in "
    "complete mode; the static side ships once per executor, the "
    "stream side never shuffles for the join",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (Structured Streaming's dimension-enrichment
    idiom, the streaming analogue of the reference's broadcast label
    map, ``SparkRunner.scala`` broadcast usage): events stream ⋈
    broadcast(customer) → running counts. The batch oracle computes the
    same join/aggregate — stream-static inner joins are stateless, so
    final complete-mode counts ≡ the batch answer."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.join(
                F.broadcast(cust), stream.user_id == cust.c_custkey
            )
            .groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return _run_stream_over_events(spark, sf_dir, build, mode="complete")


_BASKET_TOPK = 20


@register(
    "orders_basket_pairs",
    f"""WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem),
pc AS (SELECT pkey, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY pkey),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM op),
pairs AS (
  SELECT a.pkey AS p1, b.pkey AS p2, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY 1, 2),
j AS (
  SELECT p1, p2, pair_cnt,
    ((CAST(pair_cnt AS DOUBLE) * n_orders) /
     (CAST(c1.c AS DOUBLE) * c2.c)) AS lift_full
  FROM pairs JOIN pc c1 ON c1.pkey = p1 JOIN pc c2 ON c2.pkey = p2
  CROSS JOIN n)
SELECT p1, p2, pair_cnt,
  (floor(lift_full * 1000000.0) / 1000000.0) AS lift
FROM j ORDER BY pair_cnt DESC, p1 ASC, p2 ASC LIMIT {_BASKET_TOPK}""",
    survey="ext: market-basket pair mining (Apriori level 2) — parts "
    "co-purchased in one order, with support counts and lift; the "
    "self-join is BLOCKED by order key (work ∝ Σ order_size², bounded "
    "per order), never an all-pairs product; lift stays in ratio space "
    "(IEEE divide/multiply of exact integers) so ranking and values "
    "are engine-exact",
)
def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining over order baskets: the per-order self-join
    is the bucketed-expansion pattern (like MinHash bands) — candidate
    volume is Σ per-order-size², not |parts|²; part totals broadcast
    back onto the pair table."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    ).distinct()
    pc = op.groupBy("pkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = op.agg(F.countDistinct("okey").alias("n_orders"))
    a = op.select("okey", F.col("pkey").alias("p1"))
    b = op.select("okey", F.col("pkey").alias("p2"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )
    c1 = pc.select(F.col("pkey").alias("p1"), F.col("c").alias("c1"))
    c2 = pc.select(F.col("pkey").alias("p2"), F.col("c").alias("c2"))
    j = (
        pairs.join(F.broadcast(c1), "p1")
        .join(F.broadcast(c2), "p2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_full",
            (F.col("pair_cnt").cast("double") * F.col("n_orders"))
            / (F.col("c1").cast("double") * F.col("c2")),
        )
    )
    return (
        j.select(
            "p1",
            "p2",
            "pair_cnt",
            (F.floor(F.col("lift_full") * 1e6) / 1e6).alias("lift"),
            "lift_full",
        )
        .orderBy(F.desc("pair_cnt"), F.asc("p1"), F.asc("p2"))
        .limit(_BASKET_TOPK)
        .drop("lift_full")
    )


@register(
    "events_markov_transitions",
    """WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS cnt
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS row_total FROM t GROUP BY 1)
SELECT prev_type, next_type, cnt,
  (floor((CAST(cnt AS DOUBLE) / row_total) * 1000000.0) / 1000000.0) AS prob
FROM t JOIN tot USING (prev_type)""",
    survey="ext: Markov transition matrix — per-user event sequences "
    "(lag over one user-keyed window) reduced to P(next | prev): "
    "sequence mining beyond the ordered funnel; one shuffle for the "
    "window, vocab-bounded aggregates after",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition probabilities between event types,
    sequenced per user by (ts, event_id). Probabilities are exact-int
    ratios, floor-quantized — engine-exact."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = t.groupBy("prev_type").agg(
        F.sum("cnt").cast("long").alias("row_total")
    )
    return t.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "cnt",
        (F.floor((F.col("cnt").cast("double") / F.col("row_total")) * 1e6) / 1e6)
        .alias("prob"),
    )


@register(
    "window_range_rolling",
    """SELECT event_id, user_id,
  round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
    -- floor(epoch()): DuckDB epoch() keeps fractional microseconds,
    -- Spark unix_timestamp truncates — align on integer seconds
    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0, 2)
    AS rolling_24h
FROM events""",
    survey="ext: RANGE-frame window — per-user rolling 24h sum over a "
    "time-valued frame (peers included), the frame spec ROWS frames "
    "can't express; the accumulator is exact integer cents, so the "
    "running sum is order- and engine-invariant",
)
def window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value summed over each event's trailing 24 hours per user:
    RANGE BETWEEN over epoch seconds (ties are peers — included in
    each other's frames on both engines)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(cents).over(w).cast("double") / 100.0, 2).alias(
            "rolling_24h"
        ),
    )


@register(
    "partitioned_day_scan",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY event_type""",
    survey="ext: date-partitioned layout + partition pruning — the "
    "warehouse directory structure as a planning-time index: a one-day "
    "predicate lands in PartitionFilters (plan-asserted) and reads "
    "1/365 of a year-partitioned table; the oracle computes the same "
    "counts from the unpartitioned file, so the layout provably "
    "changes cost, not answers",
)
def partitioned_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day's per-type counts off the ``event_date=...`` partitioned
    layout (written once per sf_dir)."""
    from .operators.bucketed import partitioned_day_scan as _pds

    return _pds(spark, sf_dir)


@register(
    "dedup_minhash_recall",
    f"""WITH mh AS (SELECT a, b FROM ({get("dedup_minhash_pairs").sql})
  WHERE jaccard >= {_PPJOIN_T}),
ex AS (SELECT a, b FROM ({get("dedup_ppjoin_pairs").sql})),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched FROM ex JOIN mh USING (a, b)),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ex)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t""",
    survey="ext: MinHash-LSH recall meter — banding's verified pairs at "
    "jaccard >= t measured against the PPJoin EXACT threshold join "
    "(provably complete), the dedup analog of the ANN recall meters: "
    "banding's false-negative rate priced per corpus BEFORE anyone "
    "trusts the probabilistic path at 100 TB (precision needs no meter "
    "— candidates are exact-Jaccard verified, so it is 1 by "
    "construction)",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall = |minhash pairs verified at >= t| / |exact pairs at >= t|
    (the banding miss rate is the ONLY error source — both paths verify
    with exact Jaccard).

    The exact side feeds BOTH the matched-join numerator and the total
    denominator; the subtrees end in joins (not exchanges), so Spark's
    ReuseExchange cannot dedupe them and the whole PPJoin ran twice in
    one plan. Persisting the (bounded, above-threshold) pair set once
    is the fix: 7.8 → 5.6 s at sf0.1, hash unchanged."""
    from .cache import eager_persist

    d = _docs(spark, sf_dir)
    mh = (
        _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
        .filter(F.col("jaccard") >= _PPJOIN_T)
        .select("a", "b")
    )
    ex = eager_persist(
        dedup.ppjoin_pairs(d, threshold=_PPJOIN_T).select("a", "b")
    )
    m = ex.join(mh, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("long").alias("matched")
    )
    t = ex.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return m.crossJoin(F.broadcast(t)).select(
        "matched",
        "total",
        (
            F.floor((F.col("matched").cast("double") / F.col("total")) * 1e6)
            / 1e6
        ).alias("recall"),
    )


def _ivf_probe_block_sql(n: int, tag: str) -> str:
    """CTEs for an ``n``-probe query set (q_id, qv, cell): repeated
    argmax with value-masking (ties mask together), duplicate cells
    deduped by UNION — the SQL twin of ``similarity.ivf_topk``'s probe
    loop, generated for any probe count."""
    lines = [f"{tag}1 AS (SELECT vec_id, v, cs AS c1 FROM ac WHERE vec_id % 10 = 0)"]
    sels = []
    for i in range(1, n + 1):
        sels.append(
            f"SELECT vec_id AS q_id, v AS qv, "
            f"CAST(list_position(c{i}, list_max(c{i})) AS INT) AS cell FROM {tag}{i}"
        )
        if i < n:
            lines.append(
                f"{tag}{i + 1} AS (SELECT vec_id, v, "
                f"list_transform(c{i}, x -> CASE WHEN x = list_max(c{i}) "
                f"THEN -1e18 ELSE x END) AS c{i + 1} FROM {tag}{i})"
            )
    union = "\n  UNION\n  ".join(sels)
    lines.append(f"qp{tag} AS ({union})")
    return ",\n".join(lines)


_SWEEP_PROBES = (1, 2, 4)


def _ivf_sweep_sql() -> str:
    blocks, outs = [], []
    for p in _SWEEP_PROBES:
        tag = f"sw{p}"
        blocks.append(
            f"""{_ivf_probe_block_sql(p, tag)},
s{tag} AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM ac c JOIN qp{tag} ON c.cell = qp{tag}.cell WHERE c.vec_id <> q_id),
t{tag} AS ({topk.top_k_per_group_sql(f"SELECT * FROM s{tag}", ["q_id"], "cos", 5, ["c_id"])}),
r{tag} AS (SELECT CAST({p} AS INT) AS n_probe,
  (SELECT CAST(count(*) AS BIGINT) FROM bt JOIN t{tag} tt
     ON bt.q_id = tt.q_id AND bt.c_id = tt.c_id) AS matched,
  (SELECT CAST(count(*) AS BIGINT) FROM bt) AS total)"""
        )
        outs.append(f"SELECT * FROM r{tag}")
    union = "\nUNION ALL\n".join(outs)
    return f"""WITH e AS ({_EMB_CTE}),
{_IVF_SQL_ASSIGN},
bq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, bq WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
{",".join(blocks)}
SELECT n_probe, matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM ({union})"""


@register(
    "ann_ivf_probe_sweep",
    _ivf_sweep_sql(),
    survey="ext: IVF tuning curve — recall@5 at n_probe in {1,2,4} "
    "against one exact truth set: the probe-count/recall trade measured "
    "per corpus, which is HOW n_probe gets chosen before serving (more "
    "probes = linearly more cells scanned; the curve says what recall "
    "each price buys)",
)
def ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall as a function of probe count (1, 2, 4) over the same IVF
    index and the same exact truth set — the tuning table for the
    scan-cost/recall trade.

    One candidate scan serves every depth: probe sets are NESTED, so
    ``similarity.ivf_probe_sweep_fused`` ranks the exact truth and each
    depth's IVF pair set (the candidates whose cell is within the
    query's first p probes) from the same per-batch score matrix in one
    ``mapInArrow`` stage, finalizes each ranking with one (tag, q_id)
    top-k window, and counts hits per depth with a (q_id, c_id) group
    and one aggregate — no join. Equivalence with per-depth
    recall_at_k(truth, ivf_topk) is test-pinned and hash-checked by the
    oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.ivf_probe_sweep_fused(
        queries, emb, 5, n_cells=_IVF_CELLS, probes=_SWEEP_PROBES
    )


_CONTAIN_T = 0.6


@register(
    "dedup_containment_pairs",
    f"""
WITH shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx),
bands AS (
  SELECT doc_id, b.band,
  coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
  FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  AND l.doc_id < r.doc_id),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shx),
c AS (SELECT a, b,
  (floor((CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
     greatest(least(len(x.sh), len(y.sh)), 1)) * 1000000.0) / 1000000.0)
  AS containment
  FROM cand JOIN shd x ON x.doc_id = a JOIN shd y ON y.doc_id = b)
SELECT a, b, containment FROM c WHERE containment >= {_CONTAIN_T}""",
    survey="ext: containment near-subset dedup — |A∩B|/min(|A|,|B|) over "
    "LSH candidates: catches a short doc quoted whole inside a long one "
    "(containment ~1, Jaccard arbitrarily low), the duplication mode a "
    "Jaccard threshold is blind to; same banding, same verify-join cost",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs with shingle-set containment >= 0.6 (near-subset
    duplicates; see operators/dedup.py containment_on_pairs)."""
    return dedup.minhash_containment_pairs(
        _docs(spark, sf_dir), threshold=_CONTAIN_T
    )


_MPROBE_BUCKETS = "[bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]"

_MPROBE_SQL_HEAD = f"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
{V.lsh_bucket_sql("list_transform(embedding, x -> CAST(x AS DOUBLE))", 4, 64)} AS bucket
FROM embeddings),
q AS (SELECT vec_id AS q_id, qv, unnest(probes) AS bucket FROM (
  SELECT vec_id, v AS qv, {_MPROBE_BUCKETS} AS probes
  FROM e WHERE vec_id % 10 = 0)),
mscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c JOIN q USING (bucket) WHERE c.vec_id <> q_id)"""


@register(
    "ann_lsh_multiprobe_topk",
    _MPROBE_SQL_HEAD
    + f"""
{topk.top_k_per_group_sql("SELECT * FROM mscored", ["q_id"], "cos", 5, ["c_id"])}""",
    survey="ext: multi-probe LSH (Lv 2007) — each query probes its bucket "
    "and every 1-bit-flip neighbour: (n_bits+1)x the scanned candidates "
    "with NO extra hash tables, the memory-free recall lever (a "
    "candidate lives in exactly one bucket, so pairs cannot repeat)",
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over the query's bucket + 4 one-bit-flip neighbours."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.lsh_multiprobe_topk(queries, emb, 5)


@register(
    "ann_lsh_multiprobe_recall",
    _MPROBE_SQL_HEAD
    + f""",
mt AS ({topk.top_k_per_group_sql("SELECT * FROM mscored", ["q_id"], "cos", 5, ["c_id"])}),
bq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
bscored AS (SELECT q_id, c.vec_id AS c_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, bq WHERE c.vec_id <> q_id),
bt AS ({topk.top_k_per_group_sql("SELECT * FROM bscored", ["q_id"], "cos", 5, ["c_id"])}),
m AS (SELECT CAST(count(*) AS BIGINT) AS matched
  FROM bt JOIN mt ON bt.q_id = mt.q_id AND bt.c_id = mt.c_id),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bt)
SELECT matched, total,
  (floor((CAST(matched AS DOUBLE) / total) * 1000000.0) / 1000000.0) AS recall
FROM m, t""",
    survey="ext: multi-probe LSH recall meter vs exact truth — quantifies "
    "what the 5x probe fan buys over single-bucket LSH (ann_lsh_recall) "
    "for the same index bytes",
)
def ann_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of multi-probe LSH vs exact cosine top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    # r12: fused one-scan meter (bucket + 1-bit-flip eligibility) —
    # similarity.lsh_multiprobe_recall_fused
    return similarity.lsh_multiprobe_recall_fused(queries, emb, 5)


@register(
    "orders_rfm_segments",
    """WITH cm AS (
  SELECT o_custkey AS c,
    CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS r,
    CAST(count(*) AS BIGINT) AS f,
    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY o_custkey),
q AS (SELECT
    quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2, quantile_cont(r, 0.75) AS r3,
    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2, quantile_cont(f, 0.75) AS f3,
    quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2, quantile_cont(m, 0.75) AS m3
  FROM cm)
SELECT c AS c_custkey,
  CAST(1 + CAST(r > r1 AS INT) + CAST(r > r2 AS INT) + CAST(r > r3 AS INT) AS INT) AS r_score,
  CAST(1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT) + CAST(f > f3 AS INT) AS INT) AS f_score,
  CAST(1 + CAST(m > m1 AS INT) + CAST(m > m2 AS INT) + CAST(m > m3 AS INT) AS INT) AS m_score,
  CAST(1 + CAST(r > r1 AS INT) + CAST(r > r2 AS INT) + CAST(r > r3 AS INT) AS VARCHAR) ||
  CAST(1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT) + CAST(f > f3 AS INT) AS VARCHAR) ||
  CAST(1 + CAST(m > m1 AS INT) + CAST(m > m2 AS INT) + CAST(m > m3 AS INT) AS VARCHAR) AS segment
FROM cm, q""",
    survey="ext: RFM customer segmentation — recency/frequency/monetary "
    "quartile scores WITHOUT a global rank window: exact quartile "
    "boundaries come from one 1-row aggregate (broadcast back), scoring "
    "is a per-row CASE — the 100 TB-safe formulation (an ntile() over "
    "the whole table would be a single-partition sort)",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile-scored RFM per customer: metrics in one keyed aggregate
    (exact integer cents / epoch seconds), boundaries via exact
    percentile() on the metric table, strict-> comparisons so boundary
    ties bucket identically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.unix_timestamp(F.max("o_orderdate")).alias("r"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("m"),
    )
    q = cm.agg(
        *[
            F.expr(f"percentile({col}, {p})").alias(f"{col}{i}")
            for col in ("r", "f", "m")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    j = cm.crossJoin(F.broadcast(q))

    def score(col: str):
        return (
            F.lit(1)
            + (F.col(col) > F.col(f"{col}1")).cast("int")
            + (F.col(col) > F.col(f"{col}2")).cast("int")
            + (F.col(col) > F.col(f"{col}3")).cast("int")
        )

    return j.select(
        F.col("c").alias("c_custkey"),
        score("r").alias("r_score"),
        score("f").alias("f_score"),
        score("m").alias("m_score"),
        F.concat(
            score("r").cast("string"),
            score("f").cast("string"),
            score("m").cast("string"),
        ).alias("segment"),
    )


@register(
    "dedup_graph_triangles",
    f"""WITH mh AS (SELECT a, b FROM ({get("dedup_minhash_pairs").sql})
  WHERE jaccard >= {_PPJOIN_T}),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM mh e1 JOIN mh e2 ON e1.b = e2.a JOIN mh e3
    ON e3.a = e1.a AND e3.b = e2.b),
ed AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM mh)
SELECT n_edges, n_triangles FROM ed, tri""",
    survey="ext: triangle counting on the near-dup graph — the standard "
    "distributed graph primitive (id-oriented edges a<b make each "
    "triangle count exactly once via two keyed joins; production "
    "variant orients by degree to bound hub fan-out): triangles measure "
    "how CLIQUE-LIKE dup clusters are, which decides whether "
    "keep-one-per-cluster is safe or the cluster mixes unrelated pairs",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed triangles among verified near-dup pairs (a<b orientation;
    each triangle counted once)."""
    mh = (
        _ensure_minhash_pairs(spark, sf_dir)  # standing pair table
        .filter(F.col("jaccard") >= _PPJOIN_T)
        .select("a", "b")
    )
    e1 = mh.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = mh.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = mh.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    ed = mh.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return ed.crossJoin(F.broadcast(tri))


@register(
    "events_seasonality",
    """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hod,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        / count(*) / 100.0, 4) AS mean_value
FROM events GROUP BY 1, 2""",
    survey="ext: time-series seasonality profile — day-of-week x "
    "hour-of-day counts and means (exact integer-cents accumulation, so "
    "the mean is order-invariant): one vocab-bounded aggregate (168 "
    "cells) with map-side partials, the canonical pre-anomaly baseline",
)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (dow, hour) event counts and exact mean value. Spark's
    dayofweek is 1-based (Sunday=1), DuckDB's 0-based (Sunday=0) — the
    oracle adds 1 to align."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0, 4
            ).alias("mean_value"),
        )
    )


_PATH_TOPK = 15


@register(
    "events_user_paths",
    f"""WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
  FROM events),
tri AS (
  SELECT p2 || '>' || p1 || '>' || event_type AS path,
         CAST(count(*) AS BIGINT) AS cnt
  FROM seq WHERE p2 IS NOT NULL GROUP BY 1)
SELECT path, cnt FROM tri ORDER BY cnt DESC, path ASC LIMIT {_PATH_TOPK}""",
    survey="ext: top user paths — most frequent length-3 event-type "
    "sequences (second-order sequence mining beyond the first-order "
    "Markov matrix): two lags over ONE user-keyed window (one shuffle), "
    "path counts vocab-bounded (125 possible triples), top-K via "
    "TakeOrderedAndProject",
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common A>B>C event-type paths across users, sequenced per
    user by (ts, event_id)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    tri = (
        seq.filter(F.col("p2").isNotNull())
        .groupBy(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return tri.orderBy(F.desc("cnt"), F.asc("path")).limit(_PATH_TOPK)


@register(
    "window_distribution_funcs",
    """SELECT o_custkey, o_orderkey,
  (floor(percent_rank() OVER w * 1000000.0) / 1000000.0) AS prnk,
  (floor(cume_dist() OVER w * 1000000.0) / 1000000.0) AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC)""",
    survey="ext: distribution window functions (percent_rank / "
    "cume_dist) over a per-customer total order — both are exact "
    "integer ratios ((rank-1)/(n-1), rows<=current/n), so the values "
    "are engine-exact; completes the window-function surface next to "
    "rank/dense_rank/ntile/lead",
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per customer (floor-quantized ratios
    of exact ints)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc(F.round("o_totalprice", 2)), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.floor(F.percent_rank().over(w) * 1e6) / 1e6).alias("prnk"),
        (F.floor(F.cume_dist().over(w) * 1e6) / 1e6).alias("cdist"),
    )


@register(
    "orders_cohort_revenue",
    """WITH f AS (
  SELECT o_custkey, CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP)
    AS cohort_month
  FROM orders GROUP BY o_custkey),
m AS (
  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS om,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders)
SELECT cohort_month,
  CAST((year(om) - year(cohort_month)) * 12
       + (month(om) - month(cohort_month)) AS INT) AS month_offset,
  CAST(count(DISTINCT m.o_custkey) AS BIGINT) AS n_customers,
  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
FROM m JOIN f USING (o_custkey)
GROUP BY 1, 2""",
    survey="ext: cohort LTV matrix — customers bucketed by first-order "
    "month, revenue per month offset (exact integer cents): the revenue "
    "companion to the count-based events_retention; two keyed "
    "aggregates plus one customer-keyed join",
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order-month cohorts x month offset -> active customers and
    exact revenue."""
    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    m = o.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("om"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return (
        m.join(f, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year("om") - F.year("cohort_month")) * 12
                + (F.month("om") - F.month("cohort_month"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias("revenue"),
        )
    )


@register(
    "events_ab_test",
    """WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
    CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         >= 15 THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM events GROUP BY user_id),
w AS (
  -- conditional aggregation (not per-group rows): one output row even
  -- when a parity group is empty (degenerate single-user corpora)
  SELECT
    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN grp = 0 THEN converted END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN grp = 1 THEN converted END) AS BIGINT) AS cb
  FROM u),
c AS (SELECT na, ca, nb, cb,
  CAST(ca AS DOUBLE) / nullif(na, 0) AS ra,
  CAST(cb AS DOUBLE) / nullif(nb, 0) AS rb,
  CAST(ca + cb AS DOUBLE) / nullif(na + nb, 0) AS p FROM w)
SELECT na, ca, nb, cb,
  (floor(ra * 1000000.0) / 1000000.0) AS rate_a,
  (floor(rb * 1000000.0) / 1000000.0) AS rate_b,
  (floor((rb - ra) * 1000000.0) / 1000000.0) AS lift,
  (floor(((rb - ra) / nullif(sqrt(p * (1 - p) * (1.0 / nullif(na, 0) + 1.0 / nullif(nb, 0))), 0))
    * 1000000.0) / 1000000.0) AS z
FROM c""",
    survey="ext: A/B test primitive — two-proportion conversion z-test "
    "over hash-assigned groups: every input to the statistic is an "
    "exact integer count, the arithmetic is IEEE divide/multiply/sqrt "
    "(correctly rounded, engine-exact), so rates, lift, and z match to "
    "the bit; one user-keyed aggregate then a 1-row conditional rollup "
    "(total even when a group is empty — NULL stats, never a lost row)",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-rate z-test between user_id-parity groups (conversion
    = 15+ purchases). Conditional aggregation keeps the rollup total on
    degenerate corpora: an empty parity group yields NULL rates/z on
    BOTH engines rather than an empty result."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 15
        )
        .cast("long")
        .alias("converted")
    ).withColumn("grp", (F.col("user_id") % 2).cast("int"))
    w = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted"))).cast("long").alias("ca"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted"))).cast("long").alias("cb"),
    )
    c = w.select(
        "na",
        "ca",
        "nb",
        "cb",
        (F.col("ca").cast("double") / F.nullif(F.col("na"), F.lit(0))).alias("ra"),
        (F.col("cb").cast("double") / F.nullif(F.col("nb"), F.lit(0))).alias("rb"),
        (
            (F.col("ca") + F.col("cb")).cast("double")
            / F.nullif(F.col("na") + F.col("nb"), F.lit(0))
        ).alias("p"),
    )
    q6 = lambda c_: F.floor(c_ * 1e6) / 1e6
    return c.select(
        "na",
        "ca",
        "nb",
        "cb",
        q6(F.col("ra")).alias("rate_a"),
        q6(F.col("rb")).alias("rate_b"),
        q6(F.col("rb") - F.col("ra")).alias("lift"),
        q6(
            (F.col("rb") - F.col("ra"))
            / F.nullif(
                F.sqrt(
                    F.col("p")
                    * (1 - F.col("p"))
                    * (
                        1.0 / F.nullif(F.col("na"), F.lit(0))
                        + 1.0 / F.nullif(F.col("nb"), F.lit(0))
                    )
                ),
                F.lit(0.0),
            )
        ).alias("z"),
    )



@register(
    "lineitem_discount_ols",
    """WITH b AS (
  SELECT CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM b)
SELECT n, sx, sy, sxy, sxx,
  (floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0))
   * 1000000.0) / 1000000.0) AS slope,
  (floor(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
           nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)) * sx)
          / n) * 1000000.0) / 1000000.0) AS intercept
FROM s""",
    survey="ext: distributed OLS via sufficient statistics — slope and "
    "intercept of price~discount from five EXACT integer sums (n, Σx, "
    "Σy, Σxy, Σx²), accumulated map-side and combined in any order: "
    "the one-pass, shuffle-one-row linear regression shape; the closed "
    "form is IEEE divide/multiply of exact ints, engine-bit-equal "
    "(zero-variance x degenerates to NULL on both engines)",
)
def lineitem_discount_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """price(cents) ~ discount(basis points) least squares from exact
    integer moments: one aggregate, one output row, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = b.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    denom = F.nullif(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"), F.lit(0.0)
    )
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / denom
    q6 = lambda c_: F.floor(c_ * 1e6) / 1e6
    return s.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        q6(slope).alias("slope"),
        q6((F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


@register(
    "events_attribution",
    """WITH v AS (
  SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id,
  CASE WHEN v.ts IS NOT NULL
        AND floor(epoch(p.ts)) - floor(epoch(v.ts)) <= 86400
       THEN v.view_id END AS attributed_view_id,
  coalesce(v.ts IS NOT NULL
           AND floor(epoch(p.ts)) - floor(epoch(v.ts)) <= 86400, FALSE)
    AS attributed
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""",
    survey="ext: last-touch attribution — each purchase attributed to the "
    "user's most recent view within a 24h lookback (as-of join + "
    "tolerance): the marketing-attribution workload; views are "
    "pre-aggregated per (user, ts) so equal-timestamp ties resolve "
    "identically on both engines; one user-keyed union+window pass, no "
    "per-purchase scan",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined as-of to the latest preceding view, nulled when
    the view is older than 24h (tolerance applied post-join on exact
    epoch seconds)."""
    from .operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").cast("long").alias("view_id"))
        .select(
            "user_id",
            "ts",
            F.struct(
                F.col("ts").alias("vts"), F.col("view_id").alias("vid")
            ).alias("va"),
        )
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = as_of_join(
        purch, views, key="user_id", left_ts="ts", right_ts="ts",
        value_col="va", out_col="__a",
    )
    within = F.col("__a").isNotNull() & (
        (F.unix_timestamp("ts") - F.unix_timestamp(F.col("__a")["vts"]))
        <= 86400
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(within, F.col("__a")["vid"]).alias("attributed_view_id"),
        F.coalesce(within, F.lit(False)).alias("attributed"),
    )


@register(
    "quality_constraint_report",
    """SELECT chk, violations FROM (
  SELECT '1_orders_pk_unique' AS chk,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
  FROM orders
  UNION ALL
  SELECT '2_lineitem_fk_orders',
    CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT '3_price_nonnegative',
    CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT '4_discount_in_unit_range',
    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
         AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT '5_orderkey_not_null',
    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT '6_shipdate_not_null',
    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem)""",
    survey="ext: data-quality constraint report (Deequ/dbt-test shape) — "
    "PK uniqueness, FK integrity (anti-join), non-negativity, domain "
    "range, and null checks as ONE report table: each check is an "
    "aggregate or broadcast/shuffle anti-join, so the full audit is a "
    "constant number of passes regardless of constraint count per "
    "column; the report row format is what a pipeline gate consumes",
)
def quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over orders/lineitem: (check, violations) rows.
    The FK check is a left-anti join (maps to NOT IN over a
    non-nullable key in the oracle); everything else is conditional
    aggregation with map-side partials."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def one(chk: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(chk).alias("chk"), F.col("violations"))

    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("violations")
    )
    fk = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
    )
    def cond(df: DataFrame, pred) -> DataFrame:
        return df.agg(
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias("violations")
        )

    parts = [
        one("1_orders_pk_unique", pk),
        one("2_lineitem_fk_orders", fk),
        one("3_price_nonnegative", cond(li, F.col("l_extendedprice") < 0)),
        one(
            "4_discount_in_unit_range",
            cond(li, (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        one("5_orderkey_not_null", cond(li, F.col("l_orderkey").isNull())),
        one("6_shipdate_not_null", cond(li, F.col("l_shipdate").isNull())),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


_WILSON_Z = 1.96


@register(
    "supplier_return_wilson",
    f"""WITH s AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM lineitem GROUP BY l_suppkey),
w AS (
  SELECT l_suppkey, n, r,
    (floor((CAST(r AS DOUBLE) / n) * 1000000.0) / 1000000.0) AS rate,
    ((CAST(r AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
      - {_WILSON_Z} * sqrt((CAST(r AS DOUBLE) / n) * (1 - CAST(r AS DOUBLE) / n) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
     / (1 + {_WILSON_Z} * {_WILSON_Z} / n)) AS wl_full
  FROM s)
SELECT l_suppkey, n, r, rate,
  (floor(wl_full * 1000000.0) / 1000000.0) AS wilson_lower
FROM w ORDER BY wl_full DESC, l_suppkey ASC LIMIT 20""",
    survey="ext: Wilson-lower-bound ranking — suppliers ranked by the "
    "95% lower confidence bound of their return rate, not the raw rate "
    "(the standard small-sample-safe ranking: a 2/2 supplier must not "
    "outrank a 95/100 one): per-key integer counts, one keyed "
    "aggregate, then pure IEEE arithmetic with a constant z — "
    "engine-exact ranking AND values; top-K is TakeOrderedAndProject",
)
def supplier_return_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top suppliers by Wilson lower bound of return-flag rate (ranked
    on the full-precision bound, displayed floor-quantized)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    z = _WILSON_Z
    p = F.col("r").cast("double") / F.col("n")
    nd = F.col("n").cast("double")
    wl = (
        p
        + z * z / (2.0 * nd)
        - z * F.sqrt(p * (1 - p) / nd + z * z / (4.0 * nd * nd))
    ) / (1 + z * z / nd)
    q6 = lambda c_: F.floor(c_ * 1e6) / 1e6
    return (
        s.select(
            "l_suppkey",
            "n",
            "r",
            q6(p).alias("rate"),
            wl.alias("wl_full"),
        )
        .orderBy(F.desc("wl_full"), F.asc("l_suppkey"))
        .limit(20)
        .select(
            "l_suppkey", "n", "r", "rate", q6(F.col("wl_full")).alias("wilson_lower")
        )
    )


@register(
    "brand_discount_ols",
    """WITH b AS (
  SELECT p_brand,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey),
s AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM b GROUP BY p_brand)
SELECT p_brand, n,
  (floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
          nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0))
   * 1000000.0) / 1000000.0) AS slope
FROM s""",
    survey="ext: grouped OLS — one regression PER KEY (brand) from the "
    "same five exact integer sufficient statistics, all brands in one "
    "keyed aggregate: the 'millions of models' pattern (per-key slopes "
    "at 100 TB cost one shuffle, not one job per model); zero-variance "
    "keys degrade to NULL on both engines",
)
def brand_discount_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price~discount slope via grouped sufficient statistics
    (broadcast dim join, one aggregate, one row per brand)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = b.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    denom = F.nullif(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"), F.lit(0.0)
    )
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / denom
    return s.select(
        "p_brand", "n", (F.floor(slope * 1e6) / 1e6).alias("slope")
    )


@register(
    "nation_revenue_yoy",
    """WITH r AS (
  SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2)
SELECT n_name, yr,
  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
  (floor((CAST(cents AS DOUBLE) /
          nullif(lag(cents) OVER (PARTITION BY n_name ORDER BY yr), 0) - 1)
   * 1000000.0) / 1000000.0) AS yoy_growth
FROM r""",
    survey="ext: year-over-year growth — per-nation revenue with a lag "
    "window over the (nation, year) rollup: the trend-report shape; "
    "the window runs over the AGGREGATED table (|nations|x|years| "
    "rows), never the fact table, so the lag costs nothing at scale; "
    "exact integer cents make the ratio engine-exact; first year is "
    "NULL growth on both engines",
)
def nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation annual revenue and YoY growth (lag over the rollup)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("long")
            .alias("cents")
        )
    )
    w = W.partitionBy("n_name").orderBy("yr")
    return r.select(
        "n_name",
        "yr",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        (
            F.floor(
                (
                    F.col("cents").cast("double")
                    / F.nullif(F.lag("cents").over(w), F.lit(0))
                    - 1
                )
                * 1e6
            )
            / 1e6
        ).alias("yoy_growth"),
    )


@register(
    "events_dau_wau",
    """WITH d AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM d),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY day),
wau AS (
  SELECT days.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS wau
  FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day
  GROUP BY days.day)
SELECT day, dau, wau,
  (floor((CAST(dau AS DOUBLE) / wau) * 1000000.0) / 1000000.0)
    AS stickiness
FROM dau JOIN wau USING (day)""",
    survey="ext: DAU/WAU engagement — daily actives, trailing-7-day "
    "actives, and the stickiness ratio: the distinct (day, user) table "
    "is the 100 TB trick (dedup once, then every window metric runs on "
    "|days|x|users| rows, not events); the trailing-week distinct is a "
    "bounded range self-join of that compact table; ratios are exact "
    "integer divisions",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and DAU/WAU stickiness per day, all off
    one deduplicated (day, user) activity table."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = d.select("day").distinct()
    dau = d.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d2 = d.select(F.col("day").alias("aday"), "user_id")
    wau = (
        days.join(
            d2,
            (F.col("aday") >= F.date_sub(F.col("day"), 6))
            & (F.col("aday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (
            F.floor((F.col("dau").cast("double") / F.col("wau")) * 1e6) / 1e6
        ).alias("stickiness"),
    )


# ===========================================================================
# 15. Round-4 analytics extensions (SQ8 ANN, typo mining, BFS, decay,
# sparse projection, winsorized aggregation)
# ===========================================================================

from . import registry_analytics  # noqa: E402,F401  (registration import)
