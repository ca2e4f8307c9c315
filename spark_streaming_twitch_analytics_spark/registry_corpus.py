"""Training-corpus preparation operators (extensions beyond the reference).

The reference's batch worksheet (ProcessingWorkSheet.sc) stops at
clean → filter → label-prune → single-parquet. A 100 TB pretraining
pipeline additionally needs the four operators here:

- ``text_redact_pii``     — regex scrubbing (emails / phone-shaped
  tokens) before training. The testdata contains no PII, so a
  deterministic fake contact string derived from ``doc_id`` is appended
  first — the redaction is then observable and oracle-checkable.
- ``corpus_chunk_windows`` — overlapping token windows (window 40,
  stride 30): the doc→training-sample explosion. Pure built-ins
  (sequence → explode → slice), no Python in the row path.
- ``corpus_pack_bins``    — sequence packing: running token count in
  doc_id order, bin = prev_cumsum // budget; how concat-and-split
  packing assigns docs to fixed-token training bins deterministically.
- ``corpus_mix_sample``   — stratified deterministic sampling with
  per-language keep-fractions (en 60%, fr/es 30%, rest 10%) via the
  md5 hash-bucket trick — reproducible on any engine/partitioning,
  composable with every downstream op (plain row predicate).

Scale notes: redact/chunk are narrow (no shuffle; chunking grows rows
~n/stride x but stays pipelined); pack_bins needs a global ordered
cumsum — a single-direction range shuffle (same cost class as a sort;
at 100 TB run it per shard/date-partition, which is how packing is done
in practice); mix_sample is a pushable filter that cuts the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .constants import DEFAULT_LANG, sql_str_array
from .functions import lit_array
from .functions import text as X
from .functions import vectors as V
from .functions import scoring as _SCORING
from .operators import bpe as _BPE
from .operators import unigram as _UNI
from .operators import dedup, topk
from .registry import _SCORED_CTE, register
from .sources.io import hash48, hash48_sql, hash_bucket, hash_bucket_sql  # noqa: F401
from .tables import load_table

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+"
_PHONE_RE = "\\+1-555-[0-9]+"

_CHUNK_WINDOW = 40
_CHUNK_STRIDE = 30
_PACK_BUDGET = 256

# lang → keep-percent (deterministic md5 bucket < pct)
_MIX = {"en": 60, "fr": 30, "es": 30}
_MIX_DEFAULT = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "text_redact_pii",
    f"""WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.com or +1-555-0' || CAST(doc_id AS VARCHAR) AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
  CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
       + len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_redactions
FROM aug""",
    survey="ext: PII scrubbing (regexp_replace chain + match counting; "
    "fake contact synthesized from doc_id so the redaction is observable)",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.com or +1-555-0"),
        F.col("doc_id").cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    n = F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)) + F.size(
        F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0)
    )
    return d.select(
        "doc_id", redacted.alias("redacted"), n.cast("int").alias("n_redactions")
    )


@register(
    "corpus_chunk_windows",
    f"""WITH t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
s AS (
  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), {_CHUNK_STRIDE}))
         AS chunk_start
  FROM t)
SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start,
  array_to_string(toks[chunk_start + 1 : chunk_start + {_CHUNK_WINDOW}], ' ')
    AS chunk_text,
  CAST(len(toks[chunk_start + 1 : chunk_start + {_CHUNK_WINDOW}]) AS INT)
    AS n_tokens
FROM s""",
    survey="ext: overlapping token-window chunking (doc -> training "
    "samples; window 40 stride 30, sequence->explode->slice, all "
    "built-ins so the explosion stays in whole-stage codegen)",
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    s = t.select("doc_id", "toks", F.explode(starts).alias("chunk_start"))
    chunk = F.slice(F.col("toks"), F.col("chunk_start") + 1, _CHUNK_WINDOW)
    return s.select(
        "doc_id",
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("int").alias("n_tokens"),
    )


@register(
    "corpus_pack_bins",
    f"""WITH t AS (
  SELECT doc_id, len({X.tokenize_sql('text')}) AS n_toks FROM documents),
c AS (
  SELECT doc_id, n_toks,
    sum(n_toks) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_toks AS prev_cum
  FROM t)
SELECT CAST(prev_cum // {_PACK_BUDGET} AS INT) AS bin_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS bin_tokens
FROM c GROUP BY 1""",
    survey="ext: sequence packing (concat-and-split bin assignment via "
    "ordered running token count; integer-exact on both engines)",
)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing via a DISTRIBUTED prefix sum (two-phase scan).

    A naive ``Window.orderBy(doc_id)`` running sum funnels the whole
    corpus through ONE task (single-partition WindowExec) — a
    scale-killer at 100 TB. The scale-safe form used here:

      1. range-repartition by doc_id (contiguous doc_id spans per
         partition, partition ids ascending with doc_id), pin the
         layout with ``localCheckpoint`` so the partition ids stay
         stable across the two passes;
      2. per-partition token subtotals — ONE tiny row per partition
         (bounded by shuffle parallelism, ≤ a few thousand at any
         scale) — collected and turned into exclusive cumulative
         offsets on the driver;
      3. broadcast the offsets back and compute the running sum with a
         window partitioned BY the range-partition id, so every
         WindowExec task sorts only its own contiguous slice.

    prev_cum = offset[pid] + local running sum − n_toks is identical to
    the global ordered prefix sum, so the bin assignment (and the
    DuckDB oracle SQL) is unchanged.

    Fault-tolerance caveat: ``localCheckpoint`` trades lineage for the
    pinned layout — on a real cluster an executor loss makes its
    checkpointed partitions unrecoverable mid-query. A 100 TB
    deployment should swap it for ``spark.sparkContext.setCheckpointDir``
    + ``.checkpoint()`` (reliable storage) or persist with replication
    (``StorageLevel.MEMORY_AND_DISK_2``); localCheckpoint is kept here
    because single-JVM local mode cannot lose an executor. Note also
    that the subtotal pass makes DataFrame construction eager (it runs
    Spark jobs before the caller's action).
    """
    d = _docs(spark, sf_dir)
    n = F.size(X.tokenize(F.col("text"))).cast("long")
    t = d.select("doc_id", n.alias("n_toks"))
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # localCheckpoint pins spark_partition_id across the subtotal pass
    # and the final pass (same discipline as operators/clusters.py).
    part = (
        t.repartitionByRange(nparts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # bounded collect: one row per range partition (= nparts, tiny)
    subtotals = {
        r["pid"]: r["sub"]
        for r in part.groupBy("pid")
        .agg(F.sum("n_toks").alias("sub"))
        .collect()
    }
    acc = 0
    offsets = []
    for p in sorted(subtotals):
        offsets.append((p, acc))
        acc += int(subtotals[p])
    off = spark.createDataFrame(offsets, "pid int, offset long")
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = part.join(F.broadcast(off), "pid").select(
        "doc_id",
        "n_toks",
        (F.col("offset") + F.sum("n_toks").over(w) - F.col("n_toks")).alias(
            "prev_cum"
        ),
    )
    return (
        c.groupBy(
            F.floor(F.col("prev_cum") / _PACK_BUDGET).cast("int").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("bin_tokens"),
        )
    )


@register(
    "corpus_pack_efficiency",
    f"""WITH t AS (
  SELECT doc_id, len({X.tokenize_sql('text')}) AS n_toks FROM documents),
c AS (
  SELECT doc_id, n_toks,
    sum(n_toks) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_toks AS prev_cum
  FROM t),
bins AS (
  SELECT CAST(prev_cum // {_PACK_BUDGET} AS INT) AS bin_id,
    sum(n_toks) AS bin_tokens
  FROM c GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
  CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(CASE WHEN bin_tokens > {_PACK_BUDGET} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_overfull,
  CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
  CAST(sum(bin_tokens) AS DOUBLE)
    / (count(*) * {_PACK_BUDGET}.0) AS fill_fraction
FROM bins""",
    survey="ext: packing-efficiency report over the sequence-packing "
    "assignment — bins, fill fraction vs budget, overfull bins (docs "
    "straddle budget boundaries because they are never split), max bin; "
    "integer sums with one final division, the batch-shape dashboard a "
    "training run watches",
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The efficiency meter for corpus_pack_bins: what fraction of every
    {budget}-token training bin is actually filled, how many bins run
    over (a doc straddling the boundary lands whole in its start bin),
    and the worst bin. Reuses the distributed-prefix-sum packing
    assignment; the report itself is one aggregate over the bounded
    bin table."""
    bins = corpus_pack_bins(spark, sf_dir)
    return bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("bin_tokens").alias("total_tokens"),
        F.sum(
            F.when(F.col("bin_tokens") > _PACK_BUDGET, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_overfull"),
        F.max("bin_tokens").alias("max_bin_tokens"),
    ).select(
        "n_bins",
        "total_tokens",
        "n_overfull",
        "max_bin_tokens",
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * F.lit(float(_PACK_BUDGET)))
        ).alias("fill_fraction"),
    )


def _mix_case_sql() -> str:
    whens = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in _MIX.items())
    return f"CASE {whens} ELSE {_MIX_DEFAULT} END"


@register(
    "corpus_mix_sample",
    f"""SELECT doc_id, lang FROM documents
WHERE CAST('0x' || md5(CAST(doc_id AS VARCHAR))[1:8] AS BIGINT) % 100
      < ({_mix_case_sql()})""",
    survey="ext: stratified corpus mixing (per-language keep-fraction via "
    "deterministic md5 bucket — reproducible domain re-weighting as a "
    "pushable row predicate)",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = hash_bucket("doc_id", 100)
    keep_pct = F.lit(_MIX_DEFAULT)
    for k, v in _MIX.items():
        keep_pct = F.when(F.col("lang") == k, v).otherwise(keep_pct)
    return d.select("doc_id", "lang").filter(bucket < keep_pct)


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics (intra-document quality signal)
# ---------------------------------------------------------------------------

_REP_DUP_WORD_MAX = 0.65
_REP_TOP_BIGRAM_MAX = 0.15


@register(
    "text_repetition",
    f"""WITH t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
bg AS (
  SELECT doc_id, unnest({X.word_shingles_sql('toks', 2)}) AS bigram FROM t),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS topc FROM cnt GROUP BY 1)
SELECT t.doc_id, CAST(len(toks) AS INT) AS n_toks,
  (floor((1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 1000000.0) / 1000000.0)
    AS dup_word_frac,
  CAST(coalesce(topc, 0) AS INT) AS top_bigram_count,
  (floor((2.0 * coalesce(topc, 0) / len(toks)) * 1000000.0) / 1000000.0) AS top_bigram_frac,
  CAST((floor((1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 1000000.0) / 1000000.0)
         > {_REP_DUP_WORD_MAX}
       OR (floor((2.0 * coalesce(topc, 0) / len(toks)) * 1000000.0) / 1000000.0)
         > {_REP_TOP_BIGRAM_MAX} AS INT) AS flagged
FROM t LEFT JOIN top USING (doc_id)""",
    survey="ext: Gopher-style repetition metrics (duplicate-word fraction "
    "+ most-frequent-bigram token share) — zero-shuffle: the per-doc top "
    "bigram count is a sort+fold over the row's own bigram array, so the "
    "whole operator is a narrow map at any corpus size",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (the Gopher/MassiveText 'rep'
    rules): a doc made of one phrase repeated should be dropped before
    training. The oracle computes the top bigram via explode+groupBy;
    the Spark side keeps it per-row — ``array_sort`` then an
    ``aggregate`` fold counting the longest equal run — so no shuffle,
    no row explosion, O(len·log len) per doc."""
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    topc = X.top_bigram_count(F.col("toks"))
    n_toks = F.size("toks")
    dup_frac = X.dup_word_frac(F.col("toks"))
    big_frac = V.quantize(2.0 * topc / n_toks, 6)
    return t.select(
        "doc_id",
        n_toks.cast("int").alias("n_toks"),
        dup_frac.alias("dup_word_frac"),
        topc.cast("int").alias("top_bigram_count"),
        big_frac.alias("top_bigram_frac"),
        (
            (dup_frac > _REP_DUP_WORD_MAX) | (big_frac > _REP_TOP_BIGRAM_MAX)
        ).cast("int").alias("flagged"),
    )


_KANON_K = 5  # the k in k-anonymity
_KANON_BUCKET = 100  # n_chars generalization width (quasi-id coarsening)


@register(
    "privacy_k_anonymity",
    f"""WITH g AS (SELECT lang, source,
  CAST(n_chars // {_KANON_BUCKET} AS INT) AS size_bucket,
  count(*) AS n FROM documents GROUP BY 1, 2, 3)
SELECT lang, source, size_bucket, CAST(n AS BIGINT) AS n,
  CAST(n < {_KANON_K} AS INT) AS violates
FROM g""",
    survey="ext: k-anonymity audit over the quasi-identifier tuple "
    "(lang, source, generalized size) — the release-gate report a "
    "training-data pipeline runs before publishing corpus metadata: "
    "equivalence classes smaller than k re-identify their members and "
    "must be suppressed or generalized further; one partial-agg shuffle "
    "keyed by the quasi-id tuple",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class census for k-anonymity: every quasi-identifier
    combination with its population and a violation flag (n < k). The
    generalization knob is the size-bucket width — widening it is the
    standard remediation, re-runnable as the same one-shuffle query."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / _KANON_BUCKET)
            .cast("int")
            .alias("size_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang",
            "source",
            "size_bucket",
            "n",
            (F.col("n") < _KANON_K).cast("int").alias("violates"),
        )
    )


_LDIV_L = 2  # the l in l-diversity


@register(
    "privacy_l_diversity",
    f"""WITH g AS (SELECT source,
  CAST(n_chars // {_KANON_BUCKET} AS INT) AS size_bucket,
  count(*) AS n, count(DISTINCT lang) AS n_langs FROM documents
  GROUP BY 1, 2)
SELECT source, size_bucket, CAST(n AS BIGINT) AS n,
  CAST(n_langs AS INT) AS n_sensitive,
  CAST(n_langs < {_LDIV_L} AS INT) AS violates
FROM g""",
    survey="ext: l-diversity audit, the companion check to k-anonymity — "
    "an equivalence class can satisfy k yet still leak its members' "
    "sensitive attribute when every member shares one value; here each "
    "(source, generalized size) class must span ≥ l distinct langs; one "
    "keyed distinct-agg shuffle",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-attribute diversity per quasi-identifier class: a class
    that passes the k-anonymity population test but holds only one
    sensitive value (here: lang) still identifies that value for every
    member. Flags classes with fewer than l distinct sensitive values."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(
            "source",
            F.floor(F.col("n_chars") / _KANON_BUCKET)
            .cast("int")
            .alias("size_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("lang").cast("int").alias("n_sensitive"),
        )
        .select(
            "source",
            "size_bucket",
            "n",
            "n_sensitive",
            (F.col("n_sensitive") < _LDIV_L).cast("int").alias("violates"),
        )
    )


# decomposed suffix (space, e, COMBINING ACUTE, A, COMBINING DIAERESIS):
# the testdata is ASCII-clean, so — like text_redact_pii's fake PII — a
# deterministic decorated tail makes the normalization observable: NFC
# composes e+U+0301 → é and A+U+0308 → Ä, shrinking the text by 2 chars
_NFC_SUFFIX = " e\u0301A\u0308"  # decomposed: combining acute + diaeresis
_NFC_SUFFIX_SQL = "' e' || chr(769) || 'A' || chr(776)"


@register(
    "text_nfc_normalize",
    f"""WITH d AS (SELECT doc_id, text || {_NFC_SUFFIX_SQL} AS t FROM documents)
SELECT doc_id, CAST(length(t) AS INT) AS n_before,
  CAST(length(nfc_normalize(t)) AS INT) AS n_after,
  md5(nfc_normalize(t)) AS digest
FROM d""",
    survey="ext: Unicode NFC normalization (the canonical first step of "
    "corpus text cleaning — mixed composed/decomposed sources hash and "
    "dedup differently until normalized) — Arrow-batched pandas_udf over "
    "Python's unicodedata, verified byte-identical to DuckDB's "
    "nfc_normalize; the decorated decomposed tail proves real "
    "composition happened (length shrinks by 2)",
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalize every document (with a deterministic decomposed
    tail appended so the composition is observable on ASCII testdata)
    and emit before/after char counts plus the md5 of the normalized
    bytes — the digest the oracle recomputes, certifying byte-exact
    agreement between the two engines' Unicode tables. Narrow map, one
    Arrow pass, no shuffle."""
    d = _docs(spark, sf_dir)
    nfc = X.nfc_normalize_udf()
    t = F.concat(F.col("text"), F.lit(_NFC_SUFFIX))
    return d.select(
        "doc_id",
        F.length(t).cast("int").alias("n_before"),
        F.length(nfc(t)).cast("int").alias("n_after"),
        F.md5(nfc(t).cast("binary")).alias("digest"),
    )


@register(
    "text_char_entropy",
    f"""WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
f AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
m AS (SELECT doc_id,
        sum(CAST(floor(c * log2(c) * 1000000.0) AS BIGINT)) AS micro,
        sum(c) AS n
      FROM f GROUP BY 1)
SELECT doc_id, CAST(n AS INT) AS n_chars,
  {V.quantize_sql('log2(CAST(n AS DOUBLE)) - (micro / 1000000.0) / n', 6)}
    AS char_entropy
FROM m""",
    survey="ext: character-entropy quality signal (CCNet-class gibberish/"
    "repetition filter) — per-row array_sort + run-length fold, ZERO "
    "shuffle and no row explosion (the oracle's explode+groupBy twin "
    "would 30x the corpus through a shuffle at 100 TB); micro-int "
    "entropy terms make the cross-row sum order-free, so both plans "
    "produce bit-identical doubles before the final floor-quantize",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy over characters per document: near-zero for
    single-character spam, low for repetitive boilerplate, high for
    natural text and highest for random gibberish — the cheap two-sided
    quality cut (drop BOTH tails). Computed per row (no shuffle): sort
    the char array, fold run lengths, accumulate integer micro-terms
    floor(c·log2(c)·10⁶); H = log2(n) − (micro/10⁶)/n."""
    d = _docs(spark, sf_dir)
    # r12 (guide §4.2): character counting runs as one Arrow-batched
    # Counter per doc; the log2 micro-term fold stays JVM-side over the
    # ~alphabet-size multiset — value-equal to the per-character fold
    # (pinned in tests/test_text_functions.py), ~5x fewer interpreted
    # HOF steps per document
    counted = d.select("doc_id", X.char_counts_udf()(F.col("text")).alias("cc"))
    n, micro = X.char_entropy_parts_fast(F.col("cc"))
    return counted.select(
        "doc_id",
        n.cast("int").alias("n_chars"),
        V.quantize(
            F.log2(n.cast("double"))
            - (micro / F.lit(1000000.0)) / n,
            6,
        ).alias("char_entropy"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train ∩ eval n-gram overlap)
# ---------------------------------------------------------------------------

_DECON_SHINGLE_N = 3  # real pipelines use ~13-grams; 3 fits the tiny-vocab testdata
_DECON_EVAL_MOD = 97  # eval set = doc_id % 97 == 0 (deterministic holdout)


@register(
    "corpus_decontaminate",
    f"""WITH t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct({X.word_shingles_sql('toks', _DECON_SHINGLE_N)}))
           AS s
  FROM t),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0)
SELECT sh.doc_id, CAST(count(DISTINCT sh.s) AS INT) AS n_hits
FROM sh JOIN ev USING (s)
WHERE sh.doc_id % {_DECON_EVAL_MOD} <> 0
GROUP BY sh.doc_id""",
    survey="ext: benchmark decontamination — train docs sharing any "
    f"{_DECON_SHINGLE_N}-gram with the eval holdout, via a broadcast "
    "semi-ish join on 48-bit shingle hashes (the eval suite is always "
    "the small side, so the 100 TB train corpus never reshuffles)",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap scan: flag training docs that contain any n-gram of
    the held-out eval set (doc_id % 97 == 0 stands in for the benchmark
    suite). Shingles are hashed to 48-bit longs once per doc so the join
    keys and the distinct-count carry 8-byte longs, not strings; the
    eval shingle set is broadcast — at production scale this is a
    map-side filter over the entire corpus with zero corpus shuffle
    before the per-doc aggregation."""
    from .operators.skew import fan_out

    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    shash = F.transform(
        F.array_distinct(X.word_shingles(toks, _DECON_SHINGLE_N)),
        lambda s: hash48(s),
    )
    # widen the sub-128MB single-split scan so the md5 digest stage uses
    # every core (no-op at real scale)
    sh = fan_out(d).select("doc_id", F.explode(shash).alias("s"))
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    ev = sh.filter(is_eval).select("s").distinct()
    # (doc_id, s) pairs are unique by construction — array_distinct per
    # doc, eval side distinct — so count(*) == count_distinct(s) without
    # the distinct-aggregate's extra expand/exchange
    return (
        sh.filter(~is_eval)
        .join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Corpus-statistics quality score (unigram language-model log-prob)
# ---------------------------------------------------------------------------


@register(
    "corpus_unigram_logprob",
    f"""WITH w AS (
  SELECT doc_id, unnest({X.tokenize_sql('text')}) AS word FROM documents),
freq AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM freq)
SELECT doc_id, CAST(count(*) AS INT) AS n_toks,
  round(avg(log10(CAST(c AS DOUBLE) / t)), 6) AS avg_logprob
FROM w JOIN freq USING (word) CROSS JOIN tot
GROUP BY doc_id""",
    survey="ext: unigram-LM quality score — corpus-wide word frequencies "
    "(one count shuffle) broadcast back onto the token stream; per-doc "
    "mean log10 probability. The two-pass corpus-statistic shape every "
    "perplexity-style filter uses",
)
def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document: docs full of rare or
    out-of-distribution tokens score low, boilerplate scores high — the
    cheap stand-in for a KenLM perplexity filter. Pass 1 builds the
    corpus unigram table (vocabulary-sized, broadcastable); pass 2 joins
    it back onto the exploded token stream and averages per doc."""
    d = _docs(spark, sf_dir)
    w = d.select(
        "doc_id", F.explode(X.tokenize(F.col("text"))).alias("word")
    )
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    return (
        w.join(F.broadcast(freq), "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_toks"),
            F.round(
                F.avg(F.log10(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram Kneser-Ney LM scoring (Kneser & Ney 1995, public) — the n-gram
# LM quality filter shape (CCNet-style KenLM scoring) with absolute
# discounting and continuation-count backoff
# ---------------------------------------------------------------------------

_KN_D = 0.75  # standard absolute discount


def _kn_p_sql() -> str:
    """Interpolated-KN bigram probability from integer count columns
    (c12, c1, n1f, n1b, nbt). Only +,-,*,/ and greatest — IEEE-exact and
    bit-identical across engines (no transcendentals), so the micro-int
    quantization downstream can never flip on a ulp."""
    return (
        f"((greatest(CAST(c12 AS DOUBLE) - {_KN_D}, 0.0) / CAST(c1 AS DOUBLE))"
        f" + ((({_KN_D} * CAST(n1f AS DOUBLE)) / CAST(c1 AS DOUBLE))"
        f" * (CAST(n1b AS DOUBLE) / CAST(nbt AS DOUBLE))))"
    )


@register(
    "corpus_bigram_kn_score",
    f"""WITH t AS (SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
b AS (SELECT doc_id, toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g),
bf AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
  CAST(count(*) AS BIGINT) AS n1f FROM bf GROUP BY 1),
back AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bf GROUP BY 1),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM bf),
sc AS (SELECT doc_id,
  CAST(floor({_kn_p_sql()} * 1000000.0) AS BIGINT) AS p_micro
  FROM b JOIN bf USING (w1, w2) JOIN ctx USING (w1) JOIN back USING (w2)
  CROSS JOIN nb)
SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
  CAST(sum(p_micro) AS BIGINT) AS sum_p_micro,
  round((CAST(sum(p_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        / 1000000.0, 6) AS avg_p_kn
FROM sc GROUP BY doc_id""",
    survey="ext: interpolated Kneser-Ney bigram LM score per document — "
    "the n-gram-LM quality-filter shape (CCNet/KenLM): one shuffle builds "
    "the bigram-type table, the context (c1, N1+(w1,*)) and continuation "
    "(N1+(*,w2)) tables aggregate over TYPES (vocab-bounded, far smaller "
    "than the corpus), and the per-bigram probability is pure +,-,*,/ on "
    "integer counts — bit-identical across engines — quantized to "
    "micro-units and summed as BIGINT so the per-doc aggregate is exact "
    "regardless of fold order",
)
def corpus_bigram_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean interpolated-KN bigram probability: docs of rare or
    incoherent bigram sequences score low, fluent boilerplate scores
    high — the bigram upgrade of ``corpus_unigram_logprob``, with the
    discount mass routed through continuation counts exactly as KN
    prescribes. Determinism: the per-bigram probability uses only
    IEEE-exact arithmetic on integers, is floor-quantized to an integer,
    and per-doc aggregation sums integers — no cross-row float folds."""
    return kn_bigram_scores(_docs(spark, sf_dir))


_KN_SALT = 8


def kn_bigram_scores(d: DataFrame, salt: int = _KN_SALT) -> DataFrame:
    """The KN pipeline over any ``(doc_id, text)`` frame (shared by the
    registry query and the skew probe/tests).

    Skew design (VERDICT r7 task 4): the raw bigram stream's join key
    (w1, w2) is Zipf-skewed on real text — the hottest bigram can
    dominate one reducer. AQE skew-split can NOT rescue this shape: the
    type-table side of the join is an aggregate, so the SMJ child is
    Sort(HashAggregate(shuffle)) and OptimizeSkewedJoin's
    Sort(ShuffleQueryStage)-on-both-sides pattern never matches
    (verified empirically — DEBUG logs show the rule skipping the
    join). So the skew handling is structural instead:

    1. All per-bigram statistics join TYPE-side first (bf ⋈ ctx ⋈ back
       ⋈ nb → ``pm(w1, w2, p_micro)``): those joins move vocab-bounded
       type rows, never the instance stream — which also cuts the
       instance stream from three shuffles (old: ⋈bf on (w1,w2), ⋈ctx
       on w1, ⋈back on w2) to ONE.
    2. The single instance join is SALTED: instances carry
       ``pmod(hash(doc_id), salt)``, ``pm`` is replicated ×salt, and
       the join key (w1, w2, salt) spreads the hottest bigram across
       ``salt`` reducers. Replication cost is |bigram types|×salt rows
       of 3 narrow columns — type-bounded, never corpus-bounded.

    Verified live by ``tests/test_corpus_ops.py::
    test_kn_instance_join_skew_splits`` (planted hot bigram → the hot
    key's rows land on multiple reducers, output unchanged) and the
    ×10-replica hot-bigram row in SCALING.md. Determinism: identical
    per-bigram p_micro regardless of partitioning; per-doc sums are
    integer folds."""
    toks = d.select("doc_id", X.tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    b = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    bf = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bf.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    back = bf.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    nb = bf.agg(F.count(F.lit(1)).alias("nbt"))
    p = (
        F.greatest(F.col("c12").cast("double") - F.lit(_KN_D), F.lit(0.0))
        / F.col("c1").cast("double")
    ) + (
        (F.lit(_KN_D) * F.col("n1f").cast("double"))
        / F.col("c1").cast("double")
    ) * (F.col("n1b").cast("double") / F.col("nbt").cast("double"))
    # type-side enrichment: every join here moves vocab-bounded rows
    pm = (
        bf.join(ctx, "w1")
        .join(back, "w2")
        .join(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.floor(p * F.lit(1000000.0)).cast("long").alias("p_micro"),
        )
    )
    # the ONE instance-stream shuffle, salted against Zipf-hot bigrams
    spark = d.sparkSession
    salts = spark.range(salt).select(F.col("id").cast("int").alias("salt"))
    pm_rep = pm.crossJoin(salts)
    bs = b.withColumn(
        "salt", F.pmod(F.hash("doc_id"), F.lit(salt)).cast("int")
    )
    sc = bs.join(pm_rep, ["w1", "w2", "salt"]).select("doc_id", "p_micro")
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("p_micro").alias("sum_p_micro"),
        F.round(
            (F.sum("p_micro").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(1000000.0),
            6,
        ).alias("avg_p_kn"),
    )


# ---------------------------------------------------------------------------
# Vector centroid aggregation (per-label mean embedding)
# ---------------------------------------------------------------------------


@register(
    "embedding_centroids",
    """WITH e AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS v
  FROM embeddings)
SELECT label, CAST(pos AS INT) AS pos,
  round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM e GROUP BY 1, 2""",
    survey="ext: per-label centroid of the embedding column (posexplode "
    "-> one (label,pos) shuffle with partial aggs -> mean). The vector "
    "aggregation IVF training / cluster summarization is built from; "
    "shuffle volume is labels x dim rows regardless of corpus size",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label. Emitted as (label, pos,
    value) scalar rows: partial aggregation collapses each task to
    ≤ labels·dim rows before the exchange, so the plan's shuffle is
    independent of row count — the right shape for computing IVF/k-means
    centroids over 100 TB of vectors."""
    from .functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(V.as_double(F.col("embedding"))).alias("pos", "v")
    )
    return e.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        F.round(F.avg("v"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# k-means centroid refinement (one Lloyd iteration over the IVF seeds)
# ---------------------------------------------------------------------------

_KM_CELLS = 8
_KM_DIM = 64


def _kmeans_oracle_sql() -> str:
    from .functions import vectors as V

    return f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
a1 AS (
  SELECT vec_id, e, CAST(list_position(s, list_max(s)) - 1 AS INT) AS cell
  FROM (SELECT vec_id, e, {V.cell_scores_sql('e', _KM_CELLS, _KM_DIM)} AS s
        FROM v)),
p1 AS (SELECT cell, generate_subscripts(e, 1) - 1 AS pos, unnest(e) AS x
       FROM a1),
c1m AS (SELECT cell, pos, round(avg(x), 6) AS m FROM p1 GROUP BY 1, 2),
c1 AS (SELECT cell AS c2, list(m ORDER BY pos) AS centroid FROM c1m
       GROUP BY 1),
sc AS (SELECT vec_id, e, c2, {V.dot_sql('e', 'centroid', _KM_DIM)} AS score
       FROM a1 CROSS JOIN c1),
a2 AS (SELECT c2, e FROM (
  SELECT c2, e, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, c2 ASC) AS rn
  FROM sc) WHERE rn = 1),
p2 AS (SELECT c2, generate_subscripts(e, 1) - 1 AS pos, unnest(e) AS x
       FROM a2)
SELECT c2 AS cell, CAST(pos AS INT) AS pos, round(avg(x), 6) AS centroid_val,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM p2 GROUP BY 1, 2"""


@register(
    "kmeans_refine_centroids",
    _kmeans_oracle_sql(),
    survey="ext: one Lloyd iteration refining the deterministic IVF "
    "pseudo-centroids (assign by max dot — the IVF rule — recompute "
    "means, re-assign, re-mean). Iterative-algorithm pattern: per "
    "iteration one narrow assignment pass + one (cell,pos) partial-agg "
    "shuffle; re-assignment picks via max(struct) groupBy, not a window "
    "— map-side combinable, so no per-vector sort at 100 TB",
)
def kmeans_refine_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means refinement of the IVF cells: seeds are the
    md5-derived pseudo-centroids (``vectors.centroid_weights``), one full
    Lloyd step produces data-driven centroids, then vectors re-assign and
    the final means are emitted as (cell, pos, value) rows. Centroid
    means are rounded to 6 dp at the iteration boundary so both engines
    feed bit-identical centroids into the second assignment; dots use the
    sequential fold from ``functions/vectors.py``. Tie-breaks: first
    max cell in iteration 1 (array_position), lowest cell id in
    iteration 2 (max of (score, -cell))."""
    from .functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double(F.col("embedding")).alias("e"))
    s1 = V.cell_scores(F.col("e"), _KM_CELLS, _KM_DIM)
    a1 = v.select(
        "vec_id",
        "e",
        (F.array_position(s1, F.array_max(s1)) - 1).cast("int").alias("cell"),
    )
    p1 = a1.select("cell", F.posexplode("e").alias("pos", "x"))
    c1 = (
        p1.groupBy("cell", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    scored = a1.crossJoin(
        F.broadcast(c1.select(F.col("cell").alias("c2"), "centroid"))
    ).select(
        "vec_id",
        "e",
        "c2",
        V.dot(F.col("e"), F.col("centroid"), _KM_DIM).alias("score"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("score"), (-F.col("c2")).alias("negc"), F.col("e")
            )
        ).alias("m")
    )
    a2 = best.select(
        (-F.col("m.negc")).cast("int").alias("cell"), F.col("m.e").alias("e")
    )
    p2 = a2.select("cell", F.posexplode("e").alias("pos", "x"))
    return p2.groupBy("cell", F.col("pos").cast("int").alias("pos")).agg(
        F.round(F.avg("x"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus (ingestion-time dedup)
# ---------------------------------------------------------------------------

_INC_MIN_JACCARD = 0.1


def _inc_oracle_sql() -> str:
    from .registry import _sh_cte

    scored = f"""
WITH shx AS ({_sh_cte()}),
sig AS (SELECT doc_id, {X.minhash_signature_sql("sh", dedup.MINHASH_HASHES)} AS sig FROM shx),
bands AS (
  SELECT doc_id, b.band,
  coalesce(array_to_string(list_slice(sig, b.band * 2 + 1, b.band * 2 + 2), '|'), '') AS key
  FROM sig, (SELECT unnest(range(0, {dedup.MINHASH_BANDS})) AS band) b),
cand AS (SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0),
shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shx)
SELECT new_id, match_id,
(floor((len(list_intersect(x.sh, y.sh)) /
  greatest(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)), 1)) * 1000000.0) / 1000000.0) AS jaccard
FROM cand JOIN shd x ON x.doc_id = new_id JOIN shd y ON y.doc_id = match_id"""
    ranked = topk.top_k_per_group_sql(
        f"SELECT * FROM ({scored}) WHERE jaccard >= {_INC_MIN_JACCARD}",
        ["new_id"],
        "jaccard",
        1,
        ["match_id"],
    )
    return f"SELECT new_id, match_id, jaccard FROM ({ranked})"


@register(
    "dedup_incremental",
    _inc_oracle_sql(),
    survey="ext: incremental dedup — new ingest batch (doc_id%10=0) LSH-"
    "matched against the existing corpus only (no corpus x corpus "
    "pairs); best match per new doc. At 100 TB the new batch's band "
    "table broadcasts, so ingestion dedup never reshuffles the corpus",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus MinHash dedup (the ingestion-time shape).

    The corpus side stays put: candidates come from an equi-join on
    (band, key) with the NEW side broadcast (a crawl increment is orders
    of magnitude smaller than the corpus). Verification is exact Jaccard
    on the candidate pairs only; each new doc keeps its single best
    corpus match (row_number, full tiebreak)."""
    d = _docs(spark, sf_dir)
    from .cache import eager_persist

    sh = eager_persist(dedup.shingle_sets(d))
    bands = dedup.minhash_bands(d, shingles=sh)
    is_new = F.col("doc_id") % 10 == 0
    new_bands = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    corpus_bands = bands.filter(~is_new).select(
        F.col("doc_id").alias("match_id"), "band", "key"
    )
    cand = (
        F.broadcast(new_bands)
        .join(corpus_bands, ["band", "key"])
        .select("new_id", "match_id")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_x"))
    y = sh.select(F.col("doc_id").alias("match_id"), F.col("sh").alias("sh_y"))
    common = F.size(F.array_intersect("sh_x", "sh_y"))
    union = F.size("sh_x") + F.size("sh_y") - common
    scored = (
        cand.join(x, "new_id")
        .join(y, "match_id")
        .select(
            "new_id",
            "match_id",
            V.quantize(common / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _INC_MIN_JACCARD)
    )
    return topk.top_k_per_group(
        scored, ["new_id"], "jaccard", 1, ["match_id"]
    ).select("new_id", "match_id", "jaccard")


# ---------------------------------------------------------------------------
# Composed keep-list: the end-to-end corpus filter a training run consumes
# ---------------------------------------------------------------------------

_KEEP_MIN_QUALITY = 0.38
_KEEP_MIN_TOKS = 20
_KEEP_MAX_TOKS = 90


@register(
    "corpus_keep_list",
    f"""WITH t AS (
  SELECT doc_id, lang, text, {X.tokenize_sql('text')} AS toks FROM documents),
g AS ({dedup.exact_dup_groups_sql()}),
scored AS (
  SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_toks,
         {X.quality_score_sql('text', 'toks', 'en')} AS quality
  FROM t
  WHERE CAST('0x' || md5(CAST(doc_id AS VARCHAR))[1:8] AS BIGINT) % 100
        < ({_mix_case_sql()}))
SELECT s.doc_id, s.lang, s.n_toks, s.quality
FROM scored s JOIN g ON g.canonical_id = s.doc_id
WHERE s.quality >= {_KEEP_MIN_QUALITY}
  AND s.n_toks BETWEEN {_KEEP_MIN_TOKS} AND {_KEEP_MAX_TOKS}""",
    survey="ext: composed corpus keep-list — stratified mix sample ∩ "
    "quality floor ∩ token-count band ∩ exact-dedup canonicals, as ONE "
    "Catalyst plan (each conjunct is a pushable predicate or a semi-join; "
    "the full filter chain costs one scan + the dedup shuffle)",
)
def corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized corpus a training run reads: every upstream
    filter composed into one plan (the pipeline a 100 TB pretraining
    prep job runs nightly)."""
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    bucket = hash_bucket("doc_id", 100)
    keep_pct = F.lit(_MIX_DEFAULT)
    for k, v in _MIX.items():
        keep_pct = F.when(F.col("lang") == k, v).otherwise(keep_pct)
    scored = d.filter(bucket < keep_pct).select(
        "doc_id",
        "lang",
        F.size(toks).cast("int").alias("n_toks"),
        X.quality_score(F.col("text"), toks, "en").alias("quality"),
    )
    canon = dedup.exact_dup_groups(d).select(
        F.col("canonical_id").alias("doc_id")
    )
    return (
        scored.filter(
            (F.col("quality") >= _KEEP_MIN_QUALITY)
            & F.col("n_toks").between(_KEEP_MIN_TOKS, _KEEP_MAX_TOKS)
        )
        .join(canon, "doc_id", "left_semi")
    )


# ---------------------------------------------------------------------------
# TF-IDF term statistics — corpus vocabulary weighting
# ---------------------------------------------------------------------------

_TFIDF_TOP_PER_DOC = 3


@register(
    "corpus_tfidf_terms",
    f"""WITH t AS (
  SELECT doc_id, unnest({X.tokenize_sql('text')}) AS term FROM documents),
dt AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
pt AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS tf,
         CAST(count(*) AS BIGINT) AS df
  FROM dt GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, tf, df,
       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
FROM pt, n""",
    survey="ext: global TF-IDF vocabulary statistics — corpus term "
    "frequency, document frequency, and tf*ln(N/df) weight per term; one "
    "explode + one shuffle on term (partial agg collapses each task's "
    "token explosion to <=|vocab| rows before the wire), the corpus-size "
    "scalar joins back as a broadcast",
)
def corpus_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level term weighting (the IDF table every retrieval /
    quality-scoring stage downstream consumes). Reference analogue: the
    label-frequency count of ProcessingWorkSheet.sc:102-114, generalized
    to weighted term statistics."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.explode(X.tokenize(F.col("text"))).alias("term"))
    # two-level aggregate: per-(doc, term) counts first, then per-term
    # sum/count — df is count(*) of the doc-level groups, so there is no
    # count_distinct expand, and the per-doc aggregate partials collapse
    # each task's token explosion before the wire
    dt = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    pt = dt.groupBy("term").agg(
        F.sum("c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return pt.join(F.broadcast(n)).select(
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
        ).alias("tfidf"),
    )


@register(
    "corpus_tfidf_top_per_doc",
    f"""WITH t AS (
  SELECT doc_id, unnest({X.tokenize_sql('text')}) AS term FROM documents),
dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
r AS (
  SELECT dt.doc_id, dt.term, dt.tf, dfreq.df,
         round(dt.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf,
         CAST(row_number() OVER (
           PARTITION BY dt.doc_id
           ORDER BY dt.tf DESC, dfreq.df ASC, dt.term ASC) AS INT) AS rnk
  FROM dt JOIN dfreq USING (term), n)
SELECT doc_id, term, tf, df, tfidf, rnk
FROM r WHERE rnk <= {_TFIDF_TOP_PER_DOC}""",
    survey="ext: per-document top-K keyword extraction by TF-IDF — "
    "per-doc term counts join the global DF table (AQE flips to broadcast "
    "when the vocabulary is small; shuffle-on-term otherwise), then a "
    "per-doc window rank. Rank keys are the integer (tf, df, term) so the "
    "K-boundary is engine-exact; the float weight is a reported column",
)
def corpus_tfidf_top_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keywords: the signature terms a doc-level index / topic
    sampler keys on. The rank orders by integer (tf desc, df asc, term)
    rather than the float weight so that the top-K cut is deterministic
    across engines; tfidf itself is emitted for consumers."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.explode(X.tokenize(F.col("text"))).alias("term"))
    dt = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df from the per-doc aggregate: the dt subplan (and its exchange) is
    # identical in both branches, so AQE reuses it (ReusedExchange) — the
    # corpus is exploded once, and no count_distinct expand
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        dt.join(dfreq, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= _TFIDF_TOP_PER_DOC)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Robertson/Sparck Jones, public) — the ranking
# function behind corpus search / retrieval-based decontamination
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "query", "join", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_scores_ctes() -> str:
    """WITH-body computing the per-doc BM25 score over ``_BM25_TERMS``,
    ending in ``lexs(doc_id, bm25)`` — shared by ``corpus_bm25_topk``
    and ``retrieval_rrf_fusion`` so both oracles score identically."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    pivots = ",\n   ".join(
        f"max(CASE WHEN term = '{t}' THEN contrib END) AS c{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    total = " + ".join(f"coalesce(c{i}, 0.0)" for i in range(len(_BM25_TERMS)))
    return f"""t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
stats AS (SELECT count(*) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
tf AS (SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE term IN ({terms}) GROUP BY 1, 2, 3),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
sc AS (SELECT doc_id, term,
  ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
  (tf * {k1 + 1.0}) / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS contrib
  FROM tf JOIN dfreq USING (term), stats),
pd AS (SELECT doc_id,
   {pivots}
   FROM sc GROUP BY 1),
lexs AS (SELECT doc_id, {V.quantize_sql(total, 4)} AS bm25 FROM pd)"""


def _bm25_sql() -> str:
    return f"""WITH {_bm25_scores_ctes()}
SELECT doc_id, bm25 FROM lexs
ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}"""


@register(
    "corpus_bm25_topk",
    _bm25_sql(),
    survey="ext: BM25 document ranking for a fixed query-term set — "
    "tokenize once, filter to query terms BEFORE the shuffle (the explode "
    "collapses to <= |terms| rows per doc map-side), per-term df and the "
    "(n_docs, avgdl) scalar join back as broadcasts, per-doc scores fold "
    "in fixed term order (engine-exact), global top-K via sort+limit "
    "(TakeOrderedAndProject — no full sort materialization)",
)
def corpus_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-K retrieval over the documents table. The per-doc
    score folds per-term contributions in the FIXED literal term order
    (a max-pivot per term, then one expression-level sum), so the double
    is bit-identical on both engines — no cross-row float accumulation.
    Extension family; the reference has no retrieval scoring."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every doc matching ≥1 query term — the scoring
    core shared by ``corpus_bm25_topk`` and ``retrieval_rrf_fusion``."""
    d = _docs(spark, sf_dir)
    k1, b = _BM25_K1, _BM25_B
    toks = d.select("doc_id", X.tokenize(F.col("text")).alias("toks"))
    dl = toks.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), "toks"
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    t = dl.select("doc_id", "dl", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = t.groupBy("doc_id", "term", "dl").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    sc = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select("doc_id", "term", contrib.alias("contrib"))
    )
    pivots = [
        F.max(F.when(F.col("term") == t_, F.col("contrib"))).alias(f"c{i}")
        for i, t_ in enumerate(_BM25_TERMS)
    ]
    pd_ = sc.groupBy("doc_id").agg(*pivots)
    total = sum(
        (F.coalesce(F.col(f"c{i}"), F.lit(0.0)) for i in range(len(_BM25_TERMS))),
        start=F.lit(0.0),
    )
    # expression builds as ((((0.0 + c0) + c1) + c2) + c3) — same fold
    # order as the SQL's left-assoc "+" chain after its leading coalesce;
    # the leading 0.0 is additive identity, bit-exact for finite doubles.
    # floor-quantize (not round): the top-K boundary compares this value
    return pd_.select("doc_id", V.quantize(total, 4).alias("bm25"))


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack et al., public) of the
# BM25 lexical ranking and an embedding-cosine semantic ranking — the
# standard way training-data pipelines combine keyword and vector search
# for retrieval-based decontamination and hard-negative mining
# ---------------------------------------------------------------------------

_RRF_K = 60  # the canonical RRF damping constant
_RRF_POOL = 50  # per-branch candidate pool (rank depth)
_RRF_TOPK = 20


def _rrf_sql() -> str:
    return f"""WITH {_bm25_scores_ctes()},
lext AS (SELECT doc_id, bm25 FROM lexs ORDER BY bm25 DESC, doc_id LIMIT {_RRF_POOL}),
lexr AS (SELECT doc_id,
  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank FROM lext),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (SELECT c.vec_id AS doc_id, {V.cosine_sql("qv", "c.v", 64)} AS cos
  FROM e c, q WHERE c.vec_id <> 0),
semt AS (SELECT doc_id, cos FROM sem
  ORDER BY cos DESC NULLS LAST, doc_id LIMIT {_RRF_POOL}),
semr AS (SELECT doc_id,
  CAST(row_number() OVER (ORDER BY cos DESC NULLS LAST, doc_id) AS INT)
    AS sem_rank FROM semt),
f AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
  coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.lex_rank), CAST(0.0 AS DOUBLE))
    + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.sem_rank), CAST(0.0 AS DOUBLE))
    AS rrf
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id)
SELECT doc_id, lex_rank, sem_rank, {V.quantize_sql("rrf", 8)} AS rrf_score
FROM f ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOPK}"""


@register(
    "retrieval_rrf_fusion",
    _rrf_sql(),
    survey="ext: hybrid retrieval — reciprocal-rank fusion (1/(60+rank), "
    "the canonical constant) of the BM25 lexical top-50 and the "
    "embedding-cosine top-50 for query vector 0. Both branches cut to "
    "their pool via sort+limit (TakeOrderedAndProject — distributed; the "
    "rank window then runs over ≤50 rows, never the corpus), fused with a "
    "full-outer join; ranks are integers so the fused double is "
    "engine-exact",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF = Σ_branches 1/(k + rank). The scale shape: each branch's
    global top-pool is a TakeOrderedAndProject (no full sort), the rank
    window sees only the pooled rows, and the fusion join is pool-sized.
    At 100 TB the pools stay human-sized (50) regardless of corpus size."""
    from .operators import similarity

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_POOL)
    )
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    emb = load_table(spark, sf_dir, "embeddings")
    sem = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, _RRF_POOL
    )
    semr = sem.select(F.col("c_id").alias("doc_id"), F.col("rn").alias("sem_rank"))
    fused = lexr.join(semr, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.select(
            "doc_id", "lex_rank", "sem_rank", V.quantize(rrf, 8).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# Token-weighted sampling (Efraimidis–Spirakis, public) — sample documents
# with probability proportional to token count, the weighting pretraining
# mixtures actually use
# ---------------------------------------------------------------------------

_WSAMPLE_N = 50
_WSAMPLE_SALT = "wsample"


@register(
    "corpus_token_weighted_sample",
    f"""WITH t AS (SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
k AS (SELECT doc_id, CAST(len(toks) + 1 AS BIGINT) AS w,
  ({hash48_sql(f"CAST(doc_id AS VARCHAR) || '{_WSAMPLE_SALT}'")} + 1)
    / 281474976710656.0 AS u
  FROM t)
SELECT doc_id, w, {V.quantize_sql("ln(u) / w", 8)} AS skey
FROM k ORDER BY skey DESC, doc_id LIMIT {_WSAMPLE_N}""",
    survey="ext: weighted sampling without replacement (Efraimidis–"
    "Spirakis top-K keys) — inclusion probability proportional to token "
    "count, fully deterministic: the uniform draw is the salted md5 "
    "hash48 of the doc id (an exact integer ratio), the key ln(u)/w is "
    "row-local double math floor-quantized at 8dp, and the top-K is "
    "sort+limit (TakeOrderedAndProject: per-partition K-heaps, no global "
    "sort). Reproducible on any engine/partitioning — the property a "
    "training-mix sampler must have for re-runs to build the same corpus",
)
def corpus_token_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted deterministic sample of ``_WSAMPLE_N`` docs: the
    Efraimidis–Spirakis scheme ranks by u^(1/w) (equivalently ln(u)/w),
    here with u derived from the salted hash48 so every engine draws the
    same 'randomness'. Long docs are proportionally more likely — the
    standard token-budget-aware corpus subsample."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", X.tokenize(F.col("text")).alias("toks"))
    w = (F.size("toks") + F.lit(1)).cast("long")
    u = (
        hash48(F.concat(F.col("doc_id").cast("string"), F.lit(_WSAMPLE_SALT)))
        + F.lit(1)
    ) / F.lit(281474976710656.0)
    k = toks.select("doc_id", w.alias("w"), u.alias("u"))
    return (
        k.select(
            "doc_id", "w", V.quantize(F.log(F.col("u")) / F.col("w"), 8).alias("skey")
        )
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(_WSAMPLE_N)
    )


# ---------------------------------------------------------------------------
# Per-source quota (domain cap) — C4/RefinedWeb-style mix control
# ---------------------------------------------------------------------------

_SOURCE_QUOTA = 15


@register(
    "corpus_source_quota",
    f"""WITH t AS (
  SELECT doc_id, source, {X.tokenize_sql('text')} AS toks FROM documents),
r AS (
  SELECT doc_id, source, CAST(len(toks) AS INT) AS n_toks,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY len(toks) DESC, doc_id ASC) AS INT) AS rnk
  FROM t)
SELECT doc_id, source, n_toks, rnk FROM r WHERE rnk <= {_SOURCE_QUOTA}""",
    survey="ext: per-source quota (domain cap) — keep at most K docs per "
    "source, longest-first with an integer tie-break so the cut is "
    "engine-exact. One shuffle on source + per-partition rank; a "
    "mega-domain that skews its partition gets a two-level quota in "
    "production (cap per (source, shard-salt) first, refine the winners)",
)
def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap sampling: no single source may contribute more than K
    documents to the corpus — the mix-control that stops one crawl
    domain from dominating training data. Ranked longest-first
    (token count, then doc_id) so the boundary is deterministic."""
    d = _docs(spark, sf_dir)
    n_toks = F.size(X.tokenize(F.col("text"))).cast("int")
    w = Window.partitionBy("source").orderBy(F.desc("n_toks"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", n_toks.alias("n_toks"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SOURCE_QUOTA)
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing (p ∝ n^α multinomial reweighting)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7
_TEMP_TARGET_FRAC = 0.5  # sample ~half the corpus, reweighted


@register(
    "corpus_temperature_mix",
    f"""WITH n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
w AS (
  SELECT source, n_docs, pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA}) AS wgt,
         sum(pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA})) OVER () AS wsum,
         sum(n_docs) OVER () AS total FROM n),
f AS (
  SELECT source, n_docs,
         CAST(floor(least(
           {_TEMP_TARGET_FRAC} * total * wgt / (wsum * n_docs), 1.0
         ) * 10000.0) AS BIGINT) AS keep_bp
  FROM w)
SELECT d.doc_id, d.source, f.keep_bp
FROM documents d JOIN f USING (source)
WHERE CAST('0x' || md5(CAST(d.doc_id AS VARCHAR))[1:8] AS BIGINT) % 10000
      < f.keep_bp""",
    survey="ext: temperature-based source mixing — per-source keep "
    "fraction ∝ n^α/n (α=0.7, the multinomial reweighting that "
    "up-samples small sources in a pretraining mix), materialized as an "
    "integer basis-point threshold so the hash-bucket cut is exact; one "
    "tiny aggregate broadcast-joined back onto the scan",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature sampling: source s keeps
    floor(min(1, T·n_s^α / (Σ n^α · n_s)) · 10⁴) basis points of its
    docs via the md5 bucket trick. The per-source thresholds are a
    20-row aggregate — broadcast back, the corpus scan stays one pass
    with a pushable-shape predicate."""
    d = _docs(spark, sf_dir)
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # one window partition over the ~20-row source aggregate — BY DESIGN;
    # partition by n_docs - n_docs (a constant Catalyst won't fold out of
    # the spec) so the intended single partition doesn't emit the
    # WindowExec warning
    w = Window.partitionBy(F.col("n_docs") - F.col("n_docs"))
    wgt = F.pow(F.col("n_docs").cast("double"), _TEMP_ALPHA)
    f = n.select(
        "source",
        "n_docs",
        F.floor(
            F.least(
                F.lit(_TEMP_TARGET_FRAC)
                * F.sum("n_docs").over(w)
                * wgt
                / (F.sum(wgt).over(w) * F.col("n_docs")),
                F.lit(1.0),
            )
            * 10000.0
        ).alias("keep_bp"),
    )
    bucket = hash_bucket("doc_id", 10000)
    return (
        d.join(F.broadcast(f.select("source", "keep_bp")), "source")
        .filter(bucket < F.col("keep_bp"))
        .select("doc_id", "source", "keep_bp")
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (repeated k-token spans across documents)
# ---------------------------------------------------------------------------

_SPAN_K = 5
_SPAN_MIN_DOCS = 2


@register(
    "dedup_substring_spans",
    f"""WITH t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
sp AS (
  SELECT doc_id, unnest({X.word_shingles_sql('toks', _SPAN_K)}) AS span FROM t)
SELECT span,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_occ
FROM sp GROUP BY span
HAVING count(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}""",
    survey="ext: exact-substring span dedup (Lee et al. style) — every "
    "k-token span occurring in ≥2 documents, with document and occurrence "
    "counts. One explode + one shuffle keyed by span; partial aggregation "
    "collapses each task's window explosion before the wire, so exchange "
    "volume is bounded by distinct spans per task. The output drives "
    "span-level cut-lists (drop the repeated boilerplate, keep the doc)",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated exact spans across the corpus: unlike the pairwise dedup
    operators (which score DOC similarity), this surfaces the shared
    SPANS themselves — the unit a substring-dedup pass actually removes
    (boilerplate headers, license blocks, templated text)."""
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    sp = d.select(
        "doc_id", F.explode(X.word_shingles(toks, _SPAN_K)).alias("span")
    )
    return (
        sp.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= _SPAN_MIN_DOCS)
    )


# ---------------------------------------------------------------------------
# Corpus datacard — one-pass summary statistics report
# ---------------------------------------------------------------------------


@register(
    "corpus_datacard",
    f"""WITH t AS (
  SELECT doc_id, lang, text, {X.tokenize_sql('text')} AS toks,
         {X.quality_score_sql('text', X.tokenize_sql('text'), 'en')} AS quality
  FROM documents)
SELECT
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
  (floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*)) * 1000000.0)
     / 1000000.0) AS exact_dup_rate,
  CAST(min(len(toks)) AS INT) AS min_toks,
  CAST(max(len(toks)) AS INT) AS max_toks,
  round(quantile_cont(len(toks), 0.5), 2) AS p50_toks,
  round(avg(quality), 4) AS avg_quality
FROM t""",
    survey="ext: corpus datacard — the one-row summary report (docs, "
    "tokens, languages, exact-dup rate, token-length spread, quality "
    "mean) a dataset release ships with; ONE aggregate pass over the "
    "corpus (count-distincts expand but stay bounded by partial "
    "aggregation; every other stat is a plain agg on the same scan)",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-release summary: everything a data card's statistics
    table needs from one scan. At 100 TB the count-distinct terms are
    the costly part — swap for approx_count_distinct when exactness
    isn't required (flagged rows-only in that variant).

    Two aggregates joined (1 row × 1 row), not one: co-locating the
    count-distincts (planned via Expand) with the percentile object
    buffer drags the buffer through the row-doubling expanded pipeline
    — the approx_sketches lesson, applied repo-wide."""
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    t = d.select(
        "lang",
        "text",
        F.size(toks).alias("n_toks"),
        X.quality_score(F.col("text"), toks, "en").alias("quality"),
    )
    dup_rate = (
        1.0 - F.count_distinct(F.md5("text")).cast("double") / F.count(F.lit(1))
    )
    distincts = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
        V.quantize(dup_rate, 6).alias("exact_dup_rate"),
    )
    plains = t.agg(
        F.sum("n_toks").alias("n_tokens"),
        F.min("n_toks").cast("int").alias("min_toks"),
        F.max("n_toks").cast("int").alias("max_toks"),
        F.round(F.expr("percentile(n_toks, 0.5)"), 2).alias("p50_toks"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )
    return distincts.crossJoin(F.broadcast(plains)).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_unique_texts",
        "exact_dup_rate",
        "min_toks",
        "max_toks",
        "p50_toks",
        "avg_quality",
    )


# ---------------------------------------------------------------------------
# Stratified train/val/test split + deterministic epoch-shuffle layout
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 1000
_SPLIT_TRAIN = 960  # buckets [0, 960) → train
_SPLIT_VAL = 980  # [960, 980) → val; [980, 1000) → test
from .sources.io import EPOCH_SHUFFLE_SALT as _SHUFFLE_SALT  # noqa: E402

_SHUFFLE_SHARDS = 64
# a new salt per epoch (EPOCH_SHUFFLE_SALT) → a new deterministic order


def _split_bucket() -> Column:
    # salt ':split' decorrelates this hash from corpus_mix_sample's —
    # membership in the sample must not bias the split assignment
    return hash_bucket("doc_id", _SPLIT_BUCKETS, salt=":split")


_SPLIT_BUCKET_SQL = (
    "CAST('0x' || md5(CAST(doc_id AS VARCHAR) || ':split')[1:8] AS BIGINT) "
    f"% {_SPLIT_BUCKETS}"
)


@register(
    "corpus_stratified_split",
    f"""WITH t AS (
  SELECT source, len({X.tokenize_sql('text')}) AS n_toks,
         {_SPLIT_BUCKET_SQL} AS b
  FROM documents)
SELECT source,
  CASE WHEN b < {_SPLIT_TRAIN} THEN 'train'
       WHEN b < {_SPLIT_VAL} THEN 'val' ELSE 'test' END AS split,
  count(*) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM t GROUP BY 1, 2""",
    survey="ext: deterministic stratified train/val/test split (salted "
    "md5 bucket per doc — any engine, any partitioning, any rerun "
    "assigns the same doc to the same split; split is a pushable row "
    "predicate so each consumer scans only its slice)",
)
def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment as a row-local hash — no sampling state,
    no global sort, no driver involvement. The report aggregates per
    (source, split) to show the split is stratified: hash uniformity
    gives each source the same 96/2/2 proportions. At 100 TB the
    assignment costs one narrow map; the report is one partial+final
    aggregate keyed by (source, split) — tiny shuffle (|sources|×3
    rows per task)."""
    d = _docs(spark, sf_dir)
    b = _split_bucket()
    split = (
        F.when(b < _SPLIT_TRAIN, "train")
        .when(b < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(
            "source",
            split.alias("split"),
            F.size(X.tokenize(F.col("text"))).alias("n_toks"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "corpus_shuffle_shards",
    f"""WITH k AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || '{_SHUFFLE_SALT}') AS skey
  FROM documents)
SELECT CAST(CAST('0x' || skey[1:8] AS BIGINT) % {_SHUFFLE_SHARDS} AS INT) AS shard,
  count(*) AS n_docs,
  arg_min(doc_id, skey) AS first_doc,
  arg_max(doc_id, skey) AS last_doc
FROM k GROUP BY 1""",
    survey="ext: deterministic epoch shuffle as a sharded layout (salted "
    "md5 order key → hash shard + within-shard sort) — the training-order "
    "writer is repartition(shard).sortWithinPartitions(skey): one shuffle, "
    "no global sort; a new salt per epoch is a free re-shuffle",
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global training-order shuffle without a global sort: a salted md5
    over doc_id is the order key; its top 8 hex chars hash-assign one of
    64 shards; readers consume shards in any order, each shard locally
    sorted by the key. Reproducible on any cluster shape (the key is
    row-local). The report proves the layout: per-shard doc count
    (balance) and the first/last doc in shard order (min_by/max_by —
    determinism). At 100 TB: one shuffle keyed by shard, then a local
    sort per shard — the same cost class as writing the data once."""
    from .sources.io import epoch_shuffle_key, shard_of

    d = _docs(spark, sf_dir)
    k = d.select(
        "doc_id", epoch_shuffle_key("doc_id", _SHUFFLE_SALT).alias("skey")
    )
    return k.groupBy(shard_of(F.col("skey"), _SHUFFLE_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min_by("doc_id", "skey").alias("first_doc"),
        F.max_by("doc_id", "skey").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation — the doc → sentence table function
# ---------------------------------------------------------------------------


# the synthetic corpus has no terminal punctuation, so (as with
# text_redact_pii's synthesized PII) boundaries are first made observable:
# a period after every 5th word, deterministically on both engines
_SENT_AUG_RE = r"((?:\S+ ){4}\S+) "


@register(
    "text_sentences",
    X.split_sentences_sql(
        "(SELECT doc_id, "
        f"regexp_replace(text, '{_SENT_AUG_RE}', '\\1. ', 'g') AS text "
        "FROM documents) aug"
    ),
    survey="ext: sentence segmentation (split on terminal-punctuation runs "
    "→ posexplode with stable positions; narrow map, no Python in the row "
    "path — a lateral-join-shaped UDTF twin exists for imperative "
    "segmenters, equality-tested)",
)
def text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each document into (sent_idx, sentence, n_chars) rows.
    Zero shuffle at any corpus size: split+posexplode pipelines inside
    the scan stage; row growth (~sentences/doc) is the same cost class
    as the chunker's."""
    d = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", _SENT_AUG_RE, "$1. ")
    )
    return X.split_sentences(d)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (bounded-memory variant of corpus_decontaminate)
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 20  # filter size in bits (sized to the eval suite, not the corpus)
_BLOOM_K = 3  # hash functions per shingle
_BLOOM_W = 32  # bits per word: masks stay positive int32-range on both engines


def _bloom_pos(h: Column, j: int) -> Column:
    """Deterministic bit position for hash ``j`` of a shingle's md5 hex
    ``h`` — ONE md5 per shingle supplies all k positions as disjoint
    8-hex-char (32-bit) slices (k·8 = 24 ≤ 32 hex chars available), so
    the hash cost is 1/k of the salted-rehash formulation. Portable: the
    DuckDB oracle computes the identical integer."""
    return (
        F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("bigint") % _BLOOM_M
    )


def _bloom_pos_sql(h_expr: str, j_expr: str) -> str:
    return (
        f"CAST('0x' || substring({h_expr}, 1 + 8 * CAST({j_expr} AS INT), 8) "
        f"AS BIGINT) % {_BLOOM_M}"
    )


@register(
    "corpus_bloom_decontaminate",
    f"""WITH t AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
d AS (
  SELECT doc_id, list_distinct({X.word_shingles_sql('toks', _DECON_SHINGLE_N)})
         AS shs
  FROM t),
ks AS (SELECT unnest(range({_BLOOM_K})) AS j),
evp AS (
  SELECT DISTINCT {_bloom_pos_sql('h', 'j')} AS pos
  FROM (SELECT md5(unnest(shs)) AS h FROM d
        WHERE doc_id % {_DECON_EVAL_MOD} = 0) es, ks),
bloom AS (
  SELECT CAST(pos // {_BLOOM_W} AS INT) AS w,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_W} AS INT)) AS bits
  FROM evp GROUP BY 1),
probe AS (
  SELECT doc_id, h, {_bloom_pos_sql('h', 'j')} AS pos
  FROM (SELECT doc_id, md5(unnest(shs)) AS h FROM d
        WHERE doc_id % {_DECON_EVAL_MOD} <> 0) cand, ks),
hit AS (
  SELECT doc_id, h
  FROM probe LEFT JOIN bloom ON bloom.w = CAST(pos // {_BLOOM_W} AS INT)
  GROUP BY doc_id, h
  HAVING bool_and(
    (coalesce(bits, 0) & (1::BIGINT << CAST(pos % {_BLOOM_W} AS INT))) <> 0))
SELECT doc_id, CAST(count(*) AS INT) AS n_bloom_hits
FROM hit GROUP BY doc_id""",
    survey="ext: bloom-filter decontamination — the eval suite's shingles "
    f"become a fixed {_BLOOM_M >> 13} KB bit array; the train corpus is "
    "tested map-side with ONE md5 per shingle (k positions = disjoint "
    "32-bit slices of the digest), zero corpus shuffle before the per-doc "
    "count (deterministic false positives: both engines compute the "
    "identical filter)",
)
def corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap scan with a Bloom filter instead of the exact shingle
    set (:func:`corpus_decontaminate`). The exact variant broadcasts every
    distinct eval shingle hash — fine for ~10⁶ n-grams, but a 100×-bigger
    eval suite would blow the broadcast budget. The Bloom variant is
    bounded by construction: m = 2^20 bits (128 KB) regardless of eval
    size, at the price of deterministic false positives (~(fill)^k; both
    engines build bit-identical filters, so the oracle matches exactly).

    Two passes. Pass 1 collects the eval shingles' distinct k bit
    positions (one tiny shuffle on the SMALL side only; the collect is
    bounded by m, never by data) and folds them into 32-bit words
    driver-side. Each shingle is md5-hashed ONCE; the k positions are
    disjoint 32-bit slices of that digest (a 128-bit hash has room for
    k=3 independent 32-bit functions — 3× less hashing than salted
    re-digests, measured ~2× on the whole query). Pass 2 ships the words as ONE
    comma-joined string literal that ``F.split`` turns back into an
    array — Catalyst constant-folds the split once, giving an O(1)
    ``element_at`` probe. (Two shapes that look equivalent are not: a
    32k-element ``F.lit(list)`` costs ~23 s of element-wise py4j
    conversion, and substring probes into one giant hex literal are
    O(position) UTF-8 code-point scans — measured 26× slower.)
    Membership = k element_at+mask tests inside an array-level
    ``F.filter`` over each doc's shingles — a pure narrow map, so the
    100 TB corpus is never exploded, joined, or shuffled (at cluster
    scale the same words ride a broadcast variable instead of a plan
    literal; the probe expressions are unchanged).
    """
    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    shs = F.array_distinct(X.word_shingles(toks, _DECON_SHINGLE_N))
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0

    from .operators.skew import fan_out

    # pass 1: build the filter from the eval side (always the small side;
    # NOT fanned out — the eval slice is too small for a rebalance to pay)
    ev = (
        d.filter(is_eval)
        .select(F.explode(shs).alias("s"))
        .select(F.md5("s").alias("h"))
    )
    pos_rows = (
        ev.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("h"), j) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_M // _BLOOM_W)
    for r in pos_rows:
        p = r["pos"]
        words[p // _BLOOM_W] |= 1 << (p % _BLOOM_W)
    # the 32k filter words ride a broadcast-joined 1-row frame, NOT a plan
    # literal: a ~200 KB literal inflates EVERY task binary (visible as
    # 'Broadcasting large task binary' warnings), while a broadcast
    # relation ships once per executor. Probe expressions are unchanged —
    # they just read the `_bw` column the join attaches to every row.
    from pyspark.sql import types as T

    bw_df = spark.createDataFrame(
        [(words,)],
        T.StructType([T.StructField("_bw", T.ArrayType(T.LongType()), False)]),
    )
    blit = F.col("_bw")

    # pass 2: map-side membership — one md5 per shingle (the transform),
    # then k element_at+mask probes against its hex slices
    def member(h: Column) -> Column:
        cond = None
        for j in range(_BLOOM_K):
            p = _bloom_pos(h, j)
            w = F.element_at(blit, (F.floor(p / _BLOOM_W) + 1).cast("int")).cast(
                "bigint"
            )
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (p % _BLOOM_W).cast("int")
            )
            cond = (w.bitwiseAND(mask) != 0) if cond is None else cond & (
                w.bitwiseAND(mask) != 0
            )
        return cond

    hexes = F.transform(shs, lambda s: F.md5(s))
    n_hits = F.coalesce(F.size(F.filter(hexes, member)), F.lit(0))
    # fan_out parallelizes the md5-probe map stage when the local file
    # layout under-splits the scan; at scale it's a pass-through, so the
    # zero-corpus-shuffle property holds where it matters.
    return (
        fan_out(d.filter(~is_eval))
        .crossJoin(F.broadcast(bw_df))  # 1 row: attaches `_bw` everywhere
        .select("doc_id", n_hits.cast("int").alias("n_bloom_hits"))
        .filter(F.col("n_bloom_hits") > 0)
    )


# ---------------------------------------------------------------------------
# Cross-corpus repeated-line removal (CCNet/Gopher-style boilerplate dedup)
# ---------------------------------------------------------------------------

_LINE_MAX_DF = 2  # a sentence present in more distinct docs is boilerplate
_LINE_BOILER = ". all rights reserved"  # synthesized so removal is observable


@register(
    "corpus_line_dedup",
    f"""WITH s AS (
  {X.split_sentences_sql(
      "(SELECT doc_id, text || '" + _LINE_BOILER + "' AS text FROM documents) aug"
  )}),
hot AS (
  SELECT sentence FROM s GROUP BY sentence
  HAVING count(DISTINCT doc_id) > {_LINE_MAX_DF}),
f AS (
  SELECT s.doc_id, s.sent_idx, s.sentence,
         hot.sentence IS NOT NULL AS is_hot
  FROM s LEFT JOIN hot USING (sentence))
SELECT doc_id,
  coalesce(string_agg(CASE WHEN NOT is_hot THEN sentence END, '. '
                      ORDER BY sent_idx), '') AS clean_text,
  CAST(count(*) FILTER (WHERE NOT is_hot) AS INT) AS n_kept,
  CAST(count(*) FILTER (WHERE is_hot) AS INT) AS n_removed
FROM f GROUP BY doc_id""",
    survey="ext: cross-corpus repeated-line removal (sentence-frequency "
    "pass -> broadcast hot set -> map-side anti-join -> ordered per-doc "
    "reassembly; the Gopher/CCNet boilerplate-stripping op)",
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove sentences that recur across > ``_LINE_MAX_DF`` distinct
    docs (boilerplate: nav text, license footers — a deterministic footer
    is appended to every doc so the removal is observable on the
    synthetic corpus), then reassemble each doc's surviving sentences in
    original order.

    Scale shape: the sentence-frequency aggregate is the only corpus-wide
    shuffle, bounded per task by distinct-sentence count (partial aggs);
    the hot set is broadcast — low-cardinality by definition (a sentence
    qualifies only by recurring, so |hot| ≤ corpus_sentences / df), making
    the flagging join map-side; reassembly groups by doc_id — at 100 TB
    store (doc_id, sent_idx)-bucketed so this shuffle disappears too.
    """
    d = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit(_LINE_BOILER))
    )
    s = X.split_sentences(d)
    hot = (
        s.groupBy("sentence")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > _LINE_MAX_DF)
        .select("sentence", F.lit(True).alias("_hot"))
    )
    flagged = s.join(F.broadcast(hot), "sentence", "left")
    kept_struct = F.when(
        F.col("_hot").isNull(), F.struct("sent_idx", "sentence")
    )  # collect_list drops the NULLs (= the hot rows)
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["sentence"]
            ),
        ).alias("clean_text"),
        F.count(F.when(F.col("_hot").isNull(), 1)).cast("int").alias("n_kept"),
        F.count(F.col("_hot")).cast("int").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Gopher-style composite rule filter (document-level quality gate)
# ---------------------------------------------------------------------------

# Operating points scaled to the synthetic corpus (10-99 words/doc); the
# canonical MassiveText values are 50..100_000 words, mean word length
# 3..10, >= 80% alpha words, >= 2 stopwords, <= 10% symbol ratio.
_G_MIN_WORDS = 20
_G_MAX_WORDS = 80
_G_MEAN_LO = 3
_G_MEAN_HI = 10
_G_ALPHA_PCT = 80
_G_MIN_STOP = 2
_G_SYM_PCT = 10

_G_SW = X.sql_str_list(X.STOPWORDS[DEFAULT_LANG])

# metric CTE body + keep predicate, shared by text_gopher_rules and the
# composed corpus_e2e_prep pipeline (one definition of the gate)
_G_M_COLS_SQL = f"""
    CAST(len(ws) AS INT) AS n_words,
    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS INT)
      AS n_chars,
    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS INT)
      AS n_alpha,
    CAST(len(list_filter(ws, w -> w IN ({_G_SW}))) AS INT) AS n_stop,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3 AS INT)
      AS n_sym"""

_G_KEEP_SQL = (
    f"n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}"
    f" AND n_chars BETWEEN {_G_MEAN_LO} * n_words AND {_G_MEAN_HI} * n_words"
    f" AND 100 * n_alpha >= {_G_ALPHA_PCT} * n_words"
    f" AND n_stop >= {_G_MIN_STOP}"
    f" AND {_G_SYM_PCT} * n_sym <= n_words"
)


def _gopher_metric_cols() -> list[Column]:
    """The five integer metric columns, computed from ``text``."""
    toks = X.tokenize(F.col("text"))
    ws = F.filter(toks, lambda t: F.length(t) > 0)
    sw = X.stopword_array(DEFAULT_LANG)
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
        / F.lit(3)
    ).cast("int")
    return [
        F.size(ws).cast("int").alias("n_words"),
        F.aggregate(ws, F.lit(0), lambda a, t: a + F.length(t))
        .cast("int")
        .alias("n_chars"),
        F.size(F.filter(ws, lambda t: t.rlike("[a-z]"))).cast("int").alias("n_alpha"),
        F.size(F.filter(ws, lambda t: F.array_contains(sw, t)))
        .cast("int")
        .alias("n_stop"),
        (n_hash + n_ell).cast("int").alias("n_sym"),
    ]


def _gopher_keep_col() -> Column:
    """AND-fold of every rule — the Python twin of ``_G_KEEP_SQL`` (one
    definition of the composite gate on each side)."""
    keep = None
    for cond in _gopher_rule_cols().values():
        keep = cond if keep is None else keep & cond
    return keep


def _gopher_rule_cols() -> dict[str, Column]:
    """Rule flags over the NAMED metric columns (post-select)."""
    return {
        "r_word_count": F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS),
        "r_mean_len": F.col("n_chars").between(
            _G_MEAN_LO * F.col("n_words"), _G_MEAN_HI * F.col("n_words")
        ),
        "r_alpha": 100 * F.col("n_alpha") >= _G_ALPHA_PCT * F.col("n_words"),
        "r_stop": F.col("n_stop") >= _G_MIN_STOP,
        "r_symbol": _G_SYM_PCT * F.col("n_sym") <= F.col("n_words"),
    }


@register(
    "text_gopher_rules",
    f"""WITH t AS (
  SELECT doc_id, text,
         list_filter({X.tokenize_sql('text')}, w -> length(w) > 0) AS ws
  FROM documents),
m AS (
  SELECT doc_id,{_G_M_COLS_SQL}
  FROM t)
SELECT doc_id, n_words, n_chars, n_alpha, n_stop, n_sym,
  CAST(n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS} AS INT) AS r_word_count,
  CAST(n_chars BETWEEN {_G_MEAN_LO} * n_words AND {_G_MEAN_HI} * n_words AS INT)
    AS r_mean_len,
  CAST(100 * n_alpha >= {_G_ALPHA_PCT} * n_words AS INT) AS r_alpha,
  CAST(n_stop >= {_G_MIN_STOP} AS INT) AS r_stop,
  CAST({_G_SYM_PCT} * n_sym <= n_words AS INT) AS r_symbol,
  CAST({_G_KEEP_SQL} AS INT) AS keep
FROM m""",
    survey="ext: Gopher/MassiveText composite rule filter (word count, "
    "mean word length, alpha-word fraction, stopword presence, symbol "
    "ratio) — every rule is an integer comparison on per-row counts, so "
    "the gate is a zero-shuffle narrow map with engine-exact semantics "
    "(no float thresholds to drift)",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level quality gate: the five classic MassiveText rules
    evaluated per doc, each exposed as its own flag plus the composite
    ``keep`` decision (pipelines keep the per-rule flags for ablations
    and drop-reason statistics).

    Every rule is expressed as an INTEGER comparison (e.g. mean word
    length in [3,10] becomes ``3·n_words <= n_chars <= 10·n_words``) —
    no division, so ANSI mode can't trap on empty docs and the DuckDB
    oracle matches bit-for-bit without quantization. The whole operator
    is a narrow map over the scan: at 100 TB it pipelines inside the
    read stage, and ``keep`` is a pushable predicate for downstream
    consumers."""
    d = _docs(spark, sf_dir)
    m = d.select("doc_id", *_gopher_metric_cols())
    flags = [
        cond.cast("int").alias(name)
        for name, cond in _gopher_rule_cols().items()
    ]
    return m.select("*", *flags, _gopher_keep_col().cast("int").alias("keep"))


# ---------------------------------------------------------------------------
# URL-level dedup + domain blocklist (the first pass of a web-crawl pipeline)
# ---------------------------------------------------------------------------

_URL_HOSTS = 7  # synthesized host spread
_URL_PATHS = 70  # lcm(7, 70) = 70 < doc count at every SF → deliberate URL collisions
_URL_BLOCKLIST = ("host0.example.com", "host3.example.com")


@register(
    "corpus_url_dedup",
    f"""WITH u AS (
  SELECT doc_id,
    'https://host' || CAST(doc_id % {_URL_HOSTS} AS VARCHAR)
      || '.example.com/p/' || CAST(doc_id % {_URL_PATHS} AS VARCHAR) AS url
  FROM documents),
d AS (
  SELECT doc_id, url, regexp_extract(url, 'https?://([^/]+)/', 1) AS domain
  FROM u),
f AS (SELECT * FROM d WHERE domain NOT IN ('{_URL_BLOCKLIST[0]}', '{_URL_BLOCKLIST[1]}'))
SELECT url, domain, min(doc_id) AS canonical_id, CAST(count(*) AS INT) AS n_dups
FROM f GROUP BY url, domain""",
    survey="ext: URL-level dedup + domain blocklist (synthesized URL "
    "column; regexp domain extraction, map-side blocklist predicate, one "
    "uniform-key shuffle keeping min-doc_id canonical per URL — the "
    "standard first pass over a web crawl before any content-based dedup)",
)
def corpus_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup with a domain blocklist. The testdata has no URL
    column, so one is synthesized deterministically from ``doc_id``
    (with deliberate collisions via ``% {_URL_PATHS}``) — making the
    dedup observable and oracle-checkable.

    Scale shape: the blocklist is a small literal predicate here (a
    broadcast anti-join against a blocklist table in production — same
    map-side property); the only shuffle is the URL group-by, whose key
    is uniform by construction (URLs are near-unique after dedup, and
    partial aggregation collapses each task's duplicates first). Keeping
    ``min(doc_id)`` as canonical is deterministic under any partitioning."""
    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % _URL_HOSTS).cast("string"),
        F.lit(".example.com/p/"),
        (F.col("doc_id") % _URL_PATHS).cast("string"),
    )
    dom = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    u = d.select("doc_id", url.alias("url")).withColumn("domain", dom)
    kept = u.filter(~F.col("domain").isin(*_URL_BLOCKLIST))
    return kept.groupBy("url", "domain").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).cast("int").alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable approximate counts with deterministic parity)
# ---------------------------------------------------------------------------

_CMS_D = 3  # hash rows (independent estimates; est = their min)
_CMS_W = 1024  # counters per row
_CMS_TOPK = 20  # probe tokens: top-K by true count (rank-deterministic)


def _cms_pos_sql(tok_expr: str, j_expr: str) -> str:
    return (
        f"CAST('0x' || substring(md5({tok_expr}), 1 + 8 * CAST({j_expr} AS INT), 8) "
        f"AS BIGINT) % {_CMS_W}"
    )


@register(
    "corpus_cms_counts",
    f"""WITH w AS (
  SELECT unnest({X.tokenize_sql('text')}) AS token FROM documents),
freq AS (SELECT token, count(*) AS c FROM w GROUP BY 1),
ks AS (SELECT unnest(range({_CMS_D})) AS j),
sketch AS (
  SELECT j, {_cms_pos_sql('token', 'j')} AS pos, sum(c) AS counter
  FROM freq, ks GROUP BY 1, 2),
probe AS (
  SELECT token, c AS true_cnt FROM freq
  ORDER BY c DESC, token ASC LIMIT {_CMS_TOPK}),
est AS (
  SELECT p.token, p.true_cnt, min(s.counter) AS est_cnt
  FROM probe p CROSS JOIN ks
  JOIN sketch s ON s.j = ks.j AND s.pos = {_cms_pos_sql('p.token', 'ks.j')}
  GROUP BY 1, 2)
SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(est_cnt AS BIGINT) AS est_cnt
FROM est""",
    survey="ext: Count-Min sketch — fixed d×w counter array over the "
    "token stream (one vocab-bounded shuffle; partial sketches merge by "
    "elementwise sum, the property that makes CMS the streaming/"
    "distributed counter of choice), probed for the top-K true tokens; "
    "md5-slice hashing makes both engines' sketches integer-identical",
)
def corpus_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream, evaluated against
    truth for the top-K tokens (``est_cnt >= true_cnt`` always; equality
    unless another token collides in all d rows).

    The sketch is built FROM the exact per-token counts (sum commutes,
    so pre-aggregating then sketching ≡ sketching the raw stream —
    and it is also the cheaper plan: the (j, pos) shuffle moves
    |vocab|·d rows, not corpus·d). At 100 TB the d×w integer array is
    the whole reduction state: partial sketches from every task merge
    by elementwise sum into 12 KB, which is why CMS replaces exact
    counting when the vocabulary itself stops fitting — the probe-side
    join here would then read the sketch instead of ``freq``. Hash
    positions are disjoint 32-bit md5 slices (same trick as the bloom
    decontaminator), so the DuckDB oracle builds the identical sketch
    and the comparison is exact, not tolerance-based."""
    d = _docs(spark, sf_dir)
    w = d.select(F.explode(X.tokenize(F.col("text"))).alias("token"))
    freq = w.groupBy("token").agg(F.count(F.lit(1)).alias("c"))

    def pos(tok: Column, j: int) -> Column:
        h = F.conv(F.substring(F.md5(tok), 1 + 8 * j, 8), 16, 10)
        return h.cast("bigint") % _CMS_W

    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), pos(F.col("token"), j).alias("pos"))
                for j in range(_CMS_D)
            ]
        )
    ).alias("jp")
    sketch = (
        freq.select("c", rows)
        .select("c", F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
        .groupBy("j", "pos")
        .agg(F.sum("c").alias("counter"))
    )
    # deterministic top-K even under count ties: total order (c, token).
    # orderBy+limit plans as TakeOrderedAndProject (per-partition K-heaps,
    # driver merge of K·partitions rows) — no global sort, no window.
    probe = (
        freq.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(_CMS_TOPK)
        .select("token", F.col("c").alias("true_cnt"))
    )
    probed = probe.select(
        "token",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), pos(F.col("token"), j).alias("pos")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jp"),
    ).select("token", "true_cnt", F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
    return (
        probed.join(F.broadcast(sketch), ["j", "pos"])
        .groupBy("token", "true_cnt")
        .agg(F.min("counter").alias("est_cnt"))
    )


_HH_PHI_INV = 1000  # heavy hitter ⇔ freq ≥ N/1000 (φ = 0.1%)


@register(
    "corpus_heavy_hitters",
    f"""WITH w AS (
  SELECT unnest({X.tokenize_sql('text')}) AS token FROM documents),
tot AS (SELECT count(*) AS n FROM w)
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM w GROUP BY token
HAVING count(*) * {_HH_PHI_INV} >= (SELECT n FROM tot)""",
    survey="ext: frequent-items enumeration (iceberg query) — per-partition "
    "Misra-Gries summaries (O(k) state per task, mergeable per Agarwal et "
    "al. PODS'12) feed a broadcast exact recount; the integer threshold "
    "filter (phi_inv·freq ≥ N) makes the output partition-independent, so "
    "it hashes against a plain GROUP BY/HAVING oracle",
)
def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every token with frequency ≥ N/1000, found the scalable way: the
    candidate pass touches each token once with bounded (k-counter)
    per-task state instead of shuffling the full vocabulary, then the
    recount pass shuffles only the ≤ k·num_partitions candidates. The
    DuckDB oracle IS the naive full-vocab plan — the hash match proves
    the bounded-memory algorithm loses nothing above the threshold."""
    from .operators import heavyhitters

    d = _docs(spark, sf_dir)
    tokens = d.select(F.explode(X.tokenize(F.col("text"))).alias("token"))
    return heavyhitters.heavy_hitters(tokens, phi_inv=_HH_PHI_INV)


@register(
    "corpus_heavy_hitters_by_lang",
    f"""WITH w AS (
  SELECT lang, unnest({X.tokenize_sql('text')}) AS token FROM documents),
tot AS (SELECT lang, count(*) AS n FROM w GROUP BY 1),
c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS freq
      FROM w GROUP BY 1, 2)
SELECT c.lang, c.token, c.freq
FROM c JOIN tot USING (lang)
WHERE c.freq * {_HH_PHI_INV} >= tot.n""",
    survey="ext: GROUPED frequent-items enumeration — what dominates "
    "EACH language slice, not the global stream: per-group Misra-Gries "
    "summaries in one mapInPandas pass (O(k·|langs|) task state, the "
    "merge/superset guarantee applies per group), exact recount on "
    "(lang, token), per-group integer thresholds from sentinel rows; "
    "hashes against the naive per-group GROUP BY/HAVING oracle",
)
def corpus_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy hitters: every token with frequency ≥
    N_lang/1000 within its own language's token stream — the slice-wise
    production form (a token can dominate a small language while being
    invisible globally). Same bounded-state two-pass algorithm with the
    group key threaded through candidates, recount, and thresholds."""
    from .operators import heavyhitters

    d = _docs(spark, sf_dir)
    tokens = d.select(
        "lang", F.explode(X.tokenize(F.col("text"))).alias("token")
    )
    return heavyhitters.grouped_heavy_hitters(
        tokens, "lang", phi_inv=_HH_PHI_INV
    )


# ---------------------------------------------------------------------------
# Composed end-to-end corpus preparation (the pipeline the pieces exist for)
# ---------------------------------------------------------------------------


@register(
    "corpus_e2e_prep",
    f"""WITH t AS (
  SELECT doc_id, source, text,
         list_filter({X.tokenize_sql('text')}, w -> length(w) > 0) AS ws
  FROM documents),
m AS (
  SELECT doc_id, source, text,{_G_M_COLS_SQL}
  FROM t),
quality AS (SELECT doc_id, source, text FROM m WHERE {_G_KEEP_SQL}),
ded AS (
  SELECT doc_id, source, text,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM quality),
base AS (
  SELECT doc_id, source, text FROM ded
  WHERE doc_id = canon AND doc_id % {_DECON_EVAL_MOD} <> 0),
tok AS (SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
sh AS (SELECT doc_id,
         unnest(list_distinct({X.word_shingles_sql('toks', _DECON_SHINGLE_N)})) AS s
       FROM tok),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0),
flagged AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s)
            WHERE sh.doc_id % {_DECON_EVAL_MOD} <> 0),
clean AS (SELECT * FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
final AS (
  SELECT CASE WHEN b < {_SPLIT_TRAIN} THEN 'train'
              WHEN b < {_SPLIT_VAL} THEN 'val' ELSE 'test' END AS split,
         source, len({X.tokenize_sql('text')}) AS n_toks
  FROM (SELECT *, {_SPLIT_BUCKET_SQL} AS b FROM clean))
SELECT split, source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM final GROUP BY 1, 2""",
    survey="ext: composed end-to-end corpus prep — gopher-rule gate → "
    "exact dedup (min-id canonical) → benchmark decontamination → "
    "deterministic stratified split, ONE DataFrame plan (filters fuse "
    "into the scan; the only corpus shuffles are the md5 dedup exchange "
    "and the final tiny report aggregate)",
)
def corpus_e2e_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data preparation pipeline composed from the
    individually-oracled stages: quality gate (``text_gopher_rules``'s
    keep predicate) → exact dedup keeping the min-doc_id canonical →
    drop eval docs and decontamination-flagged docs
    (``corpus_decontaminate``) → train/val/test assignment
    (``corpus_stratified_split``'s salted hash) → per-(split, source)
    doc/token report.

    The point is compositionality: every stage is a row predicate or a
    keyed operation on the SAME frame, so Catalyst fuses the quality
    gate into the scan, the dedup window is the only FULL-corpus
    exchange (keyed on md5(text) — uniform), the decon branch shuffles
    only eval-matching rows (its eval set arrives broadcast), the split
    assignment is map-side again, and the report aggregate is
    |splits|×|sources| rows — the shape a 100 TB prep run needs."""
    d = _docs(spark, sf_dir)
    m = d.select("doc_id", "source", "text", *_gopher_metric_cols())
    quality = m.filter(_gopher_keep_col()).select("doc_id", "source", "text")
    w = Window.partitionBy(F.md5(F.col("text")))
    base = (
        quality.withColumn("canon", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("canon"))
            & (F.col("doc_id") % _DECON_EVAL_MOD != 0)
        )
        .drop("canon")
    )
    flagged = corpus_decontaminate(spark, sf_dir).select("doc_id")
    clean = base.join(flagged, "doc_id", "left_anti")
    b = _split_bucket()
    split = (
        F.when(b < _SPLIT_TRAIN, "train")
        .when(b < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        clean.select(
            split.alias("split"),
            "source",
            F.size(X.tokenize(F.col("text"))).alias("n_toks"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-size per-stratum sampling (fixed N per group, deterministic)
# ---------------------------------------------------------------------------

_FIXED_PER_LANG = 40  # exact sample size per lang stratum


@register(
    "corpus_fixed_sample",
    f"""WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':fixed'), doc_id) AS rn
  FROM documents)
SELECT doc_id, lang FROM r WHERE rn <= {_FIXED_PER_LANG}""",
    survey="ext: exact-size per-stratum sample — N docs per lang, chosen "
    "by ranking a salted md5 (reproducible on any engine/partitioning; "
    "fraction-based hash sampling can't hit an exact N)",
)
def corpus_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``{_FIXED_PER_LANG}`` docs per language, deterministically:
    rank docs within each stratum by a salted md5 of the id and keep the
    first N. Complements ``corpus_mix_sample`` (hash-bucket FRACTION
    sampling): fraction sampling is a pure narrow map but only hits the
    target size in expectation; rank-based selection is exact, at the
    cost of one per-stratum ordering.

    Scale shape: one shuffle on the stratum key; within each stratum
    the rank is a sort bounded by stratum size. For mega-strata the
    production form two-levels it: per-partition top-N heaps (the
    TakeOrderedAndProject trick keyed by stratum) then a final N-merge,
    so no stratum ever fully sorts. The salt makes the choice
    independent of the split/mix hashes, and ``doc_id`` tie-breaks make
    it total — the same N docs on any engine, any partitioning."""
    d = _docs(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fixed"))),
            F.col("doc_id"),
        )
    )
    return (
        d.select("doc_id", "lang", rn.alias("rn"))
        .filter(F.col("rn") <= _FIXED_PER_LANG)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count (portable registers, deterministic estimate)
# ---------------------------------------------------------------------------

_HLL_M = 1024  # registers (p = 10 bits) → ~3.2% relative error
_HLL_VBITS = 20  # rho comes from a 20-bit slice → rho in [1, 21]


@register(
    "corpus_hll_distinct",
    f"""WITH tok AS (
  SELECT unnest({X.tokenize_sql('text')}) AS token FROM documents),
hx AS (SELECT token, md5(token) AS h FROM tok),
r AS (SELECT
    CAST('0x' || substring(h, 1, 8) AS BIGINT) % {_HLL_M} AS b,
    CAST('0x' || substring(h, 9, 8) AS BIGINT) % {1 << _HLL_VBITS} AS v
  FROM hx),
regs AS (
  SELECT b, max(CASE WHEN v = 0 THEN {_HLL_VBITS + 1}
                     ELSE {_HLL_VBITS + 1} - length(bin(v)) END) AS M
  FROM r GROUP BY b),
agg AS (SELECT count(*) AS used, sum(1.0 / (1::BIGINT << M)) AS s FROM regs),
t AS (SELECT count(DISTINCT token) AS n_distinct_true FROM tok)
SELECT n_distinct_true, CAST(used AS INT) AS n_buckets_used,
  floor((0.7213 / (1 + 1.079 / {_HLL_M}) * {_HLL_M} * {_HLL_M}
         / (s + ({_HLL_M} - used))) * 1000000.0) / 1000000.0 AS est_raw
FROM t, agg""",
    survey="ext: HyperLogLog distinct-token estimate with PORTABLE "
    "registers (bucket + rho from md5 slices; rho via length(bin(v)), "
    "pure integer ops) — every arithmetic step is IEEE-deterministic, so "
    "the DuckDB oracle reproduces the estimate exactly, not within "
    "tolerance; completes the sketch trio (Bloom, CMS, HLL)",
)
def corpus_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL over the token stream, reported against the exact distinct
    count (the evaluation harness; production drops the truth branch).

    Portability engineering: bucket and the rho slice are disjoint
    32-bit md5 slices; rho = 21 − ⌊log2 v⌋ computed as
    ``length(bin(v))`` — an INTEGER string length, no float log to
    drift. Every register term 2^−M is exactly representable and the
    register sum stays exact under any accumulation order (multiples of
    2^−21 bounded by m fit a double's mantissa), so the raw estimate —
    a fixed sequence of IEEE ops on identical inputs — is bit-equal on
    both engines and the gate needs no tolerance.

    The small-range (linear-counting) correction is deliberately NOT in
    the query: it needs ln(), whose libm rounding is not pinned across
    engines. Instead the query emits the INTEGER sufficient statistic
    it depends on (``n_buckets_used``): the consumer applies
    ``m·ln(m / (m − used))`` as a driver-side scalar when
    ``est_raw ≤ 2.5·m`` — exactly how production HLL implementations
    stage the correction (the test demonstrates it). ``est_raw`` is the
    honest large-range formula and is biased high on the tiny test
    vocabulary.

    Scale shape: registers are a 1024-row aggregate with partial max
    per task — the whole corpus reduces to m integers, mergeable by
    elementwise max (the HLL union property), which is why this is THE
    distributed distinct-counter. The truth branch's count(DISTINCT)
    is the only expensive part and exists solely for evaluation."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(X.tokenize(F.col("text"))).alias("token"))
    h = F.md5("token")
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _HLL_M
    v = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % (1 << _HLL_VBITS)
    rho = F.when(v == 0, F.lit(_HLL_VBITS + 1)).otherwise(
        _HLL_VBITS + 1 - F.length(F.bin(v))
    )
    regs = (
        tok.select(bucket.alias("b"), rho.alias("rho"))
        .groupBy("b")
        .agg(F.max("rho").alias("M"))
    )
    pow2 = F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), F.col("M").cast("int")
    )
    agg = regs.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.lit(1.0) / pow2).alias("s"),
    )
    truth = tok.agg(F.count_distinct("token").alias("n_distinct_true"))
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)
    est = (
        F.lit(alpha) * _HLL_M * _HLL_M / (F.col("s") + (_HLL_M - F.col("used")))
    )
    return truth.crossJoin(agg).select(
        "n_distinct_true",
        F.col("used").cast("int").alias("n_buckets_used"),
        (F.floor(est * F.lit(1000000.0)) / F.lit(1000000.0)).alias("est_raw"),
    )


@register(
    "corpus_hll_merge",
    f"""WITH tok AS (
  SELECT unnest({X.tokenize_sql('text')}) AS token FROM documents),
hx AS (SELECT token, md5(token) AS h FROM tok),
r AS (SELECT
    CAST('0x' || substring(h, 1, 8) AS BIGINT) % {_HLL_M} AS b,
    CAST('0x' || substring(h, 9, 8) AS BIGINT) % {1 << _HLL_VBITS} AS v
  FROM hx),
regs AS (
  SELECT b, max(CASE WHEN v = 0 THEN {_HLL_VBITS + 1}
                     ELSE {_HLL_VBITS + 1} - length(bin(v)) END) AS M
  FROM r GROUP BY b),
agg AS (SELECT count(*) AS used, sum(1.0 / (1::BIGINT << M)) AS s FROM regs)
SELECT CAST(used AS INT) AS n_buckets_used,
  floor((0.7213 / (1 + 1.079 / {_HLL_M}) * {_HLL_M} * {_HLL_M}
         / (s + ({_HLL_M} - used))) * 1000000.0) / 1000000.0 AS est_raw
FROM agg""",
    survey="ext: HLL register MERGE — registers built independently per "
    "corpus half (doc_id parity), then unioned by elementwise max; the "
    "estimate must equal the single-pass whole-corpus estimate EXACTLY "
    "(the oracle recomputes one-pass registers), proving the mergeability "
    "that makes HLL the distributed/incremental distinct-counter: daily "
    "snapshots keep m integers each and union for free",
)
def corpus_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage register build: per-half max, then cross-half max.
    max is associative, so merged registers are bit-identical to the
    one-pass registers, and every downstream float op is the same IEEE
    sequence as :func:`corpus_hll_distinct` (register terms 2^-M are
    exact in a double; the register sum is exact under any order) — so
    the merge path needs no tolerance, matching the one-pass oracle
    hash-exactly. This is the production shape: each ingest batch ships
    its m=1024 integers; the union is an elementwise max."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(X.tokenize(F.col("text"))).alias("token"),
    )
    h = F.md5("token")
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _HLL_M
    v = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % (1 << _HLL_VBITS)
    rho = F.when(v == 0, F.lit(_HLL_VBITS + 1)).otherwise(
        _HLL_VBITS + 1 - F.length(F.bin(v))
    )
    half_regs = (
        tok.select("half", bucket.alias("b"), rho.alias("rho"))
        .groupBy("half", "b")
        .agg(F.max("rho").alias("M"))
    )
    merged = half_regs.groupBy("b").agg(F.max("M").alias("M"))
    pow2 = F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), F.col("M").cast("int")
    )
    agg = merged.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.lit(1.0) / pow2).alias("s"),
    )
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)
    est = (
        F.lit(alpha) * _HLL_M * _HLL_M / (F.col("s") + (_HLL_M - F.col("used")))
    )
    return agg.select(
        F.col("used").cast("int").alias("n_buckets_used"),
        (F.floor(est * F.lit(1000000.0)) / F.lit(1000000.0)).alias("est_raw"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed-feature target-matching selection)
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hashed feature buckets
_DSIR_BUCKET_SQL = hash_bucket_sql("token", _DSIR_B)


@register(
    "corpus_dsir_weights",
    f"""WITH tok AS (
  SELECT doc_id, unnest({X.tokenize_sql('text')}) AS token FROM documents),
tb AS (SELECT doc_id, {_DSIR_BUCKET_SQL} AS b FROM tok),
tgt AS (SELECT b, count(*) AS ct FROM tb
        WHERE doc_id % {_DECON_EVAL_MOD} = 0 GROUP BY b),
src AS (SELECT b, count(*) AS cs FROM tb
        WHERE doc_id % {_DECON_EVAL_MOD} <> 0 GROUP BY b),
tots AS (SELECT (SELECT sum(ct) FROM tgt) AS tt, (SELECT sum(cs) FROM src) AS ts),
w AS (
  SELECT tb.doc_id,
    log10((coalesce(ct, 0) + 1.0) / (tt + {_DSIR_B}))
      - log10((coalesce(cs, 0) + 1.0) / (ts + {_DSIR_B})) AS lr
  FROM tb LEFT JOIN tgt USING (b) LEFT JOIN src USING (b) CROSS JOIN tots
  WHERE tb.doc_id % {_DECON_EVAL_MOD} <> 0)
SELECT doc_id, CAST(count(*) AS INT) AS n_toks,
       (floor(avg(lr) * 1000000.0) / 1000000.0) AS logratio,
       CAST((floor(avg(lr) * 1000000.0) / 1000000.0) > 0 AS INT) AS selected
FROM w GROUP BY doc_id""",
    survey="ext: DSIR-style importance weighting — hashed-unigram "
    "(256-bucket) target/source distributions with add-1 smoothing; "
    "per-doc mean log-likelihood ratio toward the eval holdout; both "
    "256-row distributions broadcast, so scoring the 100 TB corpus is "
    "map-side with one per-doc aggregate",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, reduced to its Spark
    shape: estimate target (the eval holdout, standing in for a quality
    domain) and source distributions over HASHED unigram features
    (md5 → 256 buckets — the hashing that makes DSIR scale past any
    vocabulary), then score every training doc by its mean
    log-likelihood ratio; ``selected`` marks docs that look more
    target- than source-like.

    Scale shape: BOTH distributions come from one corpus pass (a
    pivoted conditional count — B-row aggregate with map-side partials,
    bounded by B·tasks on the wire), broadcast back onto the token
    stream — the corpus is then scored map-side and reduced once per
    doc: two scans, two shuffles total. Add-1 smoothing keeps empty buckets finite on
    both engines; log10 values are floor-quantized at 6 dp (vectors.quantize, the
    project's engine-exact policy), and ``selected`` derives from the
    quantized score so flag and score cannot disagree at a boundary."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(X.tokenize(F.col("text"))).alias("token")
    )
    tb = tok.select("doc_id", hash_bucket("token", _DSIR_B).alias("b"))
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    # BOTH distributions in one corpus pass: a pivoted conditional count
    # instead of two filtered aggregates (which would scan the corpus
    # twice — the plan audit caught 3 scans in the two-branch form).
    counts = tb.groupBy("b").agg(
        F.count(F.when(is_eval, 1)).alias("ct"),
        F.count(F.when(~is_eval, 1)).alias("cs"),
    )
    # sum only positive counts so an ABSENT side yields NULL (matching
    # the oracle, whose per-side CTE is empty then: SQL sum over an
    # empty relation is NULL, not 0) — with the side present the zeros
    # never change the total
    tots = counts.agg(
        F.sum(F.when(F.col("ct") > 0, F.col("ct"))).alias("tt"),
        F.sum(F.when(F.col("cs") > 0, F.col("cs"))).alias("ts"),
    )
    lr = F.log10(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("tt") + _DSIR_B)
    ) - F.log10(
        (F.coalesce(F.col("cs"), F.lit(0)) + 1.0) / (F.col("ts") + _DSIR_B)
    )
    w = (
        tb.filter(~is_eval)
        .join(F.broadcast(counts), "b", "left")
        .crossJoin(F.broadcast(tots))
        .select("doc_id", lr.alias("lr"))
    )
    # floor-quantize (project policy, vectors.quantize) rather than
    # round: decimal ROUNDING semantics differ across engines; selected
    # derives from the SAME quantized value so the flag and the reported
    # score can never disagree at a boundary
    lr_q = V.quantize(F.avg("lr"), 6)
    return w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_toks"),
        lr_q.alias("logratio"),
        (lr_q > 0).cast("int").alias("selected"),
    )


# ---------------------------------------------------------------------------
# Collocation mining (PMI-ranked bigrams, libm-free deterministic ranking)
# ---------------------------------------------------------------------------

_COLL_MIN_COUNT = 5
_COLL_TOPK = 20


@register(
    "corpus_collocations",
    f"""WITH toks AS (
  SELECT {X.tokenize_sql('text')} AS t FROM documents),
uni AS (
  SELECT u AS w, count(*) AS c FROM (SELECT unnest(t) AS u FROM toks)
  GROUP BY u),
bi_all AS (
  SELECT b, count(*) AS c_ab
  FROM (SELECT unnest({X.word_shingles_sql('t', 2)}) AS b FROM toks)
  GROUP BY b),
bi AS (SELECT * FROM bi_all WHERE c_ab >= {_COLL_MIN_COUNT}),
tot AS (SELECT (SELECT sum(c) FROM uni) AS t1,
               (SELECT sum(c_ab) FROM bi_all) AS t2),
j AS (
  SELECT b AS bigram, c_ab,
    ((CAST(c_ab AS DOUBLE) / t2) /
     ((CAST(ua.c AS DOUBLE) / t1) * (CAST(ub.c AS DOUBLE) / t1))) AS lift_full
  FROM bi
  JOIN uni ua ON ua.w = string_split(b, ' ')[1]
  JOIN uni ub ON ub.w = string_split(b, ' ')[2]
  CROSS JOIN tot)
SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab,
       (floor(lift_full * 1000000.0) / 1000000.0) AS lift
FROM j ORDER BY lift_full DESC, bigram ASC LIMIT {_COLL_TOPK}""",
    survey="ext: collocation mining — top bigrams by PMI-equivalent lift "
    "p(ab)/(p(a)p(b)); the ranking key is a pure IEEE divide/multiply "
    "chain (no libm log), so the top-K SET and every displayed value are "
    "bit-deterministic across engines",
)
def corpus_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by lift = p(ab) / (p(a)·p(b)) — the monotone
    transform of PMI (PMI = log lift), kept in ratio space deliberately:
    divisions and multiplications of exact integer-derived doubles are
    IEEE-deterministic, while log10's libm rounding is not pinned across
    engines. That makes both the top-K MEMBERSHIP (ranked on the
    full-precision lift with a bigram tie-break) and the displayed
    quantized value engine-exact — the same reasoning as the HLL
    operator's driver-side ln.

    Scale shape: unigram counts are vocab-bounded and broadcast onto the
    bigram table; bigram counts are one shuffle with map-side partials
    and a min-count cut (c_ab ≥ {_COLL_MIN_COUNT}) that drops the long
    tail before any join; the final top-K is TakeOrderedAndProject."""
    from .cache import eager_persist

    d = _docs(spark, sf_dir)
    # persist the tokenized frame: uni and bi_all both consume it, and
    # without the persist the tokenize pipeline re-scans the corpus per
    # branch (the plan audit caught the same pattern in DSIR). uni is
    # persisted too — it feeds both join sides and t1.
    toks = eager_persist(d.select(X.tokenize(F.col("text")).alias("t")))
    uni = eager_persist(
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_all = eager_persist(
        toks.select(F.explode(X.word_shingles(F.col("t"), 2)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    bi = bi_all.filter(F.col("c_ab") >= _COLL_MIN_COUNT)
    # t2 normalizes by ALL bigram mass, not just min-count survivors —
    # otherwise every lift is inflated by total/kept and the value is no
    # longer p(ab)/(p(a)p(b))
    tot = uni.agg(F.sum("c").alias("t1")).crossJoin(
        bi_all.agg(F.sum("c_ab").alias("t2"))
    )
    parts = F.split(F.col("b"), " ")
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    lift = (F.col("c_ab").cast("double") / F.col("t2")) / (
        (F.col("ca").cast("double") / F.col("t1"))
        * (F.col("cb").cast("double") / F.col("t1"))
    )
    j = (
        bi.withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(F.broadcast(ua), "wa")
        .join(F.broadcast(ub), "wb")
        .crossJoin(F.broadcast(tot))
        .select(F.col("b").alias("bigram"), "c_ab", lift.alias("lift_full"))
    )
    return (
        j.orderBy(F.col("lift_full").desc(), F.col("bigram").asc())
        .limit(_COLL_TOPK)
        .select(
            "bigram",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            V.quantize(F.col("lift_full"), 6).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style; guaranteed substring-match detection)
# ---------------------------------------------------------------------------

_WIN_K = 3  # k-gram (word shingle) size
_WIN_W = 4  # winnow window: any shared run of >= w+k-1 tokens shares a print

_WIN_HS_SQL = (
    f"list_transform({X.word_shingles_sql(X.tokenize_sql('text'), _WIN_K)}, "
    f"s -> {hash48_sql('s')})"
)


def _winnow_mins() -> Column:
    """Per-window minima over the 48-bit k-gram hash array ``hs``.
    Guarded: ``F.sequence(1, 0)`` would generate a DESCENDING [1, 0] for
    docs shorter than the window (Spark's sequence auto-steps -1), so
    short docs get an explicit empty array — matching the oracle's
    ``range(0, greatest(..., 0))``."""
    n_win = F.greatest(F.size("hs") - F.lit(_WIN_W - 1), F.lit(0))
    return F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_min(F.slice(F.col("hs"), i, _WIN_W)),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))


def _winnow_hashes() -> Column:
    return F.transform(
        X.word_shingles(X.tokenize(F.col("text")), _WIN_K),
        lambda s: hash48(s),
    )


@register(
    "corpus_winnow_fingerprints",
    f"""WITH h AS (SELECT doc_id, {_WIN_HS_SQL} AS hs FROM documents),
w AS (
  SELECT doc_id,
    list_sort(list_distinct(
      list_transform(range(0, greatest(len(hs) - {_WIN_W} + 1, 0)),
                     i -> list_min(hs[i + 1 : i + {_WIN_W}])))) AS fps
  FROM h)
SELECT doc_id, unnest(fps) AS fp FROM w""",
    survey="ext: winnowing fingerprints (MOSS) — per-window minimum of "
    "48-bit k-gram hashes; guarantees any shared run of >= w+k-1 tokens "
    "shares a fingerprint. Pure array ops: zero shuffle, O(len*w)/doc",
)
def corpus_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): slide a window of ``w``
    consecutive k-gram hashes and keep each window's minimum — the
    selected set is position-independent, so two docs sharing ANY token
    run of length ≥ w+k−1 are GUARANTEED to share a fingerprint (the
    theoretical floor MinHash lacks). The distinct-set output makes the
    tie-break rule irrelevant (classic winnowing's rightmost-min rule
    only changes which POSITION is recorded, not the hash set).

    Scale shape: a pure narrow map — hashes, windows, minima, and the
    distinct are all array ops inside the scan stage; only (doc_id, fp)
    rows leave the task, ~one per w tokens (the winnowing density
    guarantee 2/(w+1) bounds output size by construction)."""
    from .operators.skew import fan_out

    d = _docs(spark, sf_dir)
    fps = F.array_sort(F.array_distinct(_winnow_mins()))
    # fan_out: the md5+window stage is CPU-bound; widen an under-split
    # local scan (no-op at real scale) — measured 2x on the pair query
    return (
        fan_out(d).select("doc_id", _winnow_hashes().alias("hs"))
        .select("doc_id", F.explode(fps).alias("fp"))
    )


@register(
    "dedup_winnow_pairs",
    f"""WITH h AS (SELECT doc_id, {_WIN_HS_SQL} AS hs FROM documents),
w AS (
  SELECT doc_id,
    list_distinct(
      list_transform(range(0, greatest(len(hs) - {_WIN_W} + 1, 0)),
                     i -> list_min(hs[i + 1 : i + {_WIN_W}]))) AS fps
  FROM h),
e AS (SELECT doc_id, unnest(fps) AS fp FROM w),
p AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared
  FROM e l JOIN e r ON l.fp = r.fp AND l.doc_id < r.doc_id
  GROUP BY 1, 2)
SELECT a, b, CAST(n_shared AS INT) AS n_shared
FROM p WHERE n_shared >= 2""",
    survey="ext: winnowing-blocked near-dup pairs — docs sharing >= 2 "
    "fingerprints (MOSS plagiarism/clone-detection shape; the evidence "
    "cut deliberately trades the single-print guarantee for noise "
    "suppression — measured 40x pair blowup at >= 1 on this corpus)",
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints, with
    the shared-print count as evidence strength. NOTE the deliberate
    trade: winnowing guarantees only ONE shared fingerprint per shared
    run (even a long run can collapse to a single dominating minimum),
    so the ≥ 2 evidence cut EXCLUDES single-print pairs — measured
    necessary here (≥ 1 admits 40× the pairs on this corpus, almost all
    single hot k-grams). The extraction op
    (``corpus_winnow_fingerprints``) carries the uncut guarantee; use
    PPJoin/MinHash when a threshold-exact decision is required.

    Scale shape: one equi-join on the fingerprint — bucket sizes are
    bounded by fingerprint popularity, and because winnowing selects
    LOCAL minima (not global hot shingles), boilerplate does not
    concentrate into mega-buckets the way raw-shingle inverted indexes
    do; the per-pair count is a partial-aggregated groupBy."""
    from .operators.skew import fan_out

    d = _docs(spark, sf_dir)
    e = (
        fan_out(d).select("doc_id", _winnow_hashes().alias("hs"))
        .select("doc_id", F.explode(F.array_distinct(_winnow_mins())).alias("fp"))
    )
    a = e.select(F.col("doc_id").alias("a"), "fp")
    b = e.select(F.col("doc_id").alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# Classifier-based corpus filtering (the U4 surface applied to documents)
# ---------------------------------------------------------------------------

_CLF_TARGETS = ("cat_07", "cat_23")  # the topic gate: keep docs scoring high here
_CLF_TARGETS_SQL = sql_str_array(_CLF_TARGETS)


@register(
    "corpus_classifier_filter",
    f"""WITH s AS ({_SCORED_CTE}),
sc AS (SELECT doc_id, {_SCORING.hash_scores_sql('h')} AS scores FROM s),
d AS (SELECT doc_id,
        {_SCORING.decode_categories_sql('scores')} AS labels
      FROM sc)
SELECT doc_id,
       coalesce(array_to_string(labels, ','), '') AS labels,
       CAST(len(labels) AS INT) AS n_labels
FROM d WHERE len(list_intersect(labels, {_CLF_TARGETS_SQL})) > 0""",
    survey="ext: classifier-gated corpus filter — the reference's scoring "
    "surface (U4: score array -> positional threshold -> label decode) "
    "applied as a target-topic document gate; scoring is a narrow map "
    "(one digest pair per doc), the filter is a pushable predicate",
)
def corpus_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-gated filtering, the way production corpora apply quality/
    topic classifiers (fastText-style): score every doc across the
    50-class head, keep docs whose decoded labels hit the TARGET topic
    set (the gate that actually discriminates — an any-class gate is
    vacuous at threshold 0.5), carrying the full label list for mixing
    decisions downstream.
    The deterministic hash scorer stands in for the model (same stub the
    U4 surface uses — a real classifier slots in behind the same
    Arrow-batched ``score_udf`` without changing this plan's shape).

    Scale shape: scoring is per-row JVM work inside the scan stage (two
    md5 calls per doc, bound once via a transform lambda); threshold +
    decode are array ops; the emptiness filter is a pushable predicate,
    so the 100 TB corpus reduces map-side with zero shuffles."""
    d = _docs(spark, sf_dir)
    labels = _SCORING.decode_categories(_SCORING.hash_scores(F.col("text")))
    targets = lit_array(_CLF_TARGETS)
    # bind the decoded label array ONCE via a single-element transform
    # (scoring.py's documented trick — Catalyst does not CSE across the
    # three consumers, so inlining `labels` per column would score every
    # row 3-4x; verified 7 md5/row in the naive plan vs 2 optimal)
    row = F.element_at(
        F.transform(
            F.array(labels),
            lambda l: F.struct(
                F.concat_ws(",", l).alias("labels"),
                F.size(l).cast("int").alias("n_labels"),
                F.size(F.array_intersect(l, targets)).alias("hit"),
            ),
        ),
        1,
    )
    return (
        d.select("doc_id", row.alias("r"))
        .filter(F.col("r.hit") > 0)
        .select("doc_id", "r.labels", "r.n_labels")
    )


# ---------------------------------------------------------------------------
# Data profiling (per-column stats — the intake step of any 100 TB pipeline)
# ---------------------------------------------------------------------------

_PROFILE_COLS: tuple[tuple[str, bool], ...] = (
    # (column, is_numeric) over the documents table
    ("doc_id", True),
    ("text", False),
    ("lang", False),
    ("source", False),
    ("n_chars", True),
)


@register(
    "corpus_profile",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
CAST(count(*) AS BIGINT) AS n_rows,
CAST(count(*) - count({c}) AS BIGINT) AS n_null,
CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
{f"round(CAST(min({c}) AS DOUBLE), 4)" if num else "CAST(NULL AS DOUBLE)"} AS min_num,
{f"round(CAST(max({c}) AS DOUBLE), 4)" if num else "CAST(NULL AS DOUBLE)"} AS max_num
FROM documents"""
        for c, num in _PROFILE_COLS
    ),
    survey="ext: data profiling — per-column row/null/distinct counts and "
    "numeric min/max in ONE pass (multi-distinct via Expand), the intake "
    "health check a training pipeline runs before any processing",
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the documents table.

    All per-column aggregates land in ONE aggregation (Catalyst plans
    multi-column DISTINCT via a single Expand — one scan, expand factor
    = number of distinct-aggregated columns, partial aggs bound the
    shuffle by group cardinality = 1), then the 1-row wide result is
    unpivoted driver-side into (col_name, stats) rows — 5 rows, no
    second job over the data. String min/max is deliberately NULL:
    collation-dependent, engines disagree; numeric min/max is exact."""
    d = _docs(spark, sf_dir)
    aggs = []
    for c, num in _PROFILE_COLS:
        aggs.append(F.count(F.lit(1)).alias(f"{c}__rows"))
        aggs.append(F.count(c).alias(f"{c}__nonnull"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
        if num:
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"))
    wide = d.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                (F.col(f"{c}__rows") - F.col(f"{c}__nonnull")).alias("n_null"),
                F.col(f"{c}__dist").alias("n_distinct"),
                (F.col(f"{c}__min") if num else F.lit(None).cast("double")).alias(
                    "min_num"
                ),
                (F.col(f"{c}__max") if num else F.lit(None).cast("double")).alias(
                    "max_num"
                ),
            )
            for c, num in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Token-budget sampling (cap each source by TOKENS, not docs)
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 1000  # tokens admitted per source (greedy prefix in hash order;
# sized to BIND on the test corpus — a budget the data never reaches would
# leave the cut branch unexercised)


@register(
    "corpus_token_budget",
    f"""WITH t AS (
  SELECT doc_id, source,
         CAST(len({X.tokenize_sql("text")}) AS INT) AS n_toks,
         md5(CAST(doc_id AS VARCHAR) || '{_SHUFFLE_SALT}') AS skey
  FROM documents),
c AS (
  SELECT doc_id, source, n_toks,
         CAST(sum(n_toks) OVER (
           PARTITION BY source ORDER BY skey, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
  FROM t)
SELECT doc_id, source, n_toks, cum_toks
FROM c WHERE cum_toks - n_toks < {_TOKEN_BUDGET}""",
    survey="ext: token-budget sampling — admit docs per source in salted-"
    "hash order until the source's TOKEN budget is spent (greedy prefix: "
    "a doc enters iff the budget was not exhausted before it). The "
    "token-denominated mix-control knob, complementing corpus_source_"
    "quota's doc-count cap and corpus_temperature_mix's proportional "
    "weights. One shuffle on source; the cumulative window is a "
    "per-partition running sum",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token budget in deterministic pseudo-random
    order (salted md5 of doc_id — same epoch-shuffle convention as
    corpus_shuffle_shards, so the admitted set is reproducible AND
    unbiased by document length, unlike a longest-first rank).

    Boundary semantics: a doc is admitted iff the tokens consumed BEFORE
    it are under budget — so the budget may be overshot by at most one
    document, never undershot while eligible docs remain (the standard
    greedy-prefix contract; an exact-fit variant is corpus_pack_bins\'
    bin packing)."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        "source",
        F.size(X.tokenize(F.col("text"))).cast("int").alias("n_toks"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT))).alias(
            "skey"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_toks", F.sum("n_toks").over(w).cast("long"))
    return c.filter(F.col("cum_toks") - F.col("n_toks") < _TOKEN_BUDGET).select(
        "doc_id", "source", "n_toks", "cum_toks"
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail by LM score)
# ---------------------------------------------------------------------------

_PPL_Q = (0.3333333333333333, 0.6666666666666666)  # tercile fractions, exact


@register(
    "corpus_perplexity_buckets",
    f"""WITH w AS (
  SELECT doc_id, unnest({X.tokenize_sql('text')}) AS word FROM documents),
freq AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM freq),
s AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_toks,
    round(avg(log10(CAST(c AS DOUBLE) / t)), 6) AS avg_logprob
  FROM w JOIN freq USING (word) CROSS JOIN tot GROUP BY doc_id),
b AS (
  SELECT round(quantile_cont(avg_logprob, {_PPL_Q[0]}), 6) AS b1,
         round(quantile_cont(avg_logprob, {_PPL_Q[1]}), 6) AS b2
  FROM s)
SELECT doc_id, n_toks, avg_logprob,
  CASE WHEN avg_logprob >= b2 THEN 'head'
       WHEN avg_logprob >= b1 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM s CROSS JOIN b""",
    survey="ext: CCNet-style head/middle/tail bucketing by LM score — "
    "tercile BOUNDARIES are computed once (exact percentile, rounded "
    "6dp) and broadcast, then bucketing is a map-side comparison; no "
    "global ntile sort, so the corpus never funnels through one task",
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket documents head/middle/tail by unigram-LM score (the CCNet
    recipe: train on head, inspect middle, drop tail). Deliberately NOT
    a global ``ntile(3)`` — that is a single-partition window sort of
    the whole corpus; instead the two tercile boundaries are one exact
    percentile aggregate (partial-agg friendly), rounded to the score's
    own 6dp grid, broadcast, and compared map-side. Same output, and the
    only corpus-wide shuffles are the ones the score itself needs."""
    s = corpus_unigram_logprob(spark, sf_dir)
    b = s.agg(
        F.round(F.expr(f"percentile(avg_logprob, {_PPL_Q[0]})"), 6).alias("b1"),
        F.round(F.expr(f"percentile(avg_logprob, {_PPL_Q[1]})"), 6).alias("b2"),
    )
    v = F.col("avg_logprob")
    return (
        s.crossJoin(F.broadcast(b))
        .select(
            "doc_id",
            "n_toks",
            "avg_logprob",
            F.when(v >= F.col("b2"), "head")
            .when(v >= F.col("b1"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus checksum (order-independent integrity fingerprint)
# ---------------------------------------------------------------------------


@register(
    "corpus_checksum",
    f"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
CAST(bit_xor(CAST('0x' || md5(text)[1:12] AS BIGINT)) AS BIGINT) AS content_xor,
CAST(bit_xor(CAST('0x' || md5(CAST(doc_id AS VARCHAR) || '|' || text)[1:12] AS BIGINT)) AS BIGINT)
  AS keyed_xor
FROM documents""",
    survey="ext: order-independent corpus fingerprint — row count, byte "
    "total, and XOR of 48-bit content hashes (plus a doc_id-keyed "
    "variant that also detects row re-assignment). XOR is commutative/"
    "associative and overflow-free, so the fingerprint is identical "
    "under any partitioning, ordering, or engine — the cheap attestation "
    "a pipeline records before/after every shuffle, rewrite, or "
    "migration to prove no rows were lost, duplicated, or mutated. One "
    "scan, one 1-row aggregate, zero data shuffled beyond partial "
    "aggregates.",
)
def corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity fingerprint of the documents table. ``content_xor``
    detects content changes regardless of row order or layout;
    ``keyed_xor`` additionally changes when texts are swapped BETWEEN
    doc_ids (pure content XOR is invariant to that); ``n_docs`` guards
    the XOR's one blind spot (an even number of identical-row
    insertions/deletions cancels out)."""
    from .sources.io import hash48

    d = _docs(spark, sf_dir)
    keyed = F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length(F.encode(F.col("text"), "utf-8")))
        .cast("long")
        .alias("total_bytes"),
        F.bit_xor(hash48(F.col("text"))).alias("content_xor"),
        F.bit_xor(hash48(keyed)).alias("keyed_xor"),
    )


# ---------------------------------------------------------------------------
# Dedup coverage report (the summary every dedup pipeline run emits)
# ---------------------------------------------------------------------------


@register(
    "corpus_dedup_report",
    f"""WITH g AS (
  SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM documents GROUP BY md5(text)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs,
  CAST(count(*) AS BIGINT) AS n_distinct_texts,
  CAST(count(*) FILTER (WHERE n_dups > 1) AS BIGINT) AS n_dup_groups,
  CAST(sum(n_dups - 1) AS BIGINT) AS n_removable,
  CAST(max(n_dups) AS BIGINT) AS largest_group,
  (floor((CAST(sum(n_dups - 1) AS DOUBLE) / n_docs) * 1000000.0)
     / 1000000.0) AS dup_fraction
FROM g CROSS JOIN tot GROUP BY n_docs""",
    survey="ext: dedup coverage report — distinct texts, dup-group count, "
    "removable-row count, largest group, and the dup fraction, in one "
    "pass over the exact-dup groups (single digest shuffle + a 1-row "
    "broadcast total). The run summary a dedup job logs before anyone "
    "trusts its output.",
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup coverage summary: how much of the corpus is duplicated,
    how many groups, how big the worst offender is. The fraction is
    floor-quantized to 6dp (engine-exact integer ratio)."""
    from .operators.dedup import exact_dup_groups

    d = _docs(spark, sf_dir)
    g = exact_dup_groups(d)
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n_docs")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_texts"),
            F.sum(F.when(F.col("n_dups") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_groups"),
            F.sum(F.col("n_dups") - 1).cast("long").alias("n_removable"),
            F.max("n_dups").cast("long").alias("largest_group"),
            (
                F.floor(
                    (F.sum(F.col("n_dups") - 1).cast("double") / F.first("n_docs"))
                    * 1e6
                )
                / 1e6
            ).alias("dup_fraction"),
        )
        .select(
            "n_docs",
            "n_distinct_texts",
            "n_dup_groups",
            "n_removable",
            "largest_group",
            "dup_fraction",
        )
    )


_HOT_N = 8
_HOT_TOPK = 20


@register(
    "corpus_hot_ngrams",
    f"""WITH toks AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest({X.word_shingles_sql('t', _HOT_N)}) AS ngram FROM toks),
agg AS (
  SELECT ngram, CAST(count(*) AS BIGINT) AS occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sh GROUP BY ngram)
SELECT ngram, occurrences, n_docs FROM agg
WHERE occurrences >= 2
ORDER BY occurrences DESC, ngram ASC LIMIT {_HOT_TOPK}""",
    survey="ext: memorization audit — the most-repeated long n-grams "
    f"corpus-wide ({_HOT_N}-gram occurrence + distinct-doc counts): the "
    "standard pre-training check for boilerplate and verbatim "
    "memorization risk (repeated spans are what models memorize first)",
)
def corpus_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top repeated 8-gram spans with occurrence and doc-frequency
    counts — the 'what will the model memorize' report. Long shingles
    (8 words) make repeats evidence of boilerplate/duplication rather
    than chance collocation.

    Scale shape: the shingle explode is narrow and pipelined; the
    occurrences≥2 cut happens in the SAME aggregate that computes the
    counts (partial map-side combine shrinks the exchange — hapax
    shingles, the overwhelming majority, never survive the partial
    agg's second pass); the top-K is TakeOrderedAndProject, no global
    sort. One shuffle on the shingle key (md5-uniform in practice —
    shingle text itself hashes fine)."""
    from .operators.skew import fan_out

    # r12 (guide §2.6/§2.5): the tokenize+shingle explode ran as ONE
    # task locally (sub-128MB parquet = one split — profiled 2.2 s
    # serial of the query's 3.3 s); fan_out spreads the per-row shingle
    # work across the cluster width, no-op at 100 TB where the scan has
    # thousands of splits
    d = fan_out(_docs(spark, sf_dir))
    sh = d.select(
        "doc_id",
        F.explode(
            X.word_shingles(X.tokenize(F.col("text")), _HOT_N)
        ).alias("ngram"),
    )
    agg = (
        sh.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("occurrences") >= 2)
    )
    return agg.orderBy(F.desc("occurrences"), F.asc("ngram")).limit(_HOT_TOPK)


_BPE_MERGES = 12
_BPE_TOP_WORDS = 2000


def _ensure_bpe_merges(spark: SparkSession, sf_dir: str) -> str:
    """Train-once/serve-many for the BPE family (VERDICT r8 task 3):
    the 12-iteration driver-coordinated training loop
    (``operators/bpe.py`` ``bpe_train``) runs ONCE per source-content
    version and is persisted as a tiny parquet artifact — the same
    fingerprint-keyed pattern as the ANN indexes
    (``registry._ensure_ann_index``) and the exact shape a production
    tokenizer takes: training is a batch job, encode/fertility/
    round-trip queries serve off the published merge table. Returns
    the artifact path; content staleness is impossible by construction
    (regenerated testdata ⇒ new fingerprint ⇒ retrain)."""
    import os
    import tempfile

    from .operators.bucketed import _slug, _source_fingerprint, atomic_publish

    fp = _source_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"ssta_bpe_{_BPE_MERGES}m{_BPE_TOP_WORDS}w_{_slug(sf_dir)}_{fp}",
    )

    def _write(staging: str) -> None:
        merges = _BPE.bpe_train(
            _BPE.word_freqs(_docs(spark, sf_dir), _BPE_TOP_WORDS),
            _BPE_MERGES,
        )
        # ≤12 rows — coalesce(1) so the artifact is one tiny file
        merges.coalesce(1).write.mode("overwrite").parquet(staging)

    atomic_publish(_write, path)
    return path


def _load_bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The ≤12 learned merges in training order, served off the
    persisted artifact."""
    rows = (
        spark.read.parquet(_ensure_bpe_merges(spark, sf_dir))
        .orderBy("it")
        .collect()
    )
    return [(r["a"], r["b"]) for r in rows]


@register(
    "corpus_bpe_merges",
    _BPE.bpe_train_sql(
        _BPE.word_freqs_sql("SELECT text FROM documents", _BPE_TOP_WORDS),
        _BPE_MERGES,
    ),
    survey="ext: distributed BPE vocabulary induction (Sennrich 2016) — "
    "learn the tokenizer's merge table from the corpus: one corpus scan "
    "builds the distinct-word frequency table, then every merge "
    "iteration is a single vocab-bounded distributed aggregate whose "
    "cost is independent of corpus size; exactly one argmax row crosses "
    "to the driver per iteration",
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 BPE merges over the top-2000-word frequency table; the
    DuckDB oracle replays the identical iterations (same greedy
    left-fold merge, same argmax tie-break) as unrolled CTEs. Served
    off the train-once artifact (:func:`_ensure_bpe_merges`) — the
    oracle retrains independently, so a stale or corrupt artifact
    still breaks the hash."""
    return spark.read.parquet(_ensure_bpe_merges(spark, sf_dir))


@register(
    "corpus_bpe_encode",
    _BPE.bpe_encode_sql(
        "SELECT doc_id, text FROM documents", _BPE_MERGES, _BPE_TOP_WORDS
    ),
    survey="ext: BPE tokenization with the LEARNED merge table — encode "
    "the distinct-word vocabulary once (vocab-bounded folds, no "
    "Python), broadcast per-word token counts back onto the exploded "
    "corpus: per-document token counts under the trained tokenizer, "
    "the number every context-length and packing decision needs",
)
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 12 merges, then tokenize every document with them:
    (doc_id, n_words, n_tokens). The corpus is scanned once; merges are
    applied only to the distinct-word table."""
    d = _docs(spark, sf_dir)
    merges = _load_bpe_merges(spark, sf_dir)  # ≤12 rows, train-once artifact
    return _BPE.bpe_encode(d, merges)


@register(
    "corpus_bpe_fertility",
    lambda: f"""WITH enc AS ({_BPE.bpe_encode_sql(
        "SELECT doc_id, text FROM documents", _BPE_MERGES, _BPE_TOP_WORDS)})
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(enc.n_words) AS BIGINT) AS n_words,
  CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
  CAST(sum(enc.n_tokens) AS DOUBLE) / greatest(sum(enc.n_words), 1)
    AS fertility
FROM enc JOIN documents d USING (doc_id) GROUP BY 1""",
    survey="ext: tokenizer fertility per language — tokens-per-word "
    "under the LEARNED merge table, THE cross-lingual tokenizer-quality "
    "metric (a tokenizer trained on one language inflates another's "
    "sequence lengths and training cost); integer sums with one final "
    "division, so the ratio is bit-identical on both engines",
)
def corpus_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many BPE tokens each language pays per word: train the merge
    table once, encode the distinct-word vocabulary, roll per-doc token
    counts up to per-language fertility. Languages the merges weren't
    learned for show fertility drifting toward characters-per-word —
    the signal tokenizer-rebalance decisions are made on."""
    d = _docs(spark, sf_dir)
    merges = _load_bpe_merges(spark, sf_dir)  # ≤12 rows, train-once artifact
    enc = _BPE.bpe_encode(d, merges)
    return (
        enc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            (
                F.col("n_tokens").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1))
            ).alias("fertility"),
        )
    )


@register(
    "corpus_bpe_roundtrip",
    _BPE.bpe_roundtrip_sql(
        "SELECT doc_id, text FROM documents", _BPE_MERGES, _BPE_TOP_WORDS
    ),
    survey="ext: BPE decode round-trip — the detokenizer half the "
    "tokenizer story was missing (reference lineage N2 tokenize, "
    "pipelines.scala:48-50; extension flagged): encode every doc into "
    "a decodable token stream ('_' word-boundary markers, the "
    "sentencepiece convention), decode independently on BOTH engines, "
    "and hash-compare decode(encode(text)) == normalized(text) per doc",
)
def corpus_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 12 merges, encode every document as an ordered marked
    token stream, decode it back, and report per-doc token counts plus
    the round-trip equality flag. The oracle recomputes the decode with
    its own string machinery, so a lossy Spark-side stream (dropped
    marker, reordered word, swallowed token) breaks the hash even when
    token COUNTS agree."""
    d = _docs(spark, sf_dir)
    merges = _load_bpe_merges(spark, sf_dir)  # ≤12 rows, train-once artifact
    return _BPE.bpe_roundtrip(d, merges)


def _ensure_unigram_vocab(spark: SparkSession, sf_dir: str) -> str:
    """Train-once/serve-many for the unigram-LM family (VERDICT r9
    task 5): the 2-round Viterbi-EM training (``operators/unigram.py``)
    runs ONCE per source-content version and persists the final
    (token, cnt, logprob) vocabulary — the fingerprint-keyed,
    atomically-published pattern of the BPE merges artifact. Returns
    the artifact path; a regenerated corpus means a new fingerprint,
    so staleness is impossible by construction."""
    import os
    import tempfile

    from .operators.bucketed import _slug, _source_fingerprint, atomic_publish

    fp = _source_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"ssta_uni_{_UNI.EM_ITERS}i{_BPE_TOP_WORDS}w_{_slug(sf_dir)}_{fp}",
    )

    def _write(staging: str) -> None:
        vocab = _UNI.unigram_train(
            _BPE.word_freqs(_docs(spark, sf_dir), _BPE_TOP_WORDS),
            _UNI.EM_ITERS,
        )
        # letter floor + ≤PRUNE_MULTI pieces — one tiny file
        vocab.coalesce(1).write.mode("overwrite").parquet(staging)

    atomic_publish(_write, path)
    return path


@register(
    "corpus_unigram_vocab",
    lambda: _UNI.unigram_vocab_sql(
        "SELECT doc_id, text FROM documents", _BPE_TOP_WORDS
    ),
    survey="ext: unigram-LM (SentencePiece-style, Kudo 2018) vocabulary "
    "induction via hard-EM — the second tokenizer family next to BPE: "
    "substring-frequency seed, per-word Viterbi E-step as one DataFrame "
    "fold (no Python in the row path), integer-count M-step with "
    "rank pruning; trains on the vocab-bounded distinct-word table, so "
    "EM cost is independent of corpus size",
)
def corpus_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the unigram vocabulary (2 Viterbi-EM rounds over the
    top-2000-word table): (token, cnt, logprob). Served off the
    train-once artifact; the DuckDB oracle retrains independently —
    the same recurrence as recursive CTEs — so a stale or corrupt
    artifact still breaks the hash."""
    return spark.read.parquet(_ensure_unigram_vocab(spark, sf_dir))


@register(
    "corpus_unigram_encode",
    lambda: _UNI.unigram_encode_sql(
        "SELECT doc_id, text FROM documents", _BPE_TOP_WORDS
    ),
    survey="ext: unigram-LM tokenization with the LEARNED vocabulary — "
    "Viterbi-segment the distinct-word table once under the trained "
    "piece scores, broadcast per-word token counts back onto the "
    "exploded corpus: per-document token counts under the second "
    "tokenizer family (the bpe_encode scale shape)",
)
def corpus_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-encode: (doc_id, n_words, n_tokens) under the unigram
    vocabulary served from the train-once artifact."""
    vocab = spark.read.parquet(_ensure_unigram_vocab(spark, sf_dir)).select(
        "token", F.col("logprob").alias("lp")
    )
    return _UNI.unigram_encode(_docs(spark, sf_dir), vocab)


@register(
    "corpus_doc_novelty",
    f"""WITH toks AS (
  SELECT doc_id, {X.tokenize_sql('text')} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest({X.word_shingles_sql('t', _HOT_N)}) AS g FROM toks),
dfq AS (
  SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM sh GROUP BY g),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM sh JOIN dfq USING (g) GROUP BY doc_id)
SELECT doc_id, n_grams, n_shared,
  (floor((1.0 - CAST(n_shared AS DOUBLE) / n_grams) * 1000000.0) / 1000000.0)
    AS novelty
FROM per""",
    survey="ext: per-document novelty score — the fraction of a doc's "
    f"{_HOT_N}-grams unseen anywhere else in the corpus (1 - shared/"
    "total): the uniqueness signal curation pipelines rank on (low "
    "novelty = boilerplate/copy-heavy). Same one-shuffle shingle "
    "aggregate as the hot-ngram audit, joined back per doc; docs with "
    "fewer than 8 tokens have no 8-grams and drop out on both engines",
)
def corpus_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """novelty = 1 - (doc's n-grams appearing in >= 2 docs) / (doc's
    n-grams): integer-ratio exact, floor-quantized.

    Formulated as pre-aggregate + window, NOT (df table) ⋈ (shingle
    stream): grouping to (gram, doc, count) first means the expensive
    tokenize→shingle→explode subtree evaluates ONCE (the join form
    re-evaluates it on both sides), and every later stage shuffles the
    deduplicated (gram, doc) pairs instead of the raw instance stream;
    df-per-gram is then a count window over the g-partitioned rows
    (rows per g = distinct docs by construction). Measured 3.7 s → 2.3 s
    at sf0.1, hash-identical; n_grams = Σ per-doc counts = instance
    count, n_shared = Σ counts where the gram's doc-frequency ≥ 2."""
    from pyspark.sql import Window as W

    from .operators.skew import fan_out

    # r12: the 8-gram tokenize+shingle explode otherwise runs on the
    # single local parquet split (A/B 3.06 -> 2.32 s at sf0.1; same fix
    # as corpus_hot_ngrams, no-op at scale). The other explode-from-docs
    # queries were A/B'd too and kept UN-fanned: their per-row work is
    # light enough that the round-robin exchange costs more than the
    # serial stage it spreads (e.g. corpus_collocations +0.45 s,
    # corpus_heavy_hitters +0.99 s — see OPTIMIZATION_r12.md).
    d = fan_out(_docs(spark, sf_dir))
    sh = d.select(
        "doc_id",
        F.explode(
            X.word_shingles(X.tokenize(F.col("text")), _HOT_N)
        ).alias("g"),
    )
    gcnt = sh.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    marked = gcnt.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("g")))
    per = marked.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_shared"),
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_shared",
        (
            F.floor(
                (1.0 - F.col("n_shared").cast("double") / F.col("n_grams")) * 1e6
            )
            / 1e6
        ).alias("novelty"),
    )


_COVER_KS = (100, 1000, 2000)


@register(
    "corpus_vocab_coverage",
    f"""WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents) GROUP BY word),
r AS (SELECT word, c,
  CAST(row_number() OVER (ORDER BY c DESC, word ASC) AS BIGINT) AS rn FROM w),
t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM w)
SELECT k, covered, total,
  (floor((CAST(covered AS DOUBLE) / total) * 1000000.0) / 1000000.0)
    AS coverage
FROM (
  {" UNION ALL ".join(f'''SELECT CAST({k} AS INT) AS k,
    CAST(sum(CASE WHEN rn <= {k} THEN c ELSE 0 END) AS BIGINT) AS covered
  FROM r''' for k in _COVER_KS)}) x, t""",
    survey="ext: vocabulary coverage curve — what fraction of all token "
    "occurrences the top-k words cover (k in 100/1000/2000): the "
    "closed-vocab planning number (OOV rate = 1 - coverage); the rank "
    "window runs over the VOCAB table (corpus-independent size), never "
    "the corpus, and the curve is conditional sums in one pass",
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-k vocabulary at three k's
    (total order: count desc, word asc).

    Scale shape: only ranks <= max(k) = 2000 are ever consulted, so the
    rank window runs over a TOP-2000 CUT (TakeOrderedAndProject — the
    distributed partial top-K, each task keeps 2000 rows) rather than
    the full vocabulary; the oracle keeps the plain full-vocab window
    (ranks past 2000 contribute 0 to every conditional sum). The window
    over those 2000 rows partitions by ``c - c`` — a deliberate single
    partition that doesn't trip the WindowExec warning (a bare literal,
    or ``c * 0`` over an aggregate input, is constant-folded out of the
    spec)."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    w = (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = w.orderBy(F.desc("c"), F.asc("word")).limit(max(_COVER_KS))
    r = top.withColumn(
        "rn",
        F.row_number()
        .over(
            W.partitionBy(F.col("c") - F.col("c")).orderBy(
                F.desc("c"), F.asc("word")
            )
        )
        .cast("long"),
    )
    t = w.agg(F.sum("c").cast("long").alias("total"))
    parts = []
    for k in _COVER_KS:
        parts.append(
            r.agg(
                F.lit(k).cast("int").alias("k"),
                F.sum(F.when(F.col("rn") <= k, F.col("c")).otherwise(0))
                .cast("long")
                .alias("covered"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out.crossJoin(F.broadcast(t)).select(
        "k",
        "covered",
        "total",
        (
            F.floor((F.col("covered").cast("double") / F.col("total")) * 1e6)
            / 1e6
        ).alias("coverage"),
    )


# ===========================================================================
# Composite quality score: decile-bucket rank normalization. Exact
# percent_rank would need a GLOBAL sort (undistributable window); the
# scale-correct normalizer is 9 exact decile thresholds per signal from
# the histogram-select quantile engine, broadcast back onto the scan —
# per-doc buckets are then 9 integer comparisons, and the composite is
# pure integer arithmetic.
# ===========================================================================

_DECILES = tuple((f"p{i * 10}", i, 10) for i in range(1, 10))


def _qc_ent_sql() -> str:
    """(doc_id, ent): the char-entropy value, identical formulation to
    text_char_entropy's oracle."""
    return f"""SELECT doc_id, {V.quantize_sql(
        'log2(CAST(n AS DOUBLE)) - (micro / 1000000.0) / n', 6)} AS ent
FROM (SELECT doc_id,
        sum(CAST(floor(c * log2(c) * 1000000.0) AS BIGINT)) AS micro,
        sum(c) AS n
      FROM (SELECT doc_id, ch, count(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                  FROM documents) GROUP BY 1, 2) GROUP BY 1)"""


def _qc_sql() -> str:
    from .operators.quantiles import exact_quantiles_sql

    ths = {
        name: exact_quantiles_sql(
            f"SELECT {col} FROM sig", col, _DECILES, cte_prefix=f"{name}_"
        )
        for name, col in (("tht", "s_tok"), ("thd", "s_dup"), ("the", "s_ent"))
    }
    return f"""WITH t AS (SELECT doc_id, {X.tokenize_sql('text')} AS toks FROM documents),
ent AS ({_qc_ent_sql()}),
sig AS (SELECT t.doc_id,
  CAST(len(toks) AS DOUBLE) AS s_tok,
  {X.dup_word_frac_sql('toks')} AS s_dup,
  ent.ent AS s_ent
 FROM t JOIN ent USING (doc_id)),
tht AS (SELECT list_sort(list(value)) AS arr FROM ({ths['tht']})),
thd AS (SELECT list_sort(list(value)) AS arr FROM ({ths['thd']})),
the AS (SELECT list_sort(list(value)) AS arr FROM ({ths['the']})),
b AS (SELECT doc_id,
  CAST(len(list_filter(tht.arr, x -> s_tok >= x)) AS INT) AS b_tok,
  CAST(len(list_filter(thd.arr, x -> s_dup >= x)) AS INT) AS b_dup,
  CAST(len(list_filter(the.arr, x -> s_ent >= x)) AS INT) AS b_ent
 FROM sig, tht, thd, the)
SELECT doc_id, b_tok, b_dup, b_ent,
  CAST(b_tok + (9 - b_dup) + b_ent AS INT) AS quality_score
FROM b"""


@register(
    "corpus_quality_composite",
    lambda: _qc_sql(),
    survey="ext: rank-normalized composite quality score — per-signal "
    "decile buckets from exact histogram-select thresholds (9 broadcast "
    "doubles per signal; the percent_rank alternative is a GLOBAL sort "
    "no cluster should run), composite is pure integer arithmetic; "
    "token count rewards length, duplicate-word fraction penalizes "
    "repetition, char entropy penalizes single-symbol spam",
)
def corpus_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter-stack capstone: three independent quality signals
    (token count, Gopher duplicate-word fraction, character entropy)
    are decile-bucketed against exact corpus-wide thresholds and summed
    into a 0–27 integer score — the reusable shape for 'keep the top X%
    by combined quality' cuts where each signal's scale is arbitrary
    but its ORDER is meaningful. Thresholds are selected values from
    the two-pass quantile engine (never computed, hence engine-exact);
    bucketing is 9 integer comparisons per signal per doc."""
    from .operators import quantiles

    d = _docs(spark, sf_dir)
    toks = X.tokenize(F.col("text"))
    # r12: entropy signal via the Arrow-batched count multiset + JVM
    # micro-term fold (same rewrite as text_char_entropy — guide §4.2)
    d = d.select(
        "doc_id", "text", X.char_counts_udf()(F.col("text")).alias("cc")
    )
    n_ent, micro = X.char_entropy_parts_fast(F.col("cc"))
    ent = V.quantize(
        F.log2(n_ent.cast("double")) - (micro / F.lit(1000000.0)) / n_ent, 6
    )
    from .cache import eager_persist

    # sig feeds the shared threshold pass plus the final bucketing scan.
    # The frame is doc_id + three doubles (~32 B/row); at pipeline scale
    # this is the materialized signals table every quality stack builds
    # anyway.
    sig = eager_persist(
        d.select(
            "doc_id",
            F.size(toks).cast("double").alias("s_tok"),
            X.dup_word_frac(toks).alias("s_dup"),
            ent.alias("s_ent"),
        )
    )

    # ONE histogram pass + ONE select pass for all three signals
    # (VERDICT r7 task 5 — was three independent two-pass pipelines):
    # stack (signal, floor(v/width_signal), v) long rows, then the
    # grouped quantile engine keyed by signal name. Values are SELECTED
    # originals, so per-signal bin widths multiplex without any rescale
    # round-trip that could cost a ulp.
    specs = (("tht", "s_tok", 1.0), ("thd", "s_dup", 0.01), ("the", "s_ent", 0.1))
    long_sig = sig.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nm).alias("sig"),
                        F.floor(F.col(c) / F.lit(wd)).cast("long").alias("bin"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for nm, c, wd in specs
                ]
            )
        ).alias("x")
    ).select("x.*")
    th = quantiles.grouped_exact_quantiles(
        long_sig, "sig", "v", qs=_DECILES, bin_col="bin"
    )
    one = th.groupBy("sig").agg(
        F.sort_array(F.collect_list("value")).alias("arr")
    ).agg(
        *[
            F.max(F.when(F.col("sig") == nm, F.col("arr"))).alias(nm)
            for nm, _, _ in specs
        ]
    )
    out = sig.crossJoin(F.broadcast(one))

    def bucket(arr: str, v: str) -> Column:
        return F.size(
            F.filter(F.col(arr), lambda x: F.col(v) >= x)
        ).cast("int")

    b_tok, b_dup, b_ent = (
        bucket("tht", "s_tok"),
        bucket("thd", "s_dup"),
        bucket("the", "s_ent"),
    )
    return out.select(
        "doc_id",
        b_tok.alias("b_tok"),
        b_dup.alias("b_dup"),
        b_ent.alias("b_ent"),
        (b_tok + (F.lit(9) - b_dup) + b_ent).cast("int").alias("quality_score"),
    )
