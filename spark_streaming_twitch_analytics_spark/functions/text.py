"""Text-processing column expressions + DuckDB oracle twins.

Replaces the reference's Spark-NLP pipeline (``pipelines.scala:42-67``:
DocumentAssembler → Tokenizer → StopWordsCleaner → Finisher) and its
string-cleaning UDFs (``ProcessingWorkSheet.sc:45-49,71-74``) with plain
Catalyst expressions — no ML pipeline fit, no UDF serialization, full
whole-stage codegen.

Portability rules for the ``*_sql`` twins (DuckDB 1.x):
- identical regexes, identical literal lists (from ``constants``),
- DuckDB lists are 1-based (`l[1]`), Spark arrays 0-based (`getItem(0)`),
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all default,
- hashes are md5 lowercase hex in both engines → string-compatible.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import (
    LANG_MARKERS,
    LANG_ORDER,
    MIN_WORD_LENGTH,
    SENTIMENT_NEGATIVE,
    SENTIMENT_POSITIVE,
    STOPWORDS,
    sql_str_array,
    sql_str_list,
)
from . import lit_array

TOKEN_PATTERN = r"\s+"


# ---------------------------------------------------------------------------
# Tokenization + stopwords (SURVEY N2-N3)
# ---------------------------------------------------------------------------


def tokenize(col: Column) -> Column:
    """lower → trim → whitespace split (reference Tokenizer, pipelines.scala:48-50)."""
    return F.split(F.lower(F.trim(col)), TOKEN_PATTERN)


def tokenize_sql(expr: str) -> str:
    return f"regexp_split_to_array(lower(trim({expr})), '\\s+')"


def stopword_array(lang: str) -> Column:
    return lit_array(STOPWORDS[lang])


def remove_stopwords(tokens: Column, lang: str) -> Column:
    """Drop stopwords but KEEP duplicates (``F.array_except`` would dedupe,
    changing downstream counts — reference StopWordsCleaner keeps dups)."""
    sw = stopword_array(lang)
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def remove_stopwords_sql(tokens_expr: str, lang: str) -> str:
    return (
        f"list_filter({tokens_expr}, t -> t NOT IN ({sql_str_list(STOPWORDS[lang])}))"
    )


def is_countable_word(word: Column, lang: str, min_len: int = MIN_WORD_LENGTH) -> Column:
    """The flagship word filter as a row predicate: longer than ``min_len``
    (reference ``SparkRunner.scala:125`` ``_.length > 3``) and not a
    stopword. Only stopwords longer than ``min_len`` are listed: a shorter
    one fails the length test anyway (at ``min_len`` 3, ``en`` lists 5 of
    its 25 and ``fr`` 11 of its 55). As a plain predicate it compiles into
    the generated code of the stage it sits in; inside a higher-order
    function's lambda it is interpreted."""
    pred = F.length(word) > min_len
    long_stopwords = [w for w in STOPWORDS[lang] if len(w) > min_len]
    if long_stopwords:
        pred = pred & ~word.isin(*long_stopwords)
    return pred


def countable_words(text: Column, lang: str, min_len: int = MIN_WORD_LENGTH) -> Column:
    """The flagship token stream as an array: the tokens of ``text`` that
    pass :func:`is_countable_word`, duplicates and order kept. A word count
    explodes ``tokenize`` and filters rows instead
    (``operators.messages.word_counts``), which stays in generated code."""
    return F.filter(tokenize(text), lambda t: is_countable_word(t, lang, min_len))


def countable_words_sql(expr: str, lang: str, min_len: int = MIN_WORD_LENGTH) -> str:
    toks = remove_stopwords_sql(tokenize_sql(expr), lang)
    return f"list_filter({toks}, t -> length(t) > {min_len})"


# ---------------------------------------------------------------------------
# Cleaning (SURVEY U1/U2 — UDFs in the reference, built-ins here)
# ---------------------------------------------------------------------------


def clean_disc(col: Column) -> Column:
    """U1: strip literal '< br / >' markers and newlines
    (reference UDF ``ProcessingWorkSheet.sc:45-49``)."""
    return F.regexp_replace(F.regexp_replace(col, "< br / >", ""), "\n", "")


def clean_disc_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace({expr}, '< br / >', '', 'g'), "
        f"chr(10), '', 'g')"
    )


def strip_listchars(col: Column) -> Column:
    """U2: remove the characters ``[ ] " '`` (reference ``cast_categories``
    UDF, ``ProcessingWorkSheet.sc:71-74``)."""
    return F.regexp_replace(col, """[\\[\\]"']""", "")


def strip_listchars_sql(expr: str) -> str:
    return f"""regexp_replace({expr}, '[\\[\\]"'']', '', 'g')"""


# ---------------------------------------------------------------------------
# Shingles + portable hashing (dedup/fingerprint building blocks)
# ---------------------------------------------------------------------------


def word_shingles(tokens: Column, n: int) -> Column:
    """All n-word shingles, space-joined; [] when fewer than n tokens.

    Built by zipping the token array with its own shifted tails — O(n)
    array work per row. (A transform-over-positions with a slice per
    position is O(n²) element copies; at 5k docs × 80 tokens that was
    measured 3-4× slower.)"""
    acc = tokens
    for k in range(1, n):
        tail = F.slice(tokens, k + 1, F.greatest(F.size(tokens) - k, F.lit(0)))
        acc = F.zip_with(acc, tail, lambda a, b: F.concat(a, F.lit(" "), b))
    # zip_with PADS the shorter side with nulls (concat → null); drop them
    # so sizes/sets are exact
    return F.filter(acc, lambda s: s.isNotNull())


def word_shingles_sql(tokens_expr: str, n: int) -> str:
    # range() with start >= stop yields [] in DuckDB, no guard needed
    return (
        f"list_transform(range(0, len({tokens_expr}) - {n} + 1), "
        f"i -> array_to_string({tokens_expr}[i + 1 : i + {n}], ' '))"
    )


def _minhash_digest(s: Column, n_digests: int) -> Column:
    """``n_digests`` md5 hexes concatenated — enough hash material for
    4 slices per digest."""
    parts = [
        F.md5(s) if i == 0 else F.md5(F.concat(F.lit(f"{i}|"), s))
        for i in range(n_digests)
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _minhash_digest_sql(s_expr: str, n_digests: int) -> str:
    parts = [
        f"md5({s_expr})" if i == 0 else f"md5('{i}|' || {s_expr})"
        for i in range(n_digests)
    ]
    return " || ".join(parts)


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash via digest slicing: slice j of the signature is
    ``min over shingles of substring(digest(shingle), 1+8j, 8)``, where
    ``digest`` is ⌈num_hashes/4⌉ concatenated md5 hexes. One-two md5
    calls per shingle supply all ``num_hashes`` hash functions (the same
    disjoint-slices-of-one-digest trick as the Bloom probes — measured
    the md5 pass is the engine's top per-row compute cost, and this
    quarters it vs one salted md5 per hash function).

    Lexicographic min of an 8-hex-char slice is min over uniform 32-bit
    values — a valid min-hash per slice, bit-identical across Spark and
    DuckDB (both emit lowercase hex md5, both substring 1-based).
    Returns array<string> of length ``num_hashes`` (nulls when no
    shingles)."""
    n_digests = (num_hashes + 3) // 4

    # bind the digest array ONCE per row (no CSE across HOF lambdas:
    # referencing the transform per slice would recompute every md5
    # num_hashes times — the exact cost this formulation removes)
    hs = F.transform(shingles, lambda s: _minhash_digest(s, n_digests))

    def sig_from(h: Column) -> Column:
        def slice_min(j: int) -> Column:
            # NB single-arg lambda: a two-arg lambda (even with a default)
            # is read by PySpark HOFs as (element, index)
            start = 1 + 8 * j
            return F.array_min(F.transform(h, lambda x: F.substring(x, start, 8)))

        return F.array(*[slice_min(j) for j in range(num_hashes)])

    return F.element_at(F.transform(F.array(hs), sig_from), 1)


def minhash_signature_sql(shingles_expr: str, num_hashes: int) -> str:
    n_digests = (num_hashes + 3) // 4
    digest = _minhash_digest_sql("s", n_digests)
    parts = ", ".join(
        f"list_min(list_transform({shingles_expr}, "
        f"s -> substring({digest}, {1 + 8 * j}, 8)))"
        for j in range(num_hashes)
    )
    return f"[{parts}]"


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash: bit j is the sign of sum over tokens of ±1, where
    the token votes +1 iff hex digit j of md5(token) >= '8' (its top bit).

    Pure array ops — no shuffle, no UDF; ~constant work per row.
    """
    md5s = F.transform(tokens, lambda t: F.md5(t))

    def simhash_of(ms: Column) -> Column:
        # ms is a lambda variable → the md5 array is computed ONCE per
        # row; referencing `md5s` directly in all 16 passes would
        # re-evaluate the md5 transform per pass (no CSE across HOFs)
        total = F.size(ms)

        def ups(j: int) -> Column:
            # single-arg lambda: PySpark HOFs treat two-arg lambdas as
            # (element, index) — keep j in an enclosing scope
            return F.size(F.filter(ms, lambda m: F.substring(m, j + 1, 1) >= "8"))

        acc = F.lit(0)
        for j in range(16):
            acc = acc + F.when(ups(j) * 2 > total, F.lit(1 << j)).otherwise(F.lit(0))
        return acc

    return F.element_at(F.transform(F.array(md5s), simhash_of), 1)


def simhash16_sql(md5s_expr: str) -> str:
    """SQL twin of :func:`simhash16`. ``md5s_expr`` must be a (CTE) column
    already holding ``list_transform(tokens, t -> md5(t))`` so the big
    16-term sum references it by name instead of recomputing it 32×."""
    terms = " + ".join(
        f"(CASE WHEN len(list_filter({md5s_expr}, x -> x[{j + 1}:{j + 1}] >= '8')) "
        f"* 2 > len({md5s_expr}) THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"({terms})"


def simhash64_token_ints(tokens: Column) -> Column:
    """Per-token 64-bit hash as ``array<struct<h1,h2>>``: the first 16 hex
    digits of md5(token) parsed as two 32-bit ints. ONE md5 + ONE parse
    per token; every simhash bit then costs an integer shift+mask instead
    of a per-digit substring (measured ~3× faster at sf0.1)."""
    md5s = F.transform(tokens, lambda t: F.md5(t))
    return F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h2"),
        ),
    )


def simhash64_bands(tokens: Column) -> Column:
    """64-bit SimHash as ``array<int>`` of four 16-bit bands.

    Bit j of the signature is the majority vote over tokens of bit j of
    the token's 64-bit md5-derived hash (:func:`simhash64_token_ints`).
    Banding IS the blocking scheme: by pigeonhole, two docs within
    Hamming distance 3 differ in at most 3 bands, so they agree on at
    least one — an equi-join on (band_index, band_value) finds every
    Hamming-≤3 pair without an all-pairs comparison. Pure array ops, no
    shuffle, no UDF.
    """

    def bands_of(hs: Column) -> Column:
        # hs binds the parsed-int array once per row (no CSE across HOFs
        # — referencing it directly in all 64 passes would re-md5+parse
        # the tokens per pass)
        total = F.size(hs)

        def one_band(field: str, bit_lo: int) -> Column:
            acc = F.lit(0)
            for j in range(16):
                bit = bit_lo + j
                ups = F.size(
                    F.filter(
                        hs,
                        lambda x: F.shiftright(x[field], bit).bitwiseAND(F.lit(1))
                        == 1,
                    )
                )
                acc = acc + F.when(ups * 2 > total, F.lit(1 << j)).otherwise(F.lit(0))
            return acc

        return F.array(
            one_band("h1", 0),
            one_band("h1", 16),
            one_band("h2", 0),
            one_band("h2", 16),
        )

    return F.element_at(F.transform(F.array(simhash64_token_ints(tokens)), bands_of), 1)


def simhash64_bands_np(tokens: Column) -> Column:
    """Arrow-vectorized twin of :func:`simhash64_bands` — bit-identical
    output, ~3× faster digest (measured at sf0.1: the 64 codegen filter
    passes per doc become one numpy bit-matrix sum per Arrow batch).

    md5 is computed once per *unique* token in the batch (real corpora
    repeat tokens heavily; ``np.unique`` + inverse indexing makes the
    Python-side hash loop proportional to batch vocabulary, not token
    count), then the majority vote is a single ``(tokens × 64)`` column
    sum. Kept alongside the pure-expression version: that one stays the
    oracle-parity reference and the zero-Python fallback."""

    @F.pandas_udf("array<int>")
    def _bands(tok_col: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if t is None else len(t) for t in tok_col),
            dtype=np.int64,
            count=len(tok_col),
        )
        flat = [tok for t in tok_col if t is not None for tok in t]
        shifts = np.arange(32, dtype=np.uint32)
        weights = 1 << np.arange(16, dtype=np.int64)
        if flat:
            uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
            hs = np.empty((len(uniq), 2), dtype=np.uint32)
            for i, t in enumerate(uniq):
                d = hashlib.md5(str(t).encode()).digest()
                hs[i, 0] = int.from_bytes(d[:4], "big")
                hs[i, 1] = int.from_bytes(d[4:8], "big")
            # (n_uniq, 64): h1 bits 0..31 then h2 bits 0..31
            bits = np.concatenate(
                [(hs[:, 0:1] >> shifts) & 1, (hs[:, 1:2] >> shifts) & 1], axis=1
            ).astype(np.int64)
            tok_bits = bits[inv]
        else:
            tok_bits = np.zeros((0, 64), dtype=np.int64)
        out: list[list[int] | None] = []
        pos = 0
        for t, n in zip(tok_col, lens):
            if t is None:
                # NULL tokens = empty tokens = [0,0,0,0] — the expression
                # twin's when()-chains fall through to 0 on NULL sizes,
                # and the two digests must stay bit-identical
                out.append([0, 0, 0, 0])
                continue
            ups = tok_bits[pos : pos + n].sum(axis=0)
            pos += n
            maj = (ups * 2 > n).astype(np.int64)
            out.append(
                [
                    int((maj[0:16] * weights).sum()),
                    int((maj[16:32] * weights).sum()),
                    int((maj[32:48] * weights).sum()),
                    int((maj[48:64] * weights).sum()),
                ]
            )
        return pd.Series(out)

    return _bands(tokens)


def simhash64_token_ints_sql(tokens_expr: str) -> str:
    """SQL twin of :func:`simhash64_token_ints` (DuckDB's 0x-prefix cast
    parses hex; slices are 1-based inclusive)."""
    return (
        f"list_transform({tokens_expr}, t -> "
        "{'h1': CAST('0x' || md5(t)[1:8] AS BIGINT), "
        "'h2': CAST('0x' || md5(t)[9:16] AS BIGINT)})"
    )


def simhash64_bands_sql(ints_expr: str) -> str:
    """SQL twin of :func:`simhash64_bands`; ``ints_expr`` must be a CTE
    column holding the parsed-int list (see :func:`simhash16_sql` note)."""

    def one_band(field: str, bit_lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN len(list_filter({ints_expr}, "
            f"x -> ((x.{field} >> {bit_lo + j}) & 1) = 1)) "
            f"* 2 > len({ints_expr}) THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        return f"({terms})"

    return (
        f"[{one_band('h1', 0)}, {one_band('h1', 16)}, "
        f"{one_band('h2', 0)}, {one_band('h2', 16)}]"
    )


# ---------------------------------------------------------------------------
# Text analysis extensions (langid / quality / token counts / fingerprint /
# sentiment) — SURVEY §7 phase 4
# ---------------------------------------------------------------------------


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Marker-hit counts per language (distinct markers present)."""
    out = {}
    for lang in LANG_ORDER:
        markers = lit_array(LANG_MARKERS[lang])
        out[lang] = F.size(F.array_intersect(F.array_distinct(tokens), markers))
    return out


def lang_id(tokens: Column) -> Column:
    """Argmax over marker scores, ties resolved by LANG_ORDER."""
    scores = lang_scores(tokens)
    best = scores[LANG_ORDER[0]]
    for lang in LANG_ORDER[1:]:
        best = F.greatest(best, scores[lang])
    expr = F.lit(None).cast("string")
    for lang in reversed(LANG_ORDER):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def lang_id_sql(tokens_expr: str) -> str:
    score = {
        lang: (
            f"len(list_intersect(list_distinct({tokens_expr}), "
            f"{sql_str_array(LANG_MARKERS[lang])}))"
        )
        for lang in LANG_ORDER
    }
    greatest = "greatest(" + ", ".join(score[lang] for lang in LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN {score[lang]} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"(CASE {whens} END)"


def quality_score(text: Column, tokens: Column, lang: str) -> Column:
    """Heuristic quality in [0,1]:
    0.3·min(len/500,1) + 0.3·stopword-ratio + 0.4·distinct-token-ratio.
    Quantized to 4 decimals by FLOOR, not round: the pre-quantization
    double is bitwise identical on every IEEE-754 engine (same ops, same
    order), but decimal *rounding* semantics differ — Spark rounds the
    shortest-decimal rendering (BigDecimal HALF_UP) while DuckDB rounds
    the binary value, so a true value near a .00005 boundary rounds
    differently (observed at sf0.1). floor(x·10⁴)/10⁴ is computed purely
    in doubles and is therefore engine-exact."""
    # greatest(n,1): a FILTERED token stream (countable_words) can be
    # empty, and x/0 under Spark 4's default ANSI mode kills the job;
    # DuckDB twin carries the same guard so the ratio stays engine-exact
    n = F.greatest(F.size(tokens), F.lit(1))
    sw = stopword_array(lang)
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_ratio = n_stop / n
    uniq_ratio = F.size(F.array_distinct(tokens)) / n
    raw = F.lit(0.3) * len_score + F.lit(0.3) * stop_ratio + F.lit(0.4) * uniq_ratio
    return F.floor(raw * F.lit(10000.0)) / F.lit(10000.0)


def quality_score_sql(text_expr: str, tokens_expr: str, lang: str) -> str:
    sw = sql_str_list(STOPWORDS[lang])
    return (
        "(floor((0.3 * least(length({t}) / 500.0, 1.0) "
        "+ 0.3 * (len(list_filter({k}, t -> t IN ({sw}))) / greatest(len({k}), 1)) "
        "+ 0.4 * (len(list_distinct({k})) / greatest(len({k}), 1))) * 10000.0) / 10000.0)"
    ).format(t=text_expr, k=tokens_expr, sw=sw)


def token_count_estimate(text: Column) -> Column:
    """BPE-ish token estimate: word pieces from a subword-flavored regex
    plus ceil(chars/4) blended — deterministic, no tokenizer dependency."""
    pieces = F.size(
        F.filter(
            F.split(F.lower(F.trim(text)), r"[^a-z0-9]+"), lambda p: F.length(p) > 0
        )
    )
    return pieces + F.ceil(F.length(text) / F.lit(16.0)).cast("long")


def token_count_estimate_sql(expr: str) -> str:
    return (
        f"len(list_filter(regexp_split_to_array(lower(trim({expr})), "
        f"'[^a-z0-9]+'), p -> length(p) > 0)) "
        f"+ CAST(ceil(length({expr}) / 16.0) AS BIGINT)"
    )


def dup_word_frac(tokens: Column) -> Column:
    """Gopher-style duplicate-word fraction: 1 − distinct/total,
    floor-quantized to 6 dp (engine-exact — see vectors.quantize)."""
    from .vectors import quantize

    return quantize(
        1
        - F.size(F.array_distinct(tokens)).cast("double")
        / F.greatest(F.size(tokens), F.lit(1)),
        6,
    )


def dup_word_frac_sql(tokens_expr: str) -> str:
    from .vectors import quantize_sql

    return quantize_sql(
        f"1 - CAST(len(list_distinct({tokens_expr})) AS DOUBLE) "
        f"/ greatest(len({tokens_expr}), 1)",
        6,
    )


def top_bigram_count(tokens: Column) -> Column:
    """Occurrences of the doc's most frequent bigram — per-row
    ``array_sort`` + ``aggregate`` fold counting the longest equal run
    (O(len·log len), zero shuffle). The DuckDB oracle twin is the
    explode+groupBy formulation (``registry_corpus.text_repetition``);
    DuckDB's ``list_reduce`` can't carry a struct accumulator."""
    sorted_bg = F.array_sort(word_shingles(tokens, 2))
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_bg, zero, step, lambda acc: acc["best"])


def fingerprint(tokens: Column, shingle_n: int = 3, keep: int = 4) -> Column:
    """Winnowing-style doc fingerprint: the ``keep`` smallest md5 hex
    hashes of the distinct n-word shingles, concatenated. Stable under
    shingle reordering → robust near-dup key."""
    # distinct BEFORE md5: identical shingles hash identically, so the
    # result set is the same but repeated shingles (boilerplate-heavy
    # docs) pay md5 once — md5 is the expression's dominant per-row cost
    sh = F.array_distinct(word_shingles(tokens, shingle_n))
    hashed = F.array_sort(F.transform(sh, lambda s: F.md5(s)))
    return F.array_join(F.slice(hashed, 1, keep), "")


def fingerprint_sql(tokens_expr: str, shingle_n: int = 3, keep: int = 4) -> str:
    sh = word_shingles_sql(tokens_expr, shingle_n)
    # coalesce: a shingle-less doc is NULL through DuckDB's list chain but
    # an empty array (→ '') on Spark — '' is the agreed empty fingerprint
    return (
        f"coalesce(array_to_string(list_sort(list_transform(list_distinct({sh}), "
        f"s -> md5(s)))[1:{keep}], ''), '')"
    )


def sentiment_score(tokens: Column) -> Column:
    """Lexicon sentiment in [-1,1]: (pos-hits − neg-hits)/token-count,
    rounded to 4 decimals. Implements the reference's declared-but-unwired
    sentiment surface (``pipelines.scala:10-40``) without Spark NLP."""
    pos = lit_array(SENTIMENT_POSITIVE)
    neg = lit_array(SENTIMENT_NEGATIVE)
    n_pos = F.size(F.filter(tokens, lambda t: F.array_contains(pos, t)))
    n_neg = F.size(F.filter(tokens, lambda t: F.array_contains(neg, t)))
    return F.round((n_pos - n_neg) / F.greatest(F.size(tokens), F.lit(1)), 4)


def sentiment_score_sql(tokens_expr: str) -> str:
    pos = sql_str_list(SENTIMENT_POSITIVE)
    neg = sql_str_list(SENTIMENT_NEGATIVE)
    return (
        "round((len(list_filter({k}, t -> t IN ({p}))) "
        "- len(list_filter({k}, t -> t IN ({n})))) "
        "/ greatest(len({k}), 1), 4)"
    ).format(k=tokens_expr, p=pos, n=neg)


_SENTENCE_DELIM_RE = "[.!?]+"


def sentences(text: Column) -> Column:
    """Raw sentence segments: ``split`` on terminal-punctuation runs.
    Pair with ``posexplode`` so each segment keeps its 0-based position
    (the position counts raw segments, so filtering empties afterwards
    never renumbers — engines that drop vs keep trailing empties agree)."""
    return F.split(text, _SENTENCE_DELIM_RE)


def split_sentences(df, text_col: str = "text", id_col: str = "doc_id"):
    """doc → one row per non-empty sentence with its position. Pure
    built-ins (split → posexplode → trim/filter): a narrow map with no
    Python in the row path — the fast twin of :class:`SentenceSplitter`."""
    return (
        df.select(
            id_col,
            F.posexplode(sentences(F.col(text_col))).alias("sent_idx", "sentence"),
        )
        .withColumn("sentence", F.trim("sentence"))
        .filter(F.length("sentence") > 0)
        .withColumn("n_chars", F.length("sentence").cast("int"))
    )


def split_sentences_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`split_sentences` (unnest-with-position via a
    correlated lateral range — no length cap — as regexp_split_to_array
    keeps trailing empties that Java ``split`` drops; the trim filter
    aligns both)."""
    return f"""WITH s AS (
  SELECT doc_id, regexp_split_to_array(text, '{_SENTENCE_DELIM_RE}') AS sents
  FROM {table})
SELECT doc_id, CAST(i AS INT) AS sent_idx, trim(sents[i + 1], ' ') AS sentence,
  CAST(len(trim(sents[i + 1], ' ')) AS INT) AS n_chars
FROM s, LATERAL (SELECT unnest(range(0, len(sents))) AS i) ix
WHERE len(trim(sents[i + 1], ' ')) > 0"""


def make_sentence_udtf():
    """Spark 4 Python UDTF twin of :func:`split_sentences` — the
    table-function API surface for consumers who need imperative
    per-row expansion (regex libraries, model-based segmenters). The
    native version stays the hot path; tests assert both produce
    identical rows."""
    import re

    from pyspark.sql.functions import udtf

    delim = re.compile(_SENTENCE_DELIM_RE)

    @udtf(returnType="sent_idx int, sentence string, n_chars int")
    class SentenceSplitter:
        def eval(self, text: str):  # noqa: D401
            if text is None:
                return
            for i, seg in enumerate(delim.split(text)):
                # strip SPACES only — F.trim's default char set; str.strip()
                # would also eat tabs/newlines and diverge from the native path
                seg = seg.strip(" ")
                if seg:
                    yield i, seg, len(seg)

    return SentenceSplitter


# ---------------------------------------------------------------------------
# Character-level Shannon entropy (gibberish / repetitive-text signal)
# ---------------------------------------------------------------------------


def _entropy_micro_term(run: Column) -> Column:
    """floor(run·log2(run)·10⁶) as BIGINT — the micro-int entropy term.
    Integer micro-terms sum exactly in any order, so the per-row fold
    here and the oracle's explode+groupBy produce the SAME integer
    total (the Kneser-Ney determinism trick, registry_corpus.py)."""
    return (
        F.when(
            run > 0,
            F.floor(run.cast("double") * F.log2(run) * F.lit(1000000.0)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )


def char_entropy_parts(text_col: Column) -> tuple[Column, Column]:
    """(n_chars, micro_sum): character count and the integer micro-sum
    Σ floor(c·log2(c)·10⁶) over per-character run lengths — computed as
    a per-row ``array_sort`` + ``aggregate`` run-length fold (same
    zero-shuffle shape as :func:`top_bigram_count`): no row explosion,
    no shuffle, O(len·log len) per document at any corpus size. Shannon
    entropy follows as log2(n) − (micro/10⁶)/n."""
    chars = F.array_sort(F.split(text_col, ""))
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        total = F.when(same, acc["acc"]).otherwise(
            acc["acc"] + _entropy_micro_term(acc["run"])
        )
        return F.struct(x.alias("prev"), run.alias("run"), total.alias("acc"))

    micro = F.aggregate(
        chars, zero, step, lambda a: a["acc"] + _entropy_micro_term(a["run"])
    )
    return F.size(chars), micro


def char_counts_udf():
    """Arrow-batched per-document character-count multiset: one C-speed
    ``collections.Counter`` per doc, counts returned ascending-sorted as
    ``array<long>``.

    The fast half of :func:`char_entropy_parts_fast` (guide §4.2): the
    per-row ``array_sort(split(text,'')) + aggregate`` fold evaluates
    ~2·len interpreted HOF steps per document (struct allocation per
    character), which dominated text_char_entropy and
    corpus_quality_composite at every SF; counting is pure data work
    with no float arithmetic, so it moves to Python C code while the
    log2 micro-terms stay JVM-side (bit-identity preserved).

    Split-semantics parity with ``F.split(text, '')``: Java yields one
    empty-string element for an empty text (size 1, run 1, micro term
    0), reproduced by the ``[1]`` special case; NULL text → NULL array
    (downstream folds then yield NULL, like size/aggregate over a NULL
    split). Counting is per code point, and so is Spark 4's
    ``split(t, '')``: a supplementary-plane character (e.g. U+1D11E or
    an emoji, two UTF-16 units) is ONE element on both sides, pinned by
    the astral edge string in test_char_entropy_fast_matches_fold_form.
    DuckDB's string_split is also per code point."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def cc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None
            if t is None
            else (sorted(Counter(t).values()) if t else [1])
        )

    return cc


def char_entropy_parts_fast(counts: Column) -> tuple[Column, Column]:
    """(n_chars, micro_sum) from a :func:`char_counts_udf` multiset —
    drop-in value-equal replacement for :func:`char_entropy_parts`
    (pinned by tests/test_text_functions.py): n is the exact integer
    sum of counts, micro folds :func:`_entropy_micro_term` over the
    ~alphabet-size multiset with the SAME JVM log2/floor arithmetic as
    the per-character fold (integer micro-terms sum exactly in any
    order, so run order vs count order cannot differ)."""
    n = F.aggregate(
        counts, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    micro = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc + _entropy_micro_term(c),
    )
    return n, micro


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (Python ``unicodedata`` implements
    the Unicode normalization algorithm; no JVM built-in exists). The
    genuinely-Python Unicode-tables work rides the vectorized pandas_udf
    path — never a row-at-a-time UDF. DuckDB's ``nfc_normalize`` is the
    oracle twin (same public algorithm, verified byte-identical)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return nfc
