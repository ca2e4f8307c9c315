"""Unit coverage for the text function library (SURVEY N2-N3, U1-U2,
P8, dedup/fingerprint primitives, text-analysis extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.functions import text as X


def one(spark, col):
    return spark.range(1).select(col.alias("v")).head()[0]


def from_text(spark, s, fn):
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(fn(F.col("text")).alias("v")).head()[0]


def test_tokenize_lower_trim(spark):
    assert from_text(spark, "  The Fast  fox ", X.tokenize) == ["the", "fast", "fox"]


def test_remove_stopwords_keeps_duplicates(spark):
    toks = from_text(
        spark, "the fox the fox a", lambda c: X.remove_stopwords(X.tokenize(c), "en")
    )
    assert toks == ["fox", "fox"]  # dups preserved, stopwords gone


def test_countable_words_length_filter(spark):
    # reference keeps words strictly longer than 3 (SparkRunner.scala:125)
    toks = from_text(spark, "ab abc abcd abcde", lambda c: X.countable_words(c, "en"))
    assert toks == ["abcd", "abcde"]


def test_clean_disc(spark):
    got = from_text(spark, "x< br / >y\nz", X.clean_disc)
    assert got == "xyz"


def test_strip_listchars(spark):
    got = from_text(spark, """['a', "b"]""", X.strip_listchars)
    assert got == "a, b"


def test_word_shingles_basic_and_short(spark):
    sh = from_text(spark, "a b c d", lambda c: X.word_shingles(X.tokenize(c), 3))
    assert sh == ["a b c", "b c d"]
    assert from_text(spark, "a b", lambda c: X.word_shingles(X.tokenize(c), 3)) == []
    assert from_text(spark, "a b c", lambda c: X.word_shingles(X.tokenize(c), 3)) == [
        "a b c"
    ]


def test_minhash_seeds_differ_and_stable(spark):
    sig1 = from_text(
        spark, "a b c d e", lambda c: X.minhash_signature(X.word_shingles(X.tokenize(c), 2), 4)
    )
    sig2 = from_text(
        spark, "a b c d e", lambda c: X.minhash_signature(X.word_shingles(X.tokenize(c), 2), 4)
    )
    assert sig1 == sig2  # deterministic
    assert len(set(sig1)) > 1  # different seeds → different minima


def test_minhash_similar_docs_share_signature_entries(spark):
    mk = lambda c: X.minhash_signature(X.word_shingles(X.tokenize(c), 2), 8)
    a = from_text(spark, "a b c d e f g h", mk)
    b = from_text(spark, "a b c d e f g zz", mk)  # one shingle changed
    assert sum(x == y for x, y in zip(a, b)) >= 4  # most minima survive


def test_simhash_close_for_near_dup_far_for_disjoint(spark):
    mk = lambda c: X.simhash16(X.tokenize(c))
    a = from_text(spark, "a b c d e f g h i j", mk)
    b = from_text(spark, "a b c d e f g h i k", mk)
    c = from_text(spark, "q r s t u v w x y z", mk)
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(a, b) <= ham(a, c)
    assert 0 <= a < 2**16


def test_lang_id_prefers_marker_hits(spark):
    assert from_text(spark, "the a value order fast", lambda c: X.lang_id(X.tokenize(c))) == "en"
    # tie on zero markers resolves to first of LANG_ORDER
    assert from_text(spark, "xxxx yyyy", lambda c: X.lang_id(X.tokenize(c))) == "en"


def test_quality_score_bounds(spark, docs):
    toks = X.tokenize(F.col("text"))
    row = docs.select(X.quality_score(F.col("text"), toks, "en").alias("q")).agg(
        F.min("q"), F.max("q")
    ).head()
    assert 0.0 <= row[0] <= row[1] <= 1.0


def test_sentiment_sign(spark):
    s = from_text(spark, "fast fast slow", lambda c: X.sentiment_score(X.tokenize(c)))
    assert s > 0
    s2 = from_text(spark, "slow big broken", lambda c: X.sentiment_score(X.tokenize(c)))
    assert s2 < 0


def test_fingerprint_stable_under_shingle_reorder(spark):
    fp1 = from_text(spark, "a b c d e f", lambda c: X.fingerprint(X.tokenize(c)))
    fp2 = from_text(spark, "d e f a b c", lambda c: X.fingerprint(X.tokenize(c)))
    # shared shingles dominate the 4 minima for this overlap
    assert fp1 and len(fp1) == 4 * 32
    assert fp1 != from_text(spark, "q r s t u v", lambda c: X.fingerprint(X.tokenize(c)))
    del fp2


def test_sentence_split_native_and_udtf_agree(spark):
    from spark_streaming_twitch_analytics_spark.functions.text import (
        make_sentence_udtf,
        split_sentences,
    )
    from spark_streaming_twitch_analytics_spark.tables import load_table

    d = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .withColumn("text", F.regexp_replace("text", r"((?:\S+ ){4}\S+) ", "$1. "))
        .limit(50)
    )
    native = sorted(
        (r["doc_id"], r["sent_idx"], r["sentence"], r["n_chars"])
        for r in split_sentences(d).collect()
    )
    assert native and any(idx > 0 for _, idx, _, _ in native)  # real multi-sentence docs
    spark.udtf.register("split_sents", make_sentence_udtf())
    d.createOrReplaceTempView("sent_docs")
    via_udtf = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars "
            "FROM sent_docs d, LATERAL split_sents(d.text) s"
        ).collect()
    )
    assert native == via_udtf


def test_sentence_split_handles_null_and_empty(spark):
    from spark_streaming_twitch_analytics_spark.functions.text import split_sentences

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "only one"), (4, "a. b! c?")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["sent_idx"], r["sentence"]) for r in split_sentences(df).collect()}
    assert rows == {(3, 0, "only one"), (4, 0, "a"), (4, 1, "b"), (4, 2, "c")}


def test_sentence_split_sql_has_no_length_cap(spark):
    """Regression: the oracle twin must emit ALL sentences of a long doc
    (an earlier version cross-joined a bounded range and silently
    truncated at 1024 segments)."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.functions.text import (
        split_sentences,
        split_sentences_sql,
    )

    text = ". ".join(f"s{i}" for i in range(1500))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_native = split_sentences(df).count()
    assert n_native == 1500
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO d VALUES (1, ?)", [text])
    n_sql = con.execute(
        f"SELECT count(*) FROM ({split_sentences_sql('d')})"
    ).fetchone()[0]
    assert n_sql == 1500


def test_sentence_udtf_space_only_trim_matches_native_on_tabs(spark):
    from spark_streaming_twitch_analytics_spark.functions.text import (
        make_sentence_udtf,
        split_sentences,
    )

    df = spark.createDataFrame(
        [(1, "x.\ty"), (2, "a. \t. b"), (3, "line one.\nline two.")],
        "doc_id long, text string",
    )
    native = sorted(tuple(r) for r in split_sentences(df).collect())
    spark.udtf.register("split_sents_tabs", make_sentence_udtf())
    df.createOrReplaceTempView("tab_docs")
    via = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars "
            "FROM tab_docs d, LATERAL split_sents_tabs(d.text) s"
        ).collect()
    )
    assert native == via


def test_quality_and_dupfrac_survive_empty_filtered_tokens(spark):
    """countable_words can yield an EMPTY array (stopword-only/short
    docs); the ratio functions must not divide by zero under ANSI mode,
    and the DuckDB twins must produce the same guarded values."""
    import duckdb

    rows = [(1, "the a an of"), (2, "xy z ab cd"), (3, "alpha bravo alpha charlie")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = X.countable_words(F.col("text"), "en")
    got = {
        r["doc_id"]: (r["q"], r["d"])
        for r in df.select(
            "doc_id",
            X.quality_score(F.col("text"), toks, "en").alias("q"),
            X.dup_word_frac(toks).alias("d"),
        ).collect()
    }
    assert got[1][1] == 1.0  # no crash; empty tokens → degenerate 1 - 0/1
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cw = X.countable_words_sql("text", "en")
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {X.quality_score_sql('text', cw, 'en')}, "
            f"{X.dup_word_frac_sql(cw)} FROM t"
        ).fetchall()
    }
    for k in got:
        assert repr(got[k][0]) == repr(want[k][0]), k
        assert repr(got[k][1]) == repr(want[k][1]), k


def test_simhash64_np_and_expr_agree_on_null_tokens(spark):
    df = spark.createDataFrame([(1, None), (2, "alpha bravo")], "id long, text string")
    toks = F.when(F.col("text").isNotNull(), X.tokenize(F.col("text")))
    both = df.select(
        "id",
        X.simhash64_bands(toks).alias("expr"),
        X.simhash64_bands_np(toks).alias("np"),
    ).collect()
    for r in both:
        assert list(r["expr"]) == list(r["np"]), r["id"]
    assert list(both[0]["expr"]) == [0, 0, 0, 0]  # null → empty-doc signature


def _entropy_ref(text: str) -> tuple[int, float]:
    """Reference char entropy via the same micro-int formula: integer
    micro-terms make the sum order-free, so this must match the Spark
    fold bit-for-bit before the 6dp floor-quantize."""
    import math
    from collections import Counter

    chars = list(text) if text else [""]
    n = len(chars)
    micro = sum(
        math.floor(c * math.log2(c) * 1_000_000.0)
        for c in Counter(chars).values()
    )
    h = math.log2(float(n)) - (micro / 1_000_000.0) / n
    return n, math.floor(h * 1_000_000.0) / 1_000_000.0


def test_char_entropy_known_values(spark):
    cases = {
        "aaaa": 0.0,  # one symbol → zero entropy
        "ab": 1.0,  # two equiprobable symbols → exactly 1 bit
        "abcd": 2.0,
        "": 0.0,  # split('') yields [''] → n=1 → defined as 0
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    n, micro = X.char_entropy_parts(F.col("text"))
    from spark_streaming_twitch_analytics_spark.functions import vectors as V

    got = {
        r["text"]: r["h"]
        for r in df.select(
            "text",
            V.quantize(
                F.log2(n.cast("double")) - (micro / F.lit(1e6)) / n, 6
            ).alias("h"),
        ).collect()
    }
    assert got == cases


def test_char_entropy_fold_matches_counter_reference(spark, docs):
    sample = [r["text"] for r in docs.limit(30).collect()]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sample)], "doc_id long, text string"
    )
    n, micro = X.char_entropy_parts(F.col("text"))
    rows = df.select(
        "doc_id", n.alias("n"), micro.alias("micro")
    ).collect()
    import math
    from collections import Counter

    for r in rows:
        t = sample[r["doc_id"]]
        chars = list(t) if t else [""]
        micro_ref = sum(
            math.floor(c * math.log2(c) * 1_000_000.0)
            for c in Counter(chars).values()
        )
        assert (r["n"], r["micro"]) == (len(chars), micro_ref)


def test_char_entropy_fast_matches_fold_form(spark, docs):
    """r12 rewrite guard: the Arrow-batched Counter + JVM micro-term
    fold (char_counts_udf + char_entropy_parts_fast) must produce the
    SAME (n, micro) integers as the per-character HOF fold — on real
    docs and on the edge strings (empty text, single char, all-same, and
    supplementary-plane characters, which are two UTF-16 units each)."""
    sample = [r["text"] for r in docs.limit(40).collect()] + [
        "", "a", "aaaa", "ab", "abcd", "aabéé", "a\U0001D11Eb😀😀",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sample)], "doc_id long, text string"
    )
    n_old, micro_old = X.char_entropy_parts(F.col("text"))
    old = {
        r["doc_id"]: (r["n"], r["m"])
        for r in df.select(
            "doc_id", n_old.alias("n"), micro_old.alias("m")
        ).collect()
    }
    counted = df.select(
        "doc_id", X.char_counts_udf()(F.col("text")).alias("cc")
    )
    n_new, micro_new = X.char_entropy_parts_fast(F.col("cc"))
    new = {
        r["doc_id"]: (r["n"], r["m"])
        for r in counted.select(
            "doc_id", n_new.alias("n"), micro_new.alias("m")
        ).collect()
    }
    assert new == old
