"""Property-based checks (hypothesis) for the operators whose semantics
have sharp edges: the J1 merge and the IRC line parser. Examples are
bounded and the Spark work is batched per test case list (one job per
property, not per example) to keep runtime sane."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.operators import merge, messages

words = st.text(alphabet="abcdef", min_size=1, max_size=4)
counts = st.integers(min_value=0, max_value=1000)


@settings(max_examples=12, deadline=None)
@given(
    stored=st.dictionaries(words, counts, max_size=8),
    incoming=st.dictionaries(words, counts, max_size=8),
)
def test_update_table_is_dict_merge_with_addition(spark, stored, incoming):
    sdf = spark.createDataFrame(
        list(stored.items()) or [("__none__", 0)], "word string, cnt int"
    )
    idf = spark.createDataFrame(
        list(incoming.items()) or [("__none__", 0)], "word string, cnt int"
    )
    got = {
        r["word"]: r["cnt"]
        for r in merge.update_table(sdf, idf, "word", "cnt").collect()
    }
    want: dict[str, int] = dict(stored or {"__none__": 0})
    for k, v in (incoming or {"__none__": 0}).items():
        want[k] = want.get(k, 0) + v
    assert got == want


line_text = st.text(
    alphabet=st.characters(blacklist_characters="\r\n", min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(user=st.text(alphabet="abcxyz", min_size=1, max_size=6), text=line_text)
def test_parser_fields_match_python_split_semantics(spark, user, text):
    # the parser is defined as split-on-':' positional extraction — the
    # truncation quirk included. Property: Spark result == python split.
    line = f"1700000000000:{user}!{user}@tmi PRIVMSG #chan :{text}"
    raw = spark.createDataFrame([(line,)], "value string")
    row = messages.format_raw_messages(raw).head()
    parts = line.split(":")
    assert row["timestamp"] == parts[0]
    assert row["metadata"] == parts[1]
    assert row["text"] == (parts[2].lower() if len(parts) > 2 else None)
    assert row["user"] == parts[1].split("!")[0]
    assert row["channel"] == parts[1].split(" ")[2]


def test_wordcount_permutation_invariance(spark):
    # counting is order-insensitive: shuffling input rows changes nothing
    rows = [("w1 w2 w3 wide words",), ("wide words w1 w1",), ("zzzz wide",)]
    a = messages.word_counts(
        F.col("text"), spark.createDataFrame(rows, "text string")
    )
    b = messages.word_counts(
        F.col("text"), spark.createDataFrame(list(reversed(rows)), "text string")
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


ratio_nums = st.integers(min_value=0, max_value=10_000)
ratio_dens = st.integers(min_value=1, max_value=10_000)


@settings(max_examples=5, deadline=None)
@given(pairs=st.lists(st.tuples(ratio_nums, ratio_dens), min_size=1, max_size=200))
def test_quantize_is_engine_exact_vs_duckdb(spark, pairs):
    """The floor-quantizer must produce IDENTICAL doubles on Spark and
    DuckDB for any int ratio — the property the oracle hash relies on
    (decimal round() does NOT have it; that's why quantize exists)."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.functions.vectors import (
        quantize,
        quantize_sql,
    )

    df = spark.createDataFrame(pairs, "a long, b long")
    got = [
        r["q"]
        for r in df.select(
            quantize(F.col("a").cast("double") / F.col("b"), 6).alias("q")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    expr = quantize_sql("CAST(a AS DOUBLE) / b", 6)
    want = [r[0] for r in con.execute(f"SELECT {expr} FROM t").fetchall()]
    # bitwise equality, not approx — repr distinguishes every double
    assert [repr(x) for x in got] == [repr(x) for x in want]


fuzz_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, blacklist_characters="'\\"),
    min_size=0,
    max_size=80,
)


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(fuzz_text, min_size=1, max_size=40))
def test_portable_text_functions_match_duckdb_on_random_strings(spark, texts):
    """The whole portable text-function chain — tokenize → shingles →
    minhash signature → simhash64 bands → fingerprint — must agree
    cross-engine on ARBITRARY printable input, not just the synthetic
    corpus (the oracle hash at sf0.01 only ever sees the latter)."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.functions import text as X

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = X.tokenize(F.col("text"))
    got = [
        (r["doc_id"], r["toks"], r["mh"], r["bands"], r["fp"])
        for r in df.select(
            "doc_id",
            toks.alias("toks"),
            X.minhash_signature(X.word_shingles(toks, 2), 4).alias("mh"),
            X.simhash64_bands(toks).alias("bands"),
            X.fingerprint(toks).alias("fp"),
        )
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    tk = X.tokenize_sql("text")
    want = con.execute(
        f"""SELECT doc_id, {tk},
        {X.minhash_signature_sql(X.word_shingles_sql(tk, 2), 4)},
        {X.simhash64_bands_sql(X.simhash64_token_ints_sql(tk))},
        {X.fingerprint_sql(tk)}
        FROM t ORDER BY doc_id"""
    ).fetchall()
    for g, w in zip(got, want):
        assert g[0] == w[0]
        assert list(g[1] or []) == list(w[1] or []), (g[0], "tokens")
        assert list(g[2] or []) == list(w[2] or []), (g[0], "minhash")
        assert list(g[3] or []) == list(w[3] or []), (g[0], "simhash bands")
        assert g[4] == w[4], (g[0], "fingerprint")


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(fuzz_text, min_size=1, max_size=40))
def test_portable_scalar_text_functions_match_duckdb(spark, texts):
    """Scalar twins — cleaners, lang-id, quality, token estimate,
    dup-word fraction, sentiment — on arbitrary printable input."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.functions import text as X

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = X.tokenize(F.col("text"))
    got = [
        tuple(r)
        for r in df.select(
            "doc_id",
            X.clean_disc(F.col("text")).alias("cl"),
            X.strip_listchars(F.col("text")).alias("st"),
            X.countable_words(F.col("text"), "en").alias("cw"),
            X.lang_id(toks).alias("lg"),
            X.quality_score(F.col("text"), toks, "en").alias("qs"),
            X.token_count_estimate(F.col("text")).alias("tc"),
            X.dup_word_frac(toks).alias("dw"),
            X.sentiment_score(toks).alias("sn"),
        )
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    tk = X.tokenize_sql("text")
    want = con.execute(
        f"""SELECT doc_id, {X.clean_disc_sql('text')}, {X.strip_listchars_sql('text')},
        {X.countable_words_sql('text', 'en')}, {X.lang_id_sql(tk)},
        {X.quality_score_sql('text', tk, 'en')}, {X.token_count_estimate_sql('text')},
        {X.dup_word_frac_sql(tk)}, {X.sentiment_score_sql(tk)}
        FROM t ORDER BY doc_id"""
    ).fetchall()
    labels = ["doc_id", "clean", "strip", "countable", "langid", "quality",
              "tokcount", "dupfrac", "sentiment"]
    for g, w in zip(got, want):
        for lbl, gv, wv in zip(labels, g, w):
            gv = list(gv) if isinstance(gv, list) else gv
            wv = list(wv) if isinstance(wv, list) else wv
            if isinstance(gv, float) or isinstance(wv, float):
                assert repr(gv) == repr(wv), (g[0], lbl, gv, wv)
            else:
                assert gv == wv, (g[0], lbl, gv, wv)


# int-valued components plus huge and tiny magnitudes. Huge stops at
# 1e12: PQ/ADC scores are floor-quantized at 1e6 and Spark's floor
# returns a saturating bigint, so |score|·1e6 must stay below 2^63 (and
# IVF cell scores below the -1e18 probe mask)
vec_component = st.one_of(
    st.integers(min_value=-1000, max_value=1000),
    st.sampled_from([1e12, -1e12, 1e-300, -1e-300, 5e-324]),
)


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.one_of(st.just((0,) * 7), st.tuples(*[vec_component] * 7)),
        min_size=2,
        max_size=30,
    )
)
def test_vector_fold_functions_match_duckdb_bitwise(spark, vecs):
    """cosine / LSH bucket / IVF cell on arbitrary float vectors must be
    BIT-identical across engines (the identical-order fold property every
    ANN/dedup oracle hash rests on). Components are int-valued floats or
    huge / tiny (subnormal included) magnitudes; the intermediate
    products/sums exercise real float accumulation order.

    The numpy twins the fused ANN meters rank with are pinned against
    the Column forms on the same rows: cell_scores_np, lsh_buckets_np,
    sq8_requant_np, and the probe-rank table vs
    ``array_distinct(_probe_cell_cols)`` in probe order. The PQ twins are
    pinned against the SQL twin and the ADC Column: pq_scores_np against
    pq_dtabs_sql, its first argmax against pq_codes_sql, and
    _pq_adc_matrix_np against quantize(pq_adc_score) and
    pq_adc_score_sql over every (candidate, query) pair. Every example
    carries an all-zero vector (every cell score ties, so repeated
    argmax re-probes the same cell, and every LSH dot sits exactly at
    the sign threshold) and a duplicated row; the last dimension is
    constant (0) so SQ8's ``rng == 0`` branch is hit."""
    import duckdb
    import numpy as np

    from spark_streaming_twitch_analytics_spark.functions import vectors as V
    from spark_streaming_twitch_analytics_spark.operators import similarity as S

    dim, n_cells, n_probe = 8, 4, 3
    vecs = list(vecs) + [(0,) * 7, vecs[-1]]
    rows = [(i, [float(x) for x in v] + [0.0]) for i, v in enumerate(vecs)]
    q = rows[0][1]  # fixed query vector for the pairwise cosine
    M = np.array([v for _, v in rows])
    mns, mxs = M.min(axis=0), M.max(axis=0)
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    qcol = F.array(*[F.lit(x) for x in q])
    got = [
        tuple(r)
        for r in df.withColumn("_cs", V.cell_scores(F.col("v"), n_cells, dim))
        .select(
            "vid",
            V.cosine(F.col("v"), qcol, dim=dim).alias("cos"),
            V.lsh_bucket(F.col("v"), 4, dim).alias("bkt"),
            F.col("_cs").alias("cells"),
            V.sq8_requant(
                F.col("v"),
                F.array(*[F.lit(float(x)) for x in mns]),
                F.array(*[F.lit(float(x)) for x in mxs]),
                dim,
            ).alias("sq8"),
            F.array_distinct(F.array(*S._probe_cell_cols(n_probe))).alias("probes"),
        )
        .orderBy("vid")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(vid BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    qsql = "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in q) + "]"
    want = con.execute(
        f"""SELECT vid, {V.cosine_sql('v', qsql, dim)},
        {V.lsh_bucket_sql('v', 4, dim)}, {V.cell_scores_sql('v', n_cells, dim)}
        FROM t ORDER BY vid"""
    ).fetchall()
    for g, w in zip(got, want):
        assert g[0] == w[0]
        assert repr(g[1]) == repr(w[1]), (g[0], "cosine", g[1], w[1])
        assert g[2] == w[2], (g[0], "lsh bucket")
        assert [repr(x) for x in g[3]] == [repr(x) for x in w[3]], (g[0], "cells")

    cells_np = V.cell_scores_np(M, n_cells, dim)
    buckets_np = V.lsh_buckets_np(M, 4, dim)
    sq8_np = V.sq8_requant_np(M, mns, mxs)
    rank = S._probe_rank_np(M, n_cells, n_probe, dim)
    for j, g in enumerate(got):
        assert [repr(x) for x in cells_np[j]] == [repr(x) for x in g[3]], (j, "cells_np")
        assert buckets_np[j] == g[2], (j, "lsh_buckets_np")
        assert [repr(x) for x in sq8_np[j]] == [repr(x) for x in g[4]], (j, "sq8_np")
        probed = np.flatnonzero(rank[:, j])
        assert list(probed[np.argsort(rank[probed, j])]) == list(g[5]), (j, "probes")

    n_sub, n_codes = 4, 4  # ≥ 3 subspaces: the ADC sum's order shows
    subdim = dim // n_sub
    pq = con.execute(
        f"""SELECT vid, {V.pq_dtabs_sql('v', n_sub, n_codes, dim)} AS d,
        {V.pq_codes_sql('v', n_sub, n_codes, dim)} AS c FROM t ORDER BY vid"""
    ).fetchall()
    for m in range(n_sub):
        scores_np = V.pq_scores_np(M, m, n_codes, subdim)
        for j, (_, d, c) in enumerate(pq):
            assert [repr(x) for x in scores_np[j]] == [repr(x) for x in d[m]], (j, m, "pq_scores_np")
            assert scores_np[j].argmax() + 1 == c[m], (j, m, "pq code")
    adc_np = S._pq_adc_matrix_np(M, M, n_sub, n_codes, dim)  # [candidate, query]
    con.execute("CREATE TABLE pq(vid BIGINT, d DOUBLE[][], c INT[])")
    con.executemany("INSERT INTO pq VALUES (?, ?, ?)", pq)
    adc_sql = con.execute(
        f"""SELECT c.vid, q.vid,
        {V.quantize_sql(V.pq_adc_score_sql('q.d', 'c.c', n_sub), 6)}
        FROM pq c, pq q"""
    ).fetchall()
    pairs = spark.createDataFrame(
        [(c[0], q_[0], q_[1], c[2]) for c in pq for q_ in pq],
        "c_vid long, q_vid long, d array<array<double>>, c array<int>",
    )
    adc_col = pairs.select(
        "c_vid", "q_vid", V.quantize(V.pq_adc_score(F.col("d"), F.col("c"), n_sub), 6)
    ).collect()
    assert len(adc_sql) == len(adc_col) == len(rows) ** 2
    for engine, out in (("sql", adc_sql), ("column", adc_col)):
        for c, q_, x in out:
            assert repr(adc_np[c, q_]) == repr(x), (c, q_, engine, "_pq_adc_matrix_np")


ts_small = st.integers(min_value=0, max_value=30)
keys_small = st.integers(min_value=0, max_value=3)
vals_small = st.integers(min_value=0, max_value=100)


@settings(max_examples=6, deadline=None)
@given(
    left=st.lists(st.tuples(keys_small, ts_small), min_size=1, max_size=25),
    right=st.lists(
        st.tuples(keys_small, ts_small, st.one_of(st.none(), vals_small)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_duckdb_native_asof(spark, left, right):
    """The union+window as-of rebuild must agree with DuckDB's native
    ASOF LEFT JOIN on arbitrary (key, ts) streams — including ties,
    empty right sides, and keys with no match. Right side is first
    deduped to max(val) per (key, ts) — the ambiguity both engines
    would otherwise resolve arbitrarily."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.operators.asof import as_of_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(left)]
    rrows = list(right)
    ldf = spark.createDataFrame(lrows, "eid long, k long, ts long")
    rdf = (
        spark.createDataFrame(rrows or [(-1, -1, -1)], "k long, ts long, val long")
        .groupBy("k", "ts")
        .agg(F.max("val").alias("val"))
    )
    got = {
        r["eid"]: r["asof_val"]
        for r in as_of_join(ldf, rdf, "k", "ts", "ts", "val", out_col="asof_val")
        .select("eid", "asof_val")
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE l(eid BIGINT, k BIGINT, ts BIGINT)")
    con.execute("CREATE TABLE r0(k BIGINT, ts BIGINT, val BIGINT)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?)", lrows)
    if rrows:
        con.executemany("INSERT INTO r0 VALUES (?, ?, ?)", rrows)
    else:
        con.execute("INSERT INTO r0 VALUES (-1, -1, -1)")
    want = dict(
        con.execute(
            """WITH r AS (SELECT k, ts, max(val) AS val FROM r0 GROUP BY k, ts)
            SELECT l.eid, r.val FROM l ASOF LEFT JOIN r
            ON l.k = r.k AND l.ts >= r.ts"""
        ).fetchall()
    )
    assert got == want


score_cell = st.sampled_from([0.0, 0.25, 0.5, 0.5, 0.5000001, 0.75, 0.75, 1.0])


@settings(max_examples=6, deadline=None)
@given(score_rows=st.lists(st.lists(score_cell, min_size=50, max_size=50), min_size=1, max_size=20))
def test_threshold_decode_positional_with_duplicate_scores(spark, score_rows):
    """U4b semantics under the adversarial case the reference got wrong:
    DUPLICATE score values. The reference's ``preds.indexOf`` resolved
    every duplicate to the FIRST matching index (TFInterface.scala:63-66);
    the rebuild must decode each position independently — and agree with
    the DuckDB twin and a plain python reference on arbitrary score
    arrays, including exact-0.5 boundary values (strictly greater-than)."""
    import duckdb

    from spark_streaming_twitch_analytics_spark.constants import ENCODER_CLASSES
    from spark_streaming_twitch_analytics_spark.functions import scoring

    rows = [(i, v) for i, v in enumerate(score_rows)]
    df = spark.createDataFrame(rows, "rid long, scores array<double>")
    got = {
        r["rid"]: list(r["cats"])
        for r in df.select(
            "rid", scoring.decode_categories(F.col("scores")).alias("cats")
        ).collect()
    }
    want_py = {
        i: [ENCODER_CLASSES[j] for j, s in enumerate(v) if s > 0.5]
        for i, v in rows
    }
    assert got == want_py
    con = duckdb.connect()
    con.execute("CREATE TABLE t(rid BIGINT, scores DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want_duck = {
        r[0]: list(r[1])
        for r in con.execute(
            f"SELECT rid, {scoring.decode_categories_sql('scores')} FROM t"
        ).fetchall()
    }
    assert got == want_duck


sketch_tokens = st.text(min_size=0, max_size=24).filter(lambda s: "'" not in s)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(sketch_tokens, min_size=1, max_size=24, unique=True))
def test_sketch_hash_primitives_match_duckdb(spark, texts):
    """The portable hash primitives behind the Bloom / CMS / HLL sketches
    must produce IDENTICAL integers on both engines for arbitrary
    unicode tokens — this is the whole basis of the sketches'
    exact-parity oracles."""
    import duckdb

    from pyspark.sql import functions as F
    from spark_streaming_twitch_analytics_spark.registry_corpus import (
        _BLOOM_K,
        _HLL_M,
        _HLL_VBITS,
        _bloom_pos,
        _bloom_pos_sql,
        _cms_pos_sql,
    )

    df = spark.createDataFrame([(t,) for t in texts], "token string")
    h = F.md5("token")
    cols = [F.col("token")]
    for j in range(_BLOOM_K):
        cols.append(_bloom_pos(h, j).alias(f"bp{j}"))  # CMS uses same slices
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _HLL_M
    v = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % (1 << _HLL_VBITS)
    rho = F.when(v == 0, F.lit(_HLL_VBITS + 1)).otherwise(
        _HLL_VBITS + 1 - F.length(F.bin(v))
    )
    cols += [bucket.alias("hb"), rho.alias("rho")]
    got = {r["token"]: tuple(r)[1:] for r in df.select(*cols).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (token VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    sel = ["token"]
    for j in range(_BLOOM_K):
        sel.append(_bloom_pos_sql("md5(token)", str(j)))
    sel.append(f"CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % {_HLL_M}")
    sel.append(
        f"CASE WHEN CAST('0x' || substring(md5(token), 9, 8) AS BIGINT)"
        f" % {1 << _HLL_VBITS} = 0 THEN {_HLL_VBITS + 1}"
        f" ELSE {_HLL_VBITS + 1} - length(bin(CAST('0x' || substring(md5(token), 9, 8)"
        f" AS BIGINT) % {1 << _HLL_VBITS})) END"
    )
    want = {r[0]: tuple(r)[1:] for r in con.execute(
        "SELECT " + ", ".join(sel) + " FROM t"
    ).fetchall()}
    assert got == want
    # separately: CMS position parity — the Spark-side slice expression
    # (corpus_cms_counts' pos(): conv(md5[1+8j:8], 16, 10) % _CMS_W) must
    # land in the SAME counter as the DuckDB twin, per hash row j
    from spark_streaming_twitch_analytics_spark.registry_corpus import (
        _CMS_D,
        _CMS_W,
    )

    cms_cols = [F.col("token")] + [
        (
            F.conv(F.substring(F.md5("token"), 1 + 8 * j, 8), 16, 10).cast(
                "bigint"
            )
            % _CMS_W
        ).alias(f"p{j}")
        for j in range(_CMS_D)
    ]
    cms_spark = {
        r["token"]: tuple(r)[1:] for r in df.select(*cms_cols).collect()
    }
    cms_duck = {r[0]: tuple(r)[1:] for r in con.execute(
        "SELECT token, "
        + ", ".join(_cms_pos_sql("token", str(j)) for j in range(_CMS_D))
        + " FROM t"
    ).fetchall()}
    assert cms_spark == cms_duck
    for ps in cms_spark.values():
        assert all(0 <= p < _CMS_W for p in ps)


# ---------------------------------------------------------------------------
# BPE merge fold vs a plain-Python reference implementation
# ---------------------------------------------------------------------------


def _py_greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Reference greedy left-to-right BPE merge (Sennrich semantics)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(max_examples=15, deadline=None)
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=12),
    pair=st.tuples(
        st.text(alphabet="ab", min_size=1, max_size=2),
        st.text(alphabet="ab", min_size=1, max_size=2),
    ),
)
def test_bpe_merge_fold_matches_python_reference(spark, word, pair):
    """The F.aggregate string fold must implement EXACTLY greedy
    left-to-right non-overlapping merging — checked against a plain
    Python reference on adversarial ab-alphabet words (maximal overlap
    pressure), including multi-char symbols."""
    from spark_streaming_twitch_analytics_spark.operators import bpe

    a, b = pair
    syms = list(word)  # start from chars; merge (a,b) may be multi-char
    # pre-merge once with a fixed pair so multi-char symbols appear
    syms = _py_greedy_merge(syms, "a", "b")
    s0 = bpe.SEP.join(syms)
    df = spark.createDataFrame([(s0,), (s0,)], "s string").limit(1)
    got = (
        df.select(bpe._merge_fold(F.col("s"), a, b).alias("m"))
        .collect()[0]["m"]
    )
    assert got.split(bpe.SEP) == _py_greedy_merge(syms, a, b)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=30), min_size=2, max_size=5
    )
)
def test_containment_bounds_and_subset_iff_one(spark, texts):
    """jaccard <= containment <= 1 on every candidate pair, and
    containment == 1 exactly when one shingle set contains the other."""
    from spark_streaming_twitch_analytics_spark.operators import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ids = list(range(len(texts)))
    pairs = spark.createDataFrame(
        [(i, j) for i in ids for j in ids if i < j], "a long, b long"
    )
    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_on_pairs(pairs, docs).collect()
    }
    con = {
        (r["a"], r["b"]): r["containment"]
        for r in dedup.containment_on_pairs(pairs, docs).collect()
    }
    from spark_streaming_twitch_analytics_spark.functions.text import (
        tokenize,
        word_shingles,
    )

    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id",
            F.array_distinct(
                word_shingles(tokenize(F.col("text")), dedup.SHINGLE_N)
            ).alias("sh"),
        ).collect()
    }
    for k in jac:
        assert jac[k] <= con[k] <= 1.0
        x, y = sh[k[0]], sh[k[1]]
        if x and y:
            subset = x <= y or y <= x
            assert (con[k] == 1.0) == subset


@settings(max_examples=10, deadline=None)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # key
            st.integers(min_value=0, max_value=50),  # seq (made unique below)
            st.sampled_from(["x", "y", "z"]),  # attribute
        ),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_intervals_are_contiguous_and_single_current(spark, log):
    """SCD2 output invariants on random change logs: per key, versions
    are consecutive from 1; valid_from strictly increases; each
    valid_to equals the NEXT version's valid_from (no gaps, no
    overlaps); exactly one open (is_current) row per key; consecutive
    versions differ in the attribute."""
    import datetime as dt

    from spark_streaming_twitch_analytics_spark.operators import merge as M

    base = dt.datetime(2024, 1, 1)
    rows = [
        (k, base + dt.timedelta(hours=i), i, attr)
        for i, (k, _, attr) in enumerate(log)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = M.scd2_history(
        ev, keys=["user_id"], attr_col="event_type",
        seq_cols=["event_id"], ts_col="ts",
    ).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for r in vs if r["is_current"]) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for prev, nxt in zip(vs, vs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            assert prev["valid_from"] < nxt["valid_from"]
            assert prev["event_type"] != nxt["event_type"]


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    ),
    width=st.sampled_from([0.5, 3.0, 100.0, 1e5]),
)
def test_exact_quantiles_equal_order_statistics(spark, vals, width):
    """Histogram-select must return the k-th smallest value for every
    quantile at ANY bin width, including negative values (negative bins
    sort before zero) and heavy ties."""
    from spark_streaming_twitch_analytics_spark.operators.quantiles import (
        DEFAULT_QS,
        exact_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["label"]: (r["k"], r["value"])
        for r in exact_quantiles(df, "v", bin_width=width).collect()
    }
    srt, n = sorted(vals), len(vals)
    assert set(got) == {lb for lb, _, _ in DEFAULT_QS}
    for label, num, den in DEFAULT_QS:
        k = -(-num * n // den)
        assert got[label] == (k, srt[k - 1]), (label, width)


# ---------------------------------------------------------------------------
# LSH banding threshold — the 100 TB parameter profile's math must hold
# (SCALING.md §"100 TB parameter profile"). Pure analytic property: a pair
# with Jaccard s becomes a candidate with p(s) = 1 - (1 - s^r)^b; the
# S-curve midpoint is t ≈ (1/b)^(1/r). If someone retunes the production
# tuple without redoing the recall/FPR math, this test fails.
# ---------------------------------------------------------------------------


def _band_candidate_prob(s: float, num_hashes: int, num_bands: int) -> float:
    r = num_hashes // num_bands
    return 1.0 - (1.0 - s**r) ** num_bands


@given(st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0))
@settings(max_examples=50, deadline=None)
def test_banding_curve_is_monotone_for_prod_tuple(s1, s2):
    from spark_streaming_twitch_analytics_spark.operators.dedup import (
        PROD_MINHASH_BANDS,
        PROD_MINHASH_HASHES,
    )

    lo, hi = sorted((s1, s2))
    assert _band_candidate_prob(
        lo, PROD_MINHASH_HASHES, PROD_MINHASH_BANDS
    ) <= _band_candidate_prob(hi, PROD_MINHASH_HASHES, PROD_MINHASH_BANDS) + 1e-12


def test_prod_banding_threshold_and_operating_points():
    """The documented production tuple (128 hashes / 16 bands, r=8) must
    deliver the SCALING.md table's numbers: threshold ≈ 0.707, recall
    > 0.99 at s = 0.85, false-candidate rate ≈ 1% at s = 0.40 and
    < 0.5% at s = 0.35."""
    from spark_streaming_twitch_analytics_spark.operators.dedup import (
        PROD_MINHASH_BANDS,
        PROD_MINHASH_HASHES,
    )

    b, h = PROD_MINHASH_BANDS, PROD_MINHASH_HASHES
    r = h // b
    assert h % b == 0 and r >= 2
    t = (1.0 / b) ** (1.0 / r)
    assert abs(t - 0.7071) < 0.005  # (1/16)^(1/8) = 2^(-1/2)
    # midpoint of the S-curve: p(t) = 1-(1-1/b)^b → 1-1/e for large b
    assert 0.5 < _band_candidate_prob(t, h, b) < 0.7
    # operating points quoted in SCALING.md
    assert _band_candidate_prob(0.85, h, b) > 0.99
    assert _band_candidate_prob(0.40, h, b) < 0.011
    assert _band_candidate_prob(0.35, h, b) < 0.005


def test_test_tuple_threshold_matches_docs():
    """The sf0.01 test tuple (8 hashes / 4 bands, r=2) sits at t = 0.5 —
    loose on purpose (tiny docs, tiny shingle space need generous
    candidate generation for the oracle-checked recall queries)."""
    from spark_streaming_twitch_analytics_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_HASHES,
    )

    r = MINHASH_HASHES // MINHASH_BANDS
    t = (1.0 / MINHASH_BANDS) ** (1.0 / r)
    assert abs(t - 0.5) < 1e-9


def test_prod_sketch_profile_math_holds():
    """Pin the rest of the SCALING.md 100 TB parameter-profile table to
    its formulas (same discipline as the banding test): KMV relative
    error 1/sqrt(k-2), Bloom FPR (1-e^(-kn/m))^k with near-optimal k,
    CMS error e/width at confidence 1-e^(-depth). If the documented
    production tuple is retuned, these assertions force redoing the
    math."""
    import math

    # KMV: production k = 1024 → ~3.1% relative error; test k = 16 → ~27%
    assert abs(1.0 / math.sqrt(1024 - 2) - 0.031) < 0.002
    assert abs(1.0 / math.sqrt(16 - 2) - 0.27) < 0.01

    # Bloom: production m = 2^34 bits, k = 10 at n = 1e9 eval shingles
    m, k, n = float(1 << 34), 10, 1e9
    fpr = (1.0 - math.exp(-k * n / m)) ** k
    assert fpr < 1e-3 and fpr > 1e-4  # table quotes ≈9e-4
    k_opt = m / n * math.log(2.0)
    assert 10 <= k_opt <= 13  # k=10 is near-optimal but cheaper to hash

    # CMS: production width 2^20, depth 5
    eps = math.e / float(1 << 20)
    assert eps < 3e-6              # ±ε·L1-mass count error
    assert math.exp(-5) < 0.01     # confidence 1 - e^{-depth} > 99%


@given(
    data=st.data(),
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
)
@settings(max_examples=30, deadline=None)
def test_png_codec_roundtrip_under_all_filters(data, h, w):
    """Decode(forward-filter(img, any per-row filter mix)) == img — the
    unfilter paths (incl. the numpy-vectorized None/Sub/Up and the
    sequential Average/Paeth) are exact inverses for arbitrary images."""
    import numpy as np

    from spark_streaming_twitch_analytics_spark.operators import multimodal
    from tests.test_multimodal import _encode_png_with_filters

    img = np.array(
        data.draw(
            st.lists(
                st.lists(st.integers(0, 255), min_size=w, max_size=w),
                min_size=h,
                max_size=h,
            )
        ),
        dtype=np.uint8,
    )
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    png = _encode_png_with_filters(img, filters)
    out = multimodal.png_decode_gray(png)
    assert out.shape == (h, w) and (out == img).all()


@given(
    samples=st.lists(st.integers(0, 255), min_size=1, max_size=256),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=30, deadline=None)
def test_wav_codec_roundtrip_property(samples, rate):
    import numpy as np

    from spark_streaming_twitch_analytics_spark.operators import multimodal

    smp = np.array(samples, dtype=np.uint8)
    back, got_rate = multimodal.wav_decode_pcm8(
        multimodal.wav_encode_pcm8(smp, rate=rate)
    )
    assert got_rate == rate and (back == smp).all()


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(fuzz_text, min_size=1, max_size=25))
def test_char_entropy_micro_matches_duckdb_on_random_strings(spark, texts):
    """The per-row entropy fold's integer micro-sum must equal DuckDB's
    explode+groupBy twin on ARBITRARY printable input — the order-free
    micro-int property the oracle hash depends on."""
    import duckdb

    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.functions import text as X

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n, micro = X.char_entropy_parts(F.col("text"))
    got = {
        r["doc_id"]: (r["n"], r["m"])
        for r in df.select("doc_id", n.alias("n"), micro.alias("m")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            """WITH c AS (SELECT doc_id, unnest(string_split(text,'')) AS ch FROM d),
f AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1,2)
SELECT doc_id, CAST(sum(c) AS INT),
  sum(CAST(floor(c * log2(c) * 1000000.0) AS BIGINT)) FROM f GROUP BY 1"""
        ).fetchall()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    stream=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=600),
    k=st.integers(min_value=3, max_value=40),
    cuts=st.lists(st.integers(min_value=1, max_value=599), max_size=6),
)
def test_mg_merge_guarantee_on_arbitrary_streams(stream, k, cuts):
    """Misra-Gries merge invariants under ARBITRARY batch boundaries:
    ≤ k survivors, undercount ≤ n/(k+1), and no item above the bound is
    ever missing — the superset guarantee heavy_hitters rests on."""
    from collections import Counter

    from spark_streaming_twitch_analytics_spark.operators import heavyhitters as HH

    toks = [f"t{v}" for v in stream]
    truth = Counter(toks)
    n = len(toks)
    bounds = sorted({c for c in cuts if c < n})
    pieces = []
    prev = 0
    for b in bounds + [n]:
        if b > prev:
            pieces.append(toks[prev:b])
            prev = b
    summary: dict[str, int] = {}
    for piece in pieces:
        summary = HH.mg_merge_batch(summary, dict(Counter(piece)), k)
    assert len(summary) <= k
    for tok, lb in summary.items():
        assert 0 < lb <= truth[tok]
        assert truth[tok] - lb <= n / (k + 1)
    for tok, c in truth.items():
        if c > n / (k + 1):
            assert tok in summary


@settings(max_examples=25, deadline=None)
@given(a=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=200))
def test_cusum_max_plus_closed_form_identity(a):
    """The window rewrite events_cusum_changepoint relies on:
    max(0, S_{t-1} + a_t) == cum_t − min(0, min_{j≤t} cum_j) for ANY
    integer series."""
    s = 0
    cum = 0
    running_min = 0
    for x in a:
        s = max(0, s + x)
        cum += x
        running_min = min(running_min, cum)
        assert s == cum - min(0, running_min)


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    vocab_extra=st.lists(
        st.text(alphabet="abc", min_size=2, max_size=4), max_size=6, unique=True
    ),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=12, deadline=None)
def test_unigram_viterbi_matches_bruteforce_enumeration(
    spark, words, vocab_extra, seed
):
    """The DP fold must return the GLOBAL max-score segmentation with
    the pinned tie-break (longest piece wins), for any vocabulary that
    contains the letter floor — verified against exhaustive Python
    enumeration of every segmentation (words ≤ 6 chars ⇒ ≤ 32 splits)."""
    import random

    from spark_streaming_twitch_analytics_spark.operators import unigram as U

    rng = random.Random(seed)
    vocab = {c: round(rng.uniform(-9, -1), 6) for c in "abc"}
    for t in vocab_extra:
        vocab[t] = round(rng.uniform(-9, -1), 6)

    def segmentations(w):
        if not w:
            yield []
            return
        for n in range(1, min(U.MAXPIECE, len(w)) + 1):
            head = w[:n]
            if head in vocab:
                for rest in segmentations(w[n:]):
                    yield [head] + rest

    def brute_best(w):
        # max score; tie-break mirrors the fold: at every position the
        # longest winning piece is chosen, i.e. lexicographically max
        # (score, [piece lengths from the END backwards]) — equivalent
        # to comparing (score, reversed length sequence) descending
        best = None
        for seg in segmentations(w):
            score = sum(vocab[t] for t in seg)
            key = (score, [len(t) for t in reversed(seg)])
            if best is None or key > best[0]:
                best = (key, seg)
        return best[1], best[0][0]

    wdf = spark.createDataFrame([(w, 1) for w in words], "word string, wcnt long")
    vdf = spark.createDataFrame(
        [(t, lp) for t, lp in vocab.items()], "token string, lp double"
    )
    got = {
        r["word"]: (list(r["tokens"]), r["score"])
        for r in U.viterbi_tokens(wdf, vdf).collect()
    }
    for w in words:
        exp_seg, exp_score = brute_best(w)
        assert got[w][0] == exp_seg, (w, got[w], exp_seg)
        assert abs(got[w][1] - exp_score) < 1e-9, (w, got[w][1], exp_score)
