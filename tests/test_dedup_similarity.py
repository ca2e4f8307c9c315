"""Dedup + similarity operators against PLANTED duplicates — each
strategy must recover injected near-dups, not just run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_twitch_analytics_spark.operators import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "the bird eat seeds near the old barn door every single morning"
)
NEAR = BASE.replace("barn", "shed")  # one-token perturbation
OTHER = "completely different content about spark query engines and columnar execution at massive scale"


@pytest.fixture(scope="module")
def planted(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER), (4, "short text only")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(planted):
    got = {
        r["canonical_id"]: r["n_dups"]
        for r in dedup.exact_dup_groups(planted).collect()
    }
    assert got[0] == 2  # docs 0,1 identical → canonical 0
    assert got[2] == 1 and got[3] == 1


def test_minhash_lsh_finds_planted_near_dup(planted):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs(planted).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup pair
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.6  # near dup survives LSH
    assert all(a != 3 and b != 3 for a, b in pairs)  # unrelated doc never pairs


def test_simhash_blocks_exact_dups(planted):
    pairs = {(r["a"], r["b"]) for r in dedup.simhash_dup_pairs(planted).collect()}
    assert (0, 1) in pairs
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_docs(planted).collect()}
    ham = bin(sig[0] ^ sig[2]).count("1")
    assert ham <= bin(sig[0] ^ sig[3]).count("1")


def test_simhash64_hamming_pairs(planted):
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash64_dup_pairs(planted, max_hamming=3).collect()
    }
    assert got.get((0, 1)) == 0  # identical docs: distance 0, found via bands
    assert all(a != 3 and b != 3 for a, b in got)  # unrelated doc stays out
    # signature shape: 4 bands, each a 16-bit value
    from spark_streaming_twitch_analytics_spark.functions.text import (
        simhash64_bands,
        tokenize,
    )

    bands = (
        planted.select(simhash64_bands(tokenize(F.col("text"))).alias("b"))
        .head()["b"]
    )
    assert len(bands) == 4 and all(0 <= v < (1 << 16) for v in bands)


def test_simhash64_banding_finds_all_hamming3_pairs(planted):
    """Exhaustive check of the pigeonhole claim on the real corpus slice:
    band blocking must surface EVERY pair at Hamming ≤ 3 (no recall loss
    vs brute force)."""
    emb = planted.sparkSession.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from spark_streaming_twitch_analytics_spark.functions.text import (
        simhash64_bands,
        tokenize,
    )

    rows = emb.select(
        "doc_id", simhash64_bands(tokenize(F.col("text"))).alias("bands")
    ).collect()
    sigs = {r["doc_id"]: r["bands"] for r in rows}
    brute = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if ham <= 3:
                brute.add((a, b))
    got = {
        (r["a"], r["b"]) for r in dedup.simhash64_dup_pairs(emb).collect()
    }
    assert got == brute and len(brute) > 0


def test_ngram_jaccard_ranks_planted_pair_first(planted):
    pairs = dedup.ngram_jaccard_pairs(planted, shingle_n=2)
    best = pairs.orderBy(F.desc("jaccard"), "a", "b").head()
    assert (best["a"], best["b"]) == (0, 1) and best["jaccard"] == 1.0


@pytest.fixture(scope="module")
def planted_vecs(spark):
    base = [float(i % 7 - 3) for i in range(64)]
    twin = list(base)
    twin[0] += 0.01  # near-identical direction
    far = [float((i * 13) % 11 - 5) for i in range(64)]
    rows = [(0, base, 0), (1, twin, 0), (2, far, 0), (3, base, 1)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_embedding_dup_pairs_blocking(planted_vecs):
    got = {
        (r["a"], r["b"]): r["cos"]
        for r in dedup.embedding_dup_pairs(planted_vecs, F.col("label"), 0.99).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.999
    assert (0, 3) not in got  # different block, never compared
    assert (0, 2) not in got  # same block but dissimilar


def test_brute_force_topk_finds_twin(planted_vecs):
    got = similarity.brute_force_topk(
        planted_vecs.filter(F.col("vec_id") == 0), planted_vecs, k=2
    ).collect()
    assert [r["c_id"] for r in got] == [1, 3][:2] or got[0]["c_id"] in (1, 3)
    assert got[0]["cos"] > 0.999


def test_lsh_topk_same_bucket_twins(planted_vecs):
    got = similarity.lsh_topk(
        planted_vecs.filter(F.col("vec_id") == 0), planted_vecs, k=3
    ).collect()
    ids = [r["c_id"] for r in got]
    assert 1 in ids  # near-identical vector lands in the same bucket


def test_ivf_topk_probes_find_neighbors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.brute_force_topk(q, emb, 5).collect()
    }
    got = similarity.ivf_topk(q, emb, 5, n_cells=8, n_probe=2).collect()
    approx = {(r["q_id"], r["c_id"]) for r in got}
    # every query must produce k results (cells are data-adaptive, so no
    # query lands in an empty region), and recall must be non-trivial
    assert len(got) == 5 * q.count()
    assert len(truth & approx) / len(truth) > 0.0


def test_numpy_matmul_path_matches_fold_path(spark):
    """The mapInPandas matmul scale path must reproduce the HOF-fold exact
    path bit-for-bit at 6dp — same rows, same scores, same tie-breaks."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    fold = sorted(map(tuple, similarity.brute_force_topk(q, emb, 5).collect()))
    mat = sorted(map(tuple, similarity.brute_force_topk_np(q, emb, 5).collect()))
    assert fold == mat and len(fold) > 0


def test_brute_vs_lsh_recall_on_real_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = {
        (r["q_id"], r["c_id"])
        for r in similarity.brute_force_topk(q, emb, 5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"]) for r in similarity.lsh_topk(q, emb, 5).collect()
    }
    recall = len(truth & approx) / len(truth)
    # uniformly random 64-dim vectors are near-orthogonal, so the "true"
    # top-5 are barely closer than anything else — 4-bit LSH recall is
    # structurally low here; assert it finds SOME of them (real corpora
    # with cluster structure are where LSH recall is meaningful)
    assert recall > 0.0


def test_connected_components_transitive(spark):
    from spark_streaming_twitch_analytics_spark.operators.clusters import (
        connected_components,
    )

    # chain 1-2-3 plus isolated pair 7-9: labels propagate transitively
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 9)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_candidate_pairs_bucket_cap_stars_big_buckets(spark):
    from spark_streaming_twitch_analytics_spark.operators.dedup import candidate_pairs

    # one big bucket (5 docs) + one small (2 docs)
    rows = [(d, 0, "big") for d in [10, 11, 12, 13, 14]] + [
        (20, 0, "small"),
        (21, 0, "small"),
    ]
    bands = spark.createDataFrame(rows, "doc_id long, band int, key string")
    full = {(r["a"], r["b"]) for r in candidate_pairs(bands).collect()}
    capped = {
        (r["a"], r["b"]) for r in candidate_pairs(bands, max_bucket=3).collect()
    }
    assert len(full) == 10 + 1  # 5C2 + 1
    # star: big bucket pairs only against its min member; small unchanged
    assert capped == {(10, 11), (10, 12), (10, 13), (10, 14), (20, 21)}


def test_simhash64_np_digest_matches_expr(planted):
    """The Arrow-vectorized digest must be bit-identical to the
    pure-expression one (it replaces it in the default hot path)."""
    from spark_streaming_twitch_analytics_spark.functions.text import (
        simhash64_bands,
        simhash64_bands_np,
        tokenize,
    )

    docs = planted.sparkSession.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    both = docs.select(
        "doc_id",
        simhash64_bands(tokenize(F.col("text"))).alias("expr_b"),
        simhash64_bands_np(tokenize(F.col("text"))).alias("np_b"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert r["expr_b"] == r["np_b"], r["doc_id"]
    # edge rows: empty text -> all-zero bands; null tokens -> null
    edge = planted.sparkSession.createDataFrame(
        [(1, ""), (2, "x x y")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["e"], r["n"])
        for r in edge.select(
            "doc_id",
            simhash64_bands(tokenize(F.col("text"))).alias("e"),
            simhash64_bands_np(tokenize(F.col("text"))).alias("n"),
        ).collect()
    }
    for e, n in rows.values():
        assert e == n


def test_substring_spans_found_in_both_claimed_docs(spark):
    from spark_streaming_twitch_analytics_spark import registry
    from spark_streaming_twitch_analytics_spark.tables import load_table

    spans = registry.get("dedup_substring_spans").fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = spans.orderBy(F.desc("n_docs"), "span").limit(5).collect()
    assert rows
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for r in rows:
        assert r["n_occ"] >= r["n_docs"] >= 2
        # the span really is a substring of at least n_docs documents
        n = docs.filter(F.col("text").contains(r["span"])).count()
        assert n >= r["n_docs"]


def test_zero_norm_vectors_yield_null_not_crash_on_both_brute_paths(spark):
    """An all-zeros embedding in the corpus must not kill the job (ANSI
    divide-by-zero) on either brute path; its pairs score NULL and rank
    last, and the fold and matmul paths still agree."""
    base = [float(i % 7 - 3) for i in range(64)]
    twin = list(base)
    twin[0] += 0.01
    zero = [0.0] * 64
    rows = [(0, base, 0), (1, twin, 0), (2, zero, 0), (3, base, 1)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = vecs.filter(F.col("vec_id") == 0)
    fold = similarity.brute_force_topk(q, vecs, k=3).collect()
    np_ = similarity.brute_force_topk_np(q, vecs, k=3).collect()
    want = sorted((r["c_id"], r["cos"], r["rn"]) for r in fold)
    assert want == sorted((r["c_id"], r["cos"], r["rn"]) for r in np_)
    by_id = {r["c_id"]: r for r in fold}
    assert by_id[2]["cos"] is None  # zero-norm pair → NULL
    assert by_id[2]["rn"] == 3  # ranked last, real neighbours first
    # the zero vector as the QUERY side must not crash either
    zq = vecs.filter(F.col("vec_id") == 2)
    zfold = similarity.brute_force_topk(zq, vecs, k=2).collect()
    assert all(r["cos"] is None for r in zfold)


def test_ivf_constant_vector_probes_once_no_duplicate_neighbours(spark):
    """All-tied cell scores (constant/zero embeddings) make repeated
    argmax re-probe the same cell; the probe list must dedupe or every
    neighbour appears twice and half the top-k is wasted."""
    const = [1.0] * 64
    rows = [(i, list(const), 0) for i in range(6)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.ivf_topk(
        vecs.filter(F.col("vec_id") == 0), vecs, k=4, n_cells=4, n_probe=2
    ).collect()
    pairs = [(r["q_id"], r["c_id"]) for r in out]
    assert len(pairs) == len(set(pairs))  # no duplicates
    assert len(pairs) == 4  # k distinct neighbours, slots not wasted


def test_brute_force_np_empty_query_set_returns_empty(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i)] * 64, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.brute_force_topk_np(
        vecs.filter(F.col("vec_id") < 0), vecs, k=3
    )
    assert out.count() == 0
    assert out.columns == ["q_id", "c_id", "cos", "rn"]


def test_query_collect_over_bound_raises_naming_it(spark, monkeypatch):
    """The driver collect of the query side is bounded: one row over
    MAX_QUERY_ROWS raises instead of collecting; at the bound it runs."""
    vecs = spark.createDataFrame(
        [(i, [float(i + 1)] * 64, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(similarity, "MAX_QUERY_ROWS", 4)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS=4"):
        similarity.brute_force_topk_np(vecs, vecs, k=3)
    out = similarity.brute_force_topk_np(vecs.filter(F.col("vec_id") < 4), vecs, k=3)
    assert out.count() == 4 * 3


def test_ppjoin_finds_planted_pairs_exactly(planted):
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ppjoin_pairs(planted, threshold=0.5).collect()
    }
    assert got.get((0, 1)) == 1.0  # exact dup pair
    assert (0, 2) in got and got[(0, 2)] >= 0.5  # near dup found
    assert all(j >= 0.5 for j in got.values())
    assert all(a != 3 and b != 3 for a, b in got)


def test_ppjoin_is_superset_of_minhash_at_threshold(spark):
    """PPJoin is exact; MinHash-LSH is probabilistic and may only MISS
    pairs. Every LSH-surfaced pair at jaccard >= t must therefore also
    be in the PPJoin result, with the identical jaccard value."""
    from spark_streaming_twitch_analytics_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ppjoin_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs(docs).collect()
        if r["jaccard"] >= 0.5
    }
    assert exact, "no pairs at threshold — fixture assumption broken"
    missed = set(lsh) - set(exact)
    assert not missed, f"exact join missed LSH-found pairs: {sorted(missed)[:5]}"
    for k, v in lsh.items():
        assert exact[k] == v


def test_winnowing_guarantees_shared_run_detection(spark):
    """The winnowing guarantee: two docs sharing a token run of
    >= w+k-1 words MUST share a fingerprint. Planted: a 10-word run
    embedded in otherwise-different docs (w=4, k=3 -> floor 6)."""
    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "completely unrelated prefix words here " + run),
        (1, run + " and then a totally different ending follows now"),
        (2, "nothing in common with the planted run at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from spark_streaming_twitch_analytics_spark.registry_corpus import (
        _winnow_hashes,
        _winnow_mins,
    )

    e = docs.select("doc_id", _winnow_hashes().alias("hs")).select(
        "doc_id", F.explode(F.array_distinct(_winnow_mins())).alias("fp")
    )
    fps = {}
    for r in e.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "docs sharing a 10-word run must share a print"
    # short/empty docs produce no fingerprints and no errors
    tiny = spark.createDataFrame([(9, "one two")], "doc_id long, text string")
    assert (
        tiny.select("doc_id", _winnow_hashes().alias("hs"))
        .select(F.explode(_winnow_mins()))
        .count()
        == 0
    )


def test_pq_topk_finds_planted_twin(planted_vecs):
    """ADC over the 8x16 codebook must rank the near-identical twin (and
    the exact copy) at the top for the planted query: identical vectors
    get identical codes, so their ADC scores tie at the maximum."""
    got = similarity.pq_topk(
        planted_vecs.filter(F.col("vec_id") == 0), planted_vecs, k=2
    ).collect()
    ids = {r["c_id"] for r in got}
    assert 3 in ids  # exact copy: same codes, tied top ADC score
    assert 1 in ids  # near-twin: quantizes to the same codes


def test_pq_encode_deterministic_and_bounded(spark):
    """Codes are stable across runs and every code is in [1, n_codes]."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["c_id"]: r["codes"] for r in similarity._pq_encode(emb, 8, 16, 64).collect()}
    b = {r["c_id"]: r["codes"] for r in similarity._pq_encode(emb, 8, 16, 64).collect()}
    assert a == b and len(a) == emb.count()
    assert all(len(c) == 8 and all(1 <= x <= 16 for x in c) for c in a.values())


def test_query_pq_index_matches_index_free_form(spark, tmp_path):
    """Serving off the persisted codes-only layout must return EXACTLY the
    index-free pq_topk rows — same scores, same tie-breaks."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "pq_index")
    similarity.build_pq_index(emb, path)
    live = sorted(map(tuple, similarity.pq_topk(q, emb, 5).collect()))
    served = sorted(map(tuple, similarity.query_pq_index(q, path, 5).collect()))
    assert live == served and len(live) == 5 * q.count()


def test_pq_recall_sane_and_nontrivial(spark):
    """Recall@5 of PQ/ADC vs exact must be a valid ratio and beat zero —
    the planted structure in real corpora lifts it far higher, but even
    unclustered synthetic embeddings must retrieve SOME true neighbours."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    row = similarity.recall_at_k(
        similarity.brute_force_topk_np(q, emb, 5),
        similarity.pq_topk(q, emb, 5),
    ).head()
    assert row["total"] == 5 * q.count()
    assert 0 < row["matched"] <= row["total"]
    assert 0.0 < row["recall"] <= 1.0


def test_semantic_dedup_drops_more_typical_twin(planted_vecs):
    got = {r["vec_id"]: r for r in similarity.semantic_dedup(planted_vecs, 0.99).collect()}
    assert len(got) == 4  # full keep-list, one row per vector
    # 0/1/3 share a direction (cos ~1): they land in the same argmax cell,
    # so exactly one of the near-dup set survives
    same_cell = {i for i in (0, 1, 3) if got[i]["cell"] == got[0]["cell"]}
    kept_in_group = [i for i in same_cell if got[i]["kept"]]
    assert len(kept_in_group) == 1
    # the survivor is the LEAST typical (lowest centroid score, ties → low id)
    survivor = min(same_cell, key=lambda i: (got[i]["centroid_score"], i))
    assert kept_in_group == [survivor]
    # the dissimilar vector is never dropped by this group
    assert got[2]["kept"]


def test_semantic_dedup_no_pairs_above_threshold_keeps_all(planted_vecs):
    out = similarity.semantic_dedup(planted_vecs.filter(F.col("vec_id").isin(0, 2)), 0.99)
    assert all(r["kept"] for r in out.collect())


def test_pagerank_int_center_of_star_ranks_highest_and_is_deterministic(spark):
    from spark_streaming_twitch_analytics_spark.operators.clusters import pagerank_int

    # star: 0 is the hub of 1,2,3; 4-5 an isolated pair
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5)], "a long, b long"
    )
    got = {r["doc_id"]: r for r in pagerank_int(edges).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[0]["degree"] == 3
    # the hub out-ranks every leaf; the isolated pair is symmetric
    assert all(got[0]["rank"] > got[i]["rank"] for i in (1, 2, 3))
    assert got[4]["rank"] == got[5]["rank"]
    # bit-exact repeatability (integer flows: no fold-order hazard)
    again = {r["doc_id"]: r["rank"] for r in pagerank_int(edges).collect()}
    assert again == {k: v["rank"] for k, v in got.items()}


def test_ivfpq_topk_finds_planted_twin(planted_vecs):
    """The composed IVF+PQ path must keep the exact copy and the
    near-twin in the probed cells AND rank them top: identical vectors
    share a cell and codes, so their ADC scores tie at the max."""
    got = similarity.ivfpq_topk(
        planted_vecs.filter(F.col("vec_id") == 0), planted_vecs, k=2
    ).collect()
    ids = {r["c_id"] for r in got}
    assert 3 in ids  # exact copy
    assert 1 in ids  # near twin


def test_ivfpq_subset_of_pq_candidates(spark):
    """IVF pruning only REMOVES candidates: every IVF+PQ neighbour of a
    query must carry the same ADC score the unpruned PQ path assigns."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    full = {
        (r["q_id"], r["c_id"]): r["pq_sim"]
        for r in similarity.pq_topk(q, emb, 50).collect()
    }
    pruned = similarity.ivfpq_topk(q, emb, 5).collect()
    assert pruned
    for r in pruned:
        key = (r["q_id"], r["c_id"])
        if key in full:  # same pair reachable in both: identical score
            assert full[key] == r["pq_sim"]


def test_containment_catches_subset_that_jaccard_misses(spark):
    """A short doc quoted whole inside a 5x longer one: containment 1.0
    (caught at any sane threshold), Jaccard ~0.2 (invisible to the 0.5
    Jaccard gate)."""
    short = "the quick brown fox jumps over the lazy dog again and again today"
    long = short + (
        " meanwhile entirely different narrative content continues onward"
        " describing unrelated matters at considerable additional length"
        " with many extra sentences padding the containing document fully"
        " such that the shared prefix is a small fraction of the whole"
        " and the jaccard similarity of the shingle sets stays very low"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    c = dedup.containment_on_pairs(pairs, docs).collect()[0]["containment"]
    j = dedup.jaccard_on_pairs(pairs, docs).collect()[0]["jaccard"]
    assert c == 1.0
    assert j < 0.5  # the jaccard gate would never see this pair


def test_rerank_recall_dominates_raw_ivfpq(spark):
    """Re-ranking the m=25 shortlist by exact cosine can only help:
    every true top-5 neighbour that survives into the shortlist has (by
    definition of 'true top-5') the highest exact cosines there, so it
    must appear in the re-ranked top-5 — recall(rerank@5) >=
    recall(ivfpq@5), measured."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    truth = similarity.brute_force_topk_np(q, emb, 5)
    raw = similarity.recall_at_k(truth, similarity.ivfpq_topk(q, emb, 5)).collect()[0]
    rr = similarity.recall_at_k(
        truth, similarity.ivfpq_rerank(q, emb, 5, m=25)
    ).collect()[0]
    assert rr["recall"] >= raw["recall"]
    assert rr["total"] == raw["total"] > 0


def _unit_embed(spark, rows):
    """rows: (vec_id, 64-dim list) → embeddings-shaped DataFrame."""
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_mmr_promotes_diverse_pick_over_redundant_twin(spark):
    """Planted geometry: candidates 1 and 2 are near-identical and most
    relevant; 3 is orthogonal-ish and less relevant. Pure relevance
    ranks (1, 2, 3); MMR must rank (1, 3, 2) — the redundant twin pays
    the (1−λ)·max_sim penalty."""
    import numpy as np

    d = 64
    q = np.zeros(d); q[0] = 1.0
    c1 = np.zeros(d); c1[0] = 1.0; c1[1] = 0.99  # most relevant (cos .711)
    c2 = np.zeros(d); c2[0] = 1.0; c2[1] = 1.0   # ~duplicate of c1 (cos .707)
    c3 = np.zeros(d); c3[0] = 1.0; c3[2] = 1.0   # equal rel, diverse (sim to c1 ≈ .50)
    # query vec_id must satisfy the operator's caller contract (any id);
    # candidates exclude the query id inside brute_force_topk
    df = _unit_embed(spark, [(0, q), (1, c1), (2, c2), (3, c3)])
    out = similarity.mmr_rerank(
        df.filter(F.col("vec_id") == 0), df, n_candidates=3, n_select=3
    ).collect()
    order = [r["c_id"] for r in sorted(out, key=lambda r: r["step"])]
    assert order == [1, 3, 2]
    # and pure relevance (the pool order) would have been 1, 2, 3
    rel = similarity.brute_force_topk(
        df.filter(F.col("vec_id") == 0), df, 3
    ).collect()
    assert [r["c_id"] for r in sorted(rel, key=lambda r: r["rn"])] == [1, 2, 3]


def test_mmr_zero_norm_query_yields_no_rows(spark):
    import numpy as np

    d = 64
    z = np.zeros(d)
    c = np.zeros(d); c[0] = 1.0
    df = _unit_embed(spark, [(0, z), (1, c), (2, c)])
    out = similarity.mmr_rerank(
        df.filter(F.col("vec_id") == 0), df, n_candidates=2, n_select=2
    ).collect()
    assert out == []


def test_mmr_single_candidate_pool_emits_step_one(spark):
    """A pool with exactly ONE candidate has an empty pair self-join
    (c_id != other_id filters the only row), but the oracle's step 1
    selects from cand — the lone candidate must still be picked.
    Regression test for the sentinel-row fix (ADVICE r7 medium)."""
    import numpy as np

    d = 64
    q = np.zeros(d); q[0] = 1.0
    c = np.zeros(d); c[0] = 1.0; c[1] = 0.5
    df = _unit_embed(spark, [(0, q), (1, c)])
    out = similarity.mmr_rerank(
        df.filter(F.col("vec_id") == 0), df, n_candidates=3, n_select=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["q_id"], r["step"], r["c_id"]) == (0, 1, 1)
    # step-1 score is lam*rel - (1-lam)*0; rel is the quantized cosine
    assert r["score"] > 0


def test_mmr_plan_groups_in_pandas_no_rowwise_udf(spark):
    from spark_streaming_twitch_analytics_spark import registry
    from spark_streaming_twitch_analytics_spark.plans import explain as EX

    df = registry.get("retrieval_mmr_diverse").fn(spark, "/root/testdata/sf0.001")
    plan = EX.formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan  # the greedy step, per-group
    assert "BatchEvalPython" not in plan  # no row-wise Python UDF
    assert "CartesianProduct" not in plan  # pair stage is q_id-keyed
    # the pair self-join may SMJ on q_id — that partitioning is REUSED by
    # the grouped-pandas step, and broadcasting a query-proportional side
    # would be wrong at scale. The candidate pool feeds BOTH sides of
    # that join: it must be persisted so the scoring pipeline (the one
    # deliberate brute-force NLJ, same shape as ann_brute_topk) runs
    # once, with both branches reading the cache.
    assert "InMemoryTableScan" in plan


def test_pair_evidence_exact_duplicates_show_full_overlap(spark):
    """Two identical docs must surface as a candidate pair with
    jaccard 1.0 and evidence drawn from their common shingles."""
    text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "zulu yankee xray whiskey victor uniform")],
        "doc_id long, text string",
    )
    rows = dedup.pair_evidence(df).collect()
    pairs = {(r["a"], r["b"]): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["jaccard"] == 1.0
    assert r["n_shared"] > 0
    assert "alpha bravo charlie" in r["evidence"]


def test_bitext_margin_suppresses_hub_that_wins_raw_cosine(spark):
    """The reason margin mining exists (Artetxe & Schwenk 2019): a hub
    target close to EVERY source outranks the genuine pair on raw
    cosine, but its inflated backward neighborhood mean pushes its
    ratio margin below the genuine pair's. Constructed so the hub wins
    cos and loses margin."""
    from spark_streaming_twitch_analytics_spark.operators import similarity

    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # vec 1 = hub (close to both sources), vec 3 = genuine pair for x=0
    tgt = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.0, 0.0]), (3, [0.97, 0.0, 0.0, 0.243])],
        "vec_id long, embedding array<double>",
    )
    queries = src.filter("vec_id = 0")
    out = similarity.bitext_margin_pairs(
        queries, src, tgt, k=8, top=2, n_cells=1, n_probe=1, dim=4
    ).collect()
    by_rank = {r["rank"]: r for r in out}
    # raw cosine prefers the hub...
    assert by_rank[1]["cos"] < by_rank[2]["cos"]
    # ...but margin rank 1 is the genuine pair, not the hub
    assert by_rank[1]["c_id"] == 3 and by_rank[2]["c_id"] == 1
    assert by_rank[1]["margin"] > by_rank[2]["margin"]


def test_ivf_recall_fused_matches_composed_form(spark):
    """r12 restructure guard: the one-scan fused recall meter must equal
    the composed recall_at_k(brute_force_topk_np, ivf_topk) row-for-row
    on real data — same matched/total integers, same quantized recall."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    fused = similarity.ivf_recall_fused(
        queries, emb, 5, n_cells=8, n_probe=2
    ).collect()
    composed = similarity.recall_at_k(
        similarity.brute_force_topk_np(queries, emb, 5),
        similarity.ivf_topk(queries, emb, 5, n_cells=8, n_probe=2),
    ).collect()
    assert [tuple(r) for r in fused] == [tuple(r) for r in composed]


def test_ivf_recall_fused_zero_norm_and_ties(spark):
    """Edge semantics: a zero-norm candidate (NULL cosine, ranked last),
    exact score ties (c_id tie-break), and a query whose probed cells
    exclude some candidates — fused must still equal the composed form."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm -> NULL cos
        (3, [0.9, 0.1, 0.0, 0.0]),  # exact tie with vec 1
        (4, [-1.0, 0.2, 0.0, 0.0]),
        (5, [0.3, 0.9, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 0)
    fused = similarity.ivf_recall_fused(
        queries, emb, 3, n_cells=4, n_probe=1, dim=4
    ).collect()
    composed = similarity.recall_at_k(
        similarity.brute_force_topk_np(queries, emb, 3, dim=4),
        similarity.ivf_topk(queries, emb, 3, n_cells=4, n_probe=1, dim=4),
    ).collect()
    assert [tuple(r) for r in fused] == [tuple(r) for r in composed]


def test_probe_sweep_registry_matches_per_depth_recall(spark):
    """VERDICT r11 task 2: the running-count window formulation of
    ann_ivf_probe_sweep must reproduce, row-for-row, the per-depth
    recall_at_k(brute truth, ivf_topk at n_probe=p) — the semantics the
    r11 restructure claimed but never test-pinned."""
    from spark_streaming_twitch_analytics_spark import registry

    sf_dir = "/root/testdata/sf0.001"
    sweep = {
        int(r["n_probe"]): (r["matched"], r["total"], r["recall"])
        for r in registry.get("ann_ivf_probe_sweep").fn(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    truth = similarity.brute_force_topk_np(queries, emb, 5)
    for p in sorted(sweep):
        direct = similarity.recall_at_k(
            truth, similarity.ivf_topk(queries, emb, 5, n_cells=8, n_probe=p)
        ).collect()[0]
        assert sweep[p] == (
            direct["matched"],
            direct["total"],
            direct["recall"],
        ), f"probe depth {p} diverged from per-depth recall"


@pytest.mark.parametrize(
    "fused_fn, composed_fn",
    [
        (
            lambda q, e: similarity.lsh_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.lsh_topk(q, e, 5),
            ),
        ),
        (
            lambda q, e: similarity.lsh_multiprobe_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.lsh_multiprobe_topk(q, e, 5),
            ),
        ),
        (
            lambda q, e: similarity.pq_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.pq_topk(q, e, 5),
            ),
        ),
        (
            lambda q, e: similarity.ivfpq_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.ivfpq_topk(q, e, 5),
            ),
        ),
        (
            lambda q, e: similarity.sq8_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.sq8_topk(q, e, 5),
            ),
        ),
        (
            lambda q, e: similarity.ivf_sq8_recall_fused(q, e, 5),
            lambda q, e: similarity.recall_at_k(
                similarity.brute_force_topk_np(q, e, 5),
                similarity.ivf_sq8_topk(q, e, 5),
            ),
        ),
    ],
    ids=["lsh", "lsh_multiprobe", "pq", "ivfpq", "sq8", "ivf_sq8"],
)
def test_fused_recall_meters_match_composed_forms(spark, fused_fn, composed_fn):
    """r12 restructure guard for the whole fused-meter family: each
    one-scan meter must equal its composed recall_at_k(brute, approx)
    form row-for-row on real data."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    fused = fused_fn(queries, emb).collect()
    composed = composed_fn(queries, emb).collect()
    assert [tuple(r) for r in fused] == [tuple(r) for r in composed]
