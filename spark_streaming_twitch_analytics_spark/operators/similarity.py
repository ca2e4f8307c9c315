"""Similarity search over embedding columns (SURVEY §7 phase 4 extension).

Two paths:

- :func:`brute_force_topk` — exact cosine top-k. The query set is
  broadcast (small side), candidates stream through; per-partition the
  window top-k keeps a bounded heap. Baseline + ground truth.
- :func:`lsh_topk` — sign-random-projection LSH: queries and candidates
  only meet when they share a hyperplane-sign bucket. The bucket is an
  integer key → equi-join, so the shuffle is keyed and bounded; recall
  trades off with n_bits (more bits = smaller buckets). The 100 TB shape:
  candidates partitioned by bucket once (reusable across query batches).

Hyperplanes are deterministic md5-derived integer weights
(``functions.vectors.hyperplane_weights``) so results are reproducible
and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double,
    dot,
    lsh_bucket,
    norm,
    quantize,
    sq8_requant,
)

DIM = 64  # embeddings table dimensionality (static → unrolled codegen dots)

# --- 100 TB production profile -------------------------------------------
# Test defaults (n_bits=4, n_cells=8) are sized so the sf0.01 embeddings
# table (8k vectors) still fills every bucket/cell. Production sizing —
# same code, different parameters (see SCALING.md §"100 TB parameter
# profile" for the math):
#   IVF: n_cells ≈ sqrt(N) keeps cell lists ~sqrt(N) long; at N = 1e10
#        vectors use n_cells = 65_536 with n_probe = 32 (scan fraction
#        n_probe/n_cells ≈ 0.05%, ~recall 0.9+ with rerank).
#   sign-LSH: n_bits = 16 → 65_536 buckets (expected bucket ≈ N/65k);
#        multiprobe (n_bits+1 flips) buys ~17× candidates per table.
PROD_IVF_CELLS = 65_536
PROD_IVF_PROBE = 32
PROD_LSH_BITS = 16

# Bound on the query side that the Arrow top-k scans collect to the driver
# as a dense (nq, DIM) float64 matrix: 100k queries are ~51 MB.
MAX_QUERY_ROWS = 100_000


def _pairs(
    queries: DataFrame,
    candidates: DataFrame,
    join_cols: list[str] | None,
    dim: int = DIM,
) -> DataFrame:
    """Each side carries its vector AND its precomputed norm — computing
    the norm per-pair would triple the per-pair FLOPs (dot + 2 norms).
    Bitwise identical: norm sees the same values either way."""
    from .skew import fan_out

    q = queries.select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
        *[F.col(c) for c in (join_cols or [])],
    )
    candidates = fan_out(candidates)  # the per-pair dot-product stage
    # inherits this partitioning (broadcast join adds no shuffle)
    c = candidates.select(
        F.col("vec_id").alias("c_id"),
        as_double(F.col("embedding")).alias("cv"),
        norm(as_double(F.col("embedding")), dim).alias("cn"),
        *[F.col(c_) for c_ in (join_cols or [])],
    )
    if join_cols:
        joined = c.join(F.broadcast(q), join_cols)
    else:
        joined = c.crossJoin(F.broadcast(q))
    return joined.filter(F.col("q_id") != F.col("c_id"))


def _scored(pairs: DataFrame, dim: int = DIM) -> DataFrame:
    # zero-norm guard: NULL (ranked last by the top-k window on both
    # engines) instead of an ANSI divide-by-zero error killing the job
    denom = F.col("qn") * F.col("cn")
    cos = F.when(
        denom != 0, quantize(dot(F.col("qv"), F.col("cv"), dim) / denom, 6)
    )
    return pairs.select("q_id", "c_id", cos.alias("cos"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "cos", "rn")
    )


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-partition partial top-k BEFORE the rank window's map-side sort.

    Two costs sit between scoring and the final rank window: (a) the
    exchange, and (b) the map-side SORT of each partition's full pair
    set feeding Spark's ``WindowGroupLimit(Partial)`` (which Spark 4
    inserts automatically and which already bounds the exchange at
    k·|Q| rows per partition). This stage removes cost (b): a pandas
    heap-cut trims each partition to k·|Q| rows in the narrow stage, so
    the JVM sorts k·|Q| rows instead of the partition's whole pair
    matrix — the win grows with per-partition pair volume (brute force:
    all |C|·|Q|/partitions pairs; IVF: |C|·n_probe/n_cells per query).

    The global top-k by a TOTAL order (cos desc NULLS LAST, c_id asc) is
    contained in the union of per-partition top-ks by the same order, so
    the output is hash-identical: the final window recomputes exact
    ranks over the surviving rows. NULL cos (zero-norm pairs) sorts
    last, matching ``F.desc``'s NULLS LAST in the final window.
    """
    import numpy as np
    import pyarrow as pa

    def cut(batches):
        # Arrow-native flat numpy arrays: one lexsort + one run-length
        # head-k per re-cut. Two measured costs removed vs the earlier
        # pandas formulation (guide §4.2): the per-batch pandas frame
        # construction/blocks on BOTH sides of the worker boundary
        # (mapInPandas identity costs ~0.5 s/stage at 32 tasks where
        # mapInArrow costs ~0.13 s), and sort_values + groupby().head
        # (~2× a lexsort). NULL cos ↔ NaN round-trips exactly: the JVM
        # side never produces NaN (the zero-norm when() yields NULL), so
        # NaN in means NULL out.
        acc_q = acc_c = acc_s = None
        for b in batches:
            if b.num_rows == 0:
                continue
            q = b.column("q_id").to_numpy(zero_copy_only=True)
            c = b.column("c_id").to_numpy(zero_copy_only=True)
            s = b.column("cos").to_numpy(zero_copy_only=False)  # NULL → NaN
            if acc_q is not None:  # re-cut per batch: memory ≤ k·|Q| + batch
                q = np.concatenate([acc_q, q])
                c = np.concatenate([acc_c, c])
                s = np.concatenate([acc_s, s])
            # NaN (zero-norm pair → NULL downstream) must sort LAST like
            # F.desc's NULLS LAST, not by raw-NaN comparison semantics
            key = np.where(np.isnan(s), -np.inf, s)
            order = np.lexsort((c, -key, q))  # q asc, cos desc, c asc
            q, c, s = q[order], c[order], s[order]
            first = np.empty(len(q), dtype=bool)
            first[0] = True
            first[1:] = q[1:] != q[:-1]
            idx = np.arange(len(q))
            group_start = np.maximum.accumulate(np.where(first, idx, 0))
            keep = (idx - group_start) < k
            acc_q, acc_c, acc_s = q[keep], c[keep], s[keep]
        if acc_q is not None and len(acc_q):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(acc_q, type=pa.int64()),
                    pa.array(acc_c, type=pa.int64()),
                    # from_pandas=True: NaN (was NULL cos) → Arrow null
                    pa.array(acc_s, type=pa.float64(), from_pandas=True),
                ],
                names=["q_id", "c_id", "cos"],
            )

    return scored.mapInArrow(cut, "q_id long, c_id long, cos double")


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int, dim: int = DIM
) -> DataFrame:
    """Exact top-k neighbours per query by cosine (desc, c_id tiebreak).

    The per-pair scoring stage is narrow (candidates stream, queries
    broadcast); :func:`_partial_topk` trims each partition to k·|Q| rows
    before the rank window's sort, and the one exchange carries
    ≤ k·|Q|·partitions rows (plan-verified)."""
    return _topk(
        _partial_topk(_scored(_pairs(queries, candidates, None, dim), dim), k), k
    )


def lsh_topk(
    queries: DataFrame, candidates: DataFrame, k: int, n_bits: int = 4, dim: int = 64
) -> DataFrame:
    """Approximate top-k: candidates considered only within the query's
    LSH bucket. Same output shape as :func:`brute_force_topk`."""
    q = queries.withColumn("bucket", lsh_bucket(as_double(F.col("embedding")), n_bits, dim))
    c = candidates.withColumn("bucket", lsh_bucket(as_double(F.col("embedding")), n_bits, dim))
    return _topk(_scored(_pairs(q, c, ["bucket"])), k)


def lsh_multiprobe_topk(
    queries: DataFrame, candidates: DataFrame, k: int, n_bits: int = 4, dim: int = 64
) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007, public): each query probes its
    own bucket PLUS every 1-bit-flip neighbour — the buckets a true
    neighbour most likely fell into when one hyperplane disagreed. That
    buys (n_bits+1)x the scanned candidates WITHOUT more hash tables —
    the memory-free way to climb the recall curve (more tables = more
    index storage; more probes = more scan, same index). Candidates
    still live in exactly one bucket, so no pair can repeat and no
    dedup step is needed."""
    q = queries.withColumn(
        "b0", lsh_bucket(as_double(F.col("embedding")), n_bits, dim)
    )
    variants = F.array(
        F.col("b0"), *[F.col("b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    )
    q = q.withColumn("bucket", F.explode(variants)).drop("b0")
    c = candidates.withColumn(
        "bucket", lsh_bucket(as_double(F.col("embedding")), n_bits, dim)
    )
    return _topk(_scored(_pairs(q, c, ["bucket"])), k)


def _ivf_assigned(df: DataFrame, n_cells: int, dim: int) -> DataFrame:
    """(…, _cs, cell): argmax-cosine cell assignment against the
    deterministic pseudo-centroids — the ONE Column definition of IVF
    cell assignment (first max wins). :func:`_cell_rows_np` is its numpy
    twin."""
    from ..functions.vectors import cell_scores

    s = cell_scores(as_double(F.col("embedding")), n_cells, dim)
    return df.withColumn("_cs", s).withColumn(
        "cell",
        F.array_position(F.col("_cs"), F.array_max(F.col("_cs"))).cast("int"),
    )


def _probe_cell_cols(n_probe: int) -> list:
    """The ONE Column definition of IVF probe selection: repeated argmax
    over the ``_cs`` centroid-score array, masking each taken score by
    VALUE (not position) — it mirrors cleanly into SQL, and under
    exact-double ties both tied slots mask together, deterministically on
    both engines. Element i is the 1-based cell id of the i-th probe.
    When every remaining score ties (e.g. a constant embedding), repeated
    argmax re-yields the SAME cell; :func:`_ivf_probes` dedups with
    keep-first ``array_distinct``. :func:`_probe_rank_np` is the numpy
    twin."""

    def masked(prev):
        # NB single-arg lambda: a two-arg lambda would be read by the HOF
        # as (element, index)
        return F.transform(
            prev,
            lambda x: F.when(x == F.array_max(prev), F.lit(-1e18)).otherwise(x),
        )

    probe_cols = []
    cur = F.col("_cs")
    for _ in range(n_probe):
        probe_cols.append(F.array_position(cur, F.array_max(cur)).cast("int"))
        cur = masked(cur)
    return probe_cols


def _ivf_probes(assigned_q: DataFrame, n_probe: int) -> DataFrame:
    """Explode each :func:`_ivf_assigned` query row to its distinct
    probed cells (:func:`_probe_cell_cols` + ``array_distinct``: without
    the dedup a re-probed cell would join each candidate pair twice and
    fill top-k slots twice)."""
    return assigned_q.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array_distinct(F.array(*_probe_cell_cols(n_probe)))
        ).alias("cell"),
    )


def _probe_rank_np(qm, n_cells: int, n_probe: int, dim: int):
    """Numpy twin of :func:`_probe_cell_cols` + keep-first dedup for a
    float64 query matrix ``qm``: the (n_cells+1, nq) int32 table whose
    entry [c, j] is the probe position (1..n_probe) at which query j
    first reaches 1-based cell c, 0 = not probed (row 0 is unused).
    Scores come from the bit-exact ``cell_scores_np`` fold, so the probed
    cells match the engine expressions exactly. Probe sets are nested:
    depth p probes exactly the cells with ``1 <= rank <= p``."""
    import numpy as np

    from ..functions.vectors import cell_scores_np

    cs_q = cell_scores_np(qm, n_cells, dim)
    rank = np.zeros((n_cells + 1, qm.shape[0]), dtype=np.int32)
    for j in range(qm.shape[0]):
        s = cs_q[j].copy()
        for pos in range(1, n_probe + 1):
            c = int(s.argmax()) + 1
            if rank[c, j] == 0:
                rank[c, j] = pos
            s = np.where(s == s.max(), -1e18, s)
    return rank


def _cell_rows_np(cm, table, n_cells: int, dim: int):
    """``table`` rows (indexed by 1-based cell, e.g. a
    :func:`_probe_rank_np` table) for each candidate row of ``cm``: the
    numpy twin of :func:`_ivf_assigned` (first-max argmax of the
    bit-exact ``cell_scores_np``)."""
    from ..functions.vectors import cell_scores_np

    return table[cell_scores_np(cm, n_cells, dim).argmax(axis=1) + 1]


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """IVF-style ANN: candidates are assigned to their argmax-cosine cell
    among ``n_cells`` deterministic pseudo-centroids; each query probes
    its top-``n_probe`` cells. Candidates meet queries only within a
    probed cell — an integer equi-join, like :func:`lsh_topk` but with
    data-adaptive regions instead of fixed hyperplane signs, and a
    recall knob (``n_probe``) that costs probes, not an index rebuild.

    At 100 TB the shape is: assign + write candidates partitioned by
    cell once (`partitionBy("cell")`), then every query batch prunes to
    ``n_probe`` partitions — scan IO drops by n_cells/n_probe. Centroids
    are md5-derived literals (no trained state to ship); a k-means
    refinement would only change the literals.
    """
    from .skew import fan_out

    c = _ivf_assigned(fan_out(candidates), n_cells, dim).select(
        "vec_id", "embedding", "cell"
    )
    q = _ivf_probes(_ivf_assigned(queries, n_cells, dim), n_probe)
    # NO partial cut before the rank window (r12 re-measurement): Spark
    # 4's WindowGroupLimit(Partial) already bounds the exchange at k·|Q|
    # rows per partition, so the Arrow cut only saved the map-side sort
    # — and with the AQE 64KB floor spreading the cell-join stage across
    # full cluster width, the cut's Python-boundary latency now COSTS
    # more than that sort (A/B at sf0.1: 2.25 s with cut vs 1.86-1.93 s
    # without, two interleaved runs, results identical). The cut still
    # pays off where per-partition pair volume is the full |C|·|Q|
    # cross product (brute force, PQ/SQ8 flat scans) — those keep it.
    return _topk(_scored(_pairs(q, c, ["cell"])), k)


def build_lsh_index(
    candidates: DataFrame, path: str, n_bits: int = 4, dim: int = DIM
) -> None:
    """One-time sign-LSH index build: bucket every candidate by its
    hyperplane-sign code and persist partitioned by bucket. Hyperplanes
    are md5-derived literals, so the index needs no model artifact —
    rebuilding with the same ``n_bits`` always lands rows in the same
    buckets."""
    c = candidates.withColumn(
        "bucket", lsh_bucket(as_double(F.col("embedding")), n_bits, dim)
    )
    c.select("vec_id", "embedding", "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def query_lsh_index(
    queries: DataFrame, path: str, k: int, n_bits: int = 4, dim: int = DIM
) -> DataFrame:
    """Serve LSH ANN off a persisted :func:`build_lsh_index` layout with
    partition pruning to the query batch's buckets — same results as the
    index-free :func:`lsh_topk`, scanning only |query buckets| / 2^bits
    of the index files."""
    spark = queries.sparkSession
    q = queries.withColumn(
        "bucket", lsh_bucket(as_double(F.col("embedding")), n_bits, dim)
    )
    buckets = [r["bucket"] for r in q.select("bucket").distinct().collect()]
    c = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return _topk(_scored(_pairs(q, c, ["bucket"])), k)


def build_ivf_index(
    candidates: DataFrame, path: str, n_cells: int = 8, dim: int = DIM
) -> None:
    """One-time IVF index build: assign every candidate to its
    argmax-cosine cell among the deterministic pseudo-centroids and
    persist partitioned by cell (``partitionBy("cell")``) — the layout
    every later query batch prunes against. At 100 TB this runs once per
    corpus snapshot; queries then scan only ``n_probe/n_cells`` of the
    files (verified by the PartitionFilters plan assertion in
    ``tests/test_plans.py``)."""
    _ivf_assigned(candidates, n_cells, dim).select(
        "vec_id", "embedding", "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(path)


def append_to_ivf_index(
    new_candidates: DataFrame, path: str, n_cells: int = 8, dim: int = DIM
) -> None:
    """Incremental index maintenance: assign ONLY the new vectors and
    append their files into the existing cell partitions — no rewrite of
    the standing index. Centroids are md5-derived literals, so the same
    vector lands in the same cell forever; a daily ingest appends its
    delta and every query batch sees the union. (Compaction of small
    appended files is an ordinary parquet-maintenance concern, orthogonal
    to correctness.)"""
    _ivf_assigned(new_candidates, n_cells, dim).select(
        "vec_id", "embedding", "cell"
    ).write.mode("append").partitionBy("cell").parquet(path)


def query_ivf_index(
    queries: DataFrame,
    path: str,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Serve ANN queries off a persisted :func:`build_ivf_index` layout.

    The query batch's probed cells are collected driver-side (bounded by
    ``n_probe · |Q|`` ints — the ANN contract keeps queries the small
    side) and pushed into the index scan as a partition filter, so the
    read touches only the probed cells' files. Scoring/top-k is then
    identical to :func:`ivf_topk` — same probes, same tie-break, same
    quantization — so results match the index-free form exactly."""
    spark = queries.sparkSession
    q = _ivf_probes(_ivf_assigned(queries, n_cells, dim), n_probe)
    cells = [r["cell"] for r in q.select("cell").distinct().collect()]
    c = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    return _topk(_scored(_pairs(q, c, ["cell"])), k)


def _collect_queries(queries: DataFrame):
    """(q_ids, qm, qn) — the query side collected to the driver as int64
    ids, a dense float64 (nq, dim) matrix and its row norms — or None
    when there are no queries (each caller returns its own empty
    result). The ANN contract keeps queries the small side, the same
    cardinality assumption as a broadcast join; a query side over
    :data:`MAX_QUERY_ROWS` raises ``ValueError`` instead of being
    collected whole."""
    import numpy as np

    q_pd = queries.select("vec_id", "embedding").limit(MAX_QUERY_ROWS + 1).toPandas()
    if len(q_pd) > MAX_QUERY_ROWS:
        raise ValueError(
            f"query side has more than MAX_QUERY_ROWS={MAX_QUERY_ROWS} rows; "
            "the ANN scans collect every query to the driver"
        )
    if len(q_pd) == 0:
        return None
    q_ids = q_pd["vec_id"].to_numpy(dtype=np.int64)
    qm = np.array([np.asarray(v, dtype=np.float64) for v in q_pd["embedding"]])
    qn = np.sqrt((qm * qm).sum(axis=1))
    return q_ids, qm, qn


def _batch_matrix(rb):
    """Arrow batch ``embedding`` list<float> column → (n, dim) float64
    via ONE flat-buffer reshape (``flatten()`` respects batch slicing
    offsets) — a per-row ``np.asarray`` loop was the scorer's top cost
    outside the matmul; the float32 → float64 upcast is exact."""
    import numpy as np

    return (
        rb.column("embedding")
        .flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(rb.num_rows, -1)
    )


def _cos_matrix_np(cm, qm, qn):
    """(n, nq) cosines of the rows of ``cm`` against the queries ``qm``
    (norms ``qn``), floor-quantized to 6 dp like the Catalyst path
    (np.round is half-even on the binary value — a different boundary
    rule). Zero-norm pairs become NaN here and NULL on yield, matching
    the fold path's when()-guard."""
    import numpy as np

    cn = np.sqrt((cm * cm).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.floor((cm @ qm.T) / (cn[:, None] * qn[None, :]) * 1e6) / 1e6


def _topk_cut_np(c_ids, scores, k: int):
    """(c_ids, scores) of one query's top-k by (score desc, NaN last,
    c_id asc) — the engine windows' tie-break. NaN (zero-norm pair →
    NULL downstream) must sort LAST deterministically: raw NaN
    comparisons would make a per-batch cut depend on row order / batch
    split. Every row tied with the k-th largest score survives the
    partition step so the c_id tie-break sees all of them."""
    import numpy as np

    sel = np.where(np.isnan(scores), -np.inf, scores)
    if len(c_ids) > k:
        thr = np.partition(sel, len(sel) - k)[len(sel) - k]
        keep = sel >= thr
        c_ids, scores, sel = c_ids[keep], scores[keep], sel[keep]
    order = np.lexsort((c_ids, -sel))[:k]
    return c_ids[order], scores[order]


def brute_force_topk_np(
    queries: DataFrame, candidates: DataFrame, k: int, dim: int = DIM
) -> DataFrame:
    """Exact cosine top-k, numpy matmul scale path.

    The query side is collected to the driver and broadcast as one dense
    float64 matrix (the ANN contract: queries are the small side — same
    cardinality assumption as the broadcast join in
    :func:`brute_force_topk`, just materialized as numpy instead of a
    Catalyst broadcast). Candidates stream through ``mapInArrow``: each
    Arrow batch does ONE (batch × dim) @ (dim × nq) BLAS matmul and emits
    only its per-query top-k rows, so the shuffle into the final global
    top-k carries at most ``k · n_queries`` rows *per input partition* —
    independent of candidate count. At 100 TB this is the path: per-row
    HOF folds are O(dim) interpreted loop iterations per pair, the matmul
    is vectorized SIMD over the whole batch.

    Values are floor-quantized to 6dp like the fold path; float64 matmul
    vs sequential fold agree at that precision (verified empirically
    against :func:`brute_force_topk` in tests — disagreement would need a
    true value within ~1e-15 of a quantization boundary).
    """
    import numpy as np
    import pyarrow as pa

    collected = _collect_queries(queries)
    spark = queries.sparkSession
    if collected is None:
        # empty query set: the fold path returns an empty frame; a (0,)
        # qm would crash the matmul (and np.concatenate([]) the emit)
        return spark.createDataFrame([], "q_id long, c_id long, cos double, rn int")
    b = spark.sparkContext.broadcast(collected)

    def score(batches):
        q_ids, qm, qn = b.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            s = _cos_matrix_np(_batch_matrix(rb), qm, qn)
            c_ids = rb.column("vec_id").to_numpy(zero_copy_only=True)
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                mask = c_ids != q_ids[j]
                cc, cs = _topk_cut_np(c_ids[mask], s[:, j][mask], k)
                out_q.append(np.full(len(cc), q_ids[j]))
                out_c.append(cc)
                out_s.append(cs)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.int64()),
                    # NaN (zero-norm pair) → NULL, like the fold path
                    pa.array(np.concatenate(out_s), type=pa.float64(), from_pandas=True),
                ],
                names=["q_id", "c_id", "cos"],
            )

    from .skew import fan_out

    reduced = fan_out(candidates.select("vec_id", "embedding")).mapInArrow(
        score, "q_id long, c_id long, cos double"
    )
    return _topk(reduced, k)


def _pq_encode(
    candidates: DataFrame,
    n_sub: int,
    n_codes: int,
    dim: int,
    passthrough: tuple = (),
) -> DataFrame:
    """(c_id, codes[, passthrough...]) for every candidate: argmax-dot
    code per subspace, 1-based like the DuckDB twin's ``list_position``.
    ``passthrough`` names integer columns carried through unchanged
    (e.g. the IVF cell for :func:`ivfpq_topk`).

    Arrow-batched numpy, not a Catalyst expression: the unrolled
    codebook dots blow Janino's 64 KB method ceiling and de-optimize
    the whole fused stage to interpreted row evaluation (see
    :func:`..functions.vectors.pq_scores_np` for the measurement). The
    fold order inside ``pq_scores_np`` is bit-identical to the SQL
    twin, so argmax ties resolve identically on both engines
    (``np.argmax`` and ``list_position(s, list_max(s))`` both take the
    FIRST maximum)."""
    import numpy as np
    import pyarrow as pa

    from ..functions.vectors import pq_scores_np

    subdim = dim // n_sub

    def enc(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = _batch_matrix(rb)
            codes = np.empty((rb.num_rows, n_sub), dtype=np.int32)
            for m in range(n_sub):
                s = pq_scores_np(V, m, n_codes, subdim)
                codes[:, m] = s.argmax(axis=1) + 1
            arrays = [
                rb.column("vec_id").cast(pa.int64()),
                # fixed-width codes as one flat buffer + constant offsets
                pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (rb.num_rows + 1) * n_sub, n_sub),
                        type=pa.int32(),
                    ),
                    pa.array(codes.ravel(), type=pa.int32()),
                ),
            ]
            names = ["c_id", "codes"]
            for col in passthrough:
                arrays.append(rb.column(col))
                names.append(col)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    from .skew import fan_out

    schema = "c_id long, codes array<int>" + "".join(
        f", {c} int" for c in passthrough
    )
    return fan_out(
        candidates.select("vec_id", "embedding", *passthrough)
    ).mapInArrow(enc, schema)


def _pq_query_frame(
    queries: DataFrame, n_sub: int, n_codes: int, dim: int
) -> DataFrame:
    """(q_id, qd) for every query: the ADC lookup tables — ``n_sub``
    arrays of ``n_codes`` subspace dots — computed driver-side with the
    same bit-exact fold as :func:`_pq_encode` and shipped back as a
    small DataFrame for the broadcast side of the pair join (the ANN
    contract: queries are the small side, same assumption as
    :func:`brute_force_topk_np`'s driver collect)."""
    import pandas as pd

    from ..functions.vectors import pq_scores_np

    spark = queries.sparkSession
    subdim = dim // n_sub
    collected = _collect_queries(queries)
    schema = "q_id long, qd array<array<double>>"
    if collected is None:
        return spark.createDataFrame([], schema)
    q_ids, V, _ = collected
    tabs = [pq_scores_np(V, m, n_codes, subdim) for m in range(n_sub)]
    qd = [[tabs[m][r].tolist() for m in range(n_sub)] for r in range(len(q_ids))]
    return spark.createDataFrame(pd.DataFrame({"q_id": q_ids, "qd": qd}), schema)


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Product-quantization ANN: asymmetric-distance (ADC) top-k.

    Candidates are ENCODED once — per subspace, the argmax-dot (==
    argmin-L2: the codebook centroids are unit-norm, see
    ``pq_codebook``) code among ``n_codes`` deterministic centroids —
    so the index row is ``n_sub`` small ints instead of ``dim`` floats
    (64 B → 8 B here: the 100 TB story is a corpus-sized index that fits
    in a fraction of the raw embedding footprint). Queries compute one
    lookup table of ``n_sub × n_codes`` dots; each pair then costs
    ``n_sub`` table lookups + adds instead of a ``dim``-length dot.

    The ADC score folds dot(q_sub_m, centroid[codes[m]]) over subspaces —
    the PQ approximation of the query-candidate cosine numerator against
    the candidate's quantized unit reconstruction (ranking per query is
    scale-invariant in both sides' norms). Approximation quality is
    measured, not assumed: ``ann_pq_recall`` reports recall@k vs the
    exact path. Same pair shape as :func:`brute_force_topk` (queries
    broadcast, candidates narrow), so :func:`_partial_topk` bounds the
    exchange at k·|Q| rows per partition.
    """
    from ..functions.vectors import pq_adc_score

    q = _pq_query_frame(queries, n_sub, n_codes, dim)
    c = _pq_encode(candidates, n_sub, n_codes, dim)
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        quantize(pq_adc_score(F.col("qd"), F.col("codes")), 6).alias("cos"),
    )
    return (
        _topk(_partial_topk(scored, k), k)
        .select("q_id", "c_id", F.col("cos").alias("pq_sim"), "rn")
    )


def build_pq_index(
    candidates: DataFrame,
    path: str,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> None:
    """One-time PQ index build: encode every candidate to its
    ``n_sub``-int code array and persist ONLY (vec_id, codes) — the
    8-byte-per-vector layout ADC serving scans instead of the raw
    embeddings. Codebooks are md5-derived literals, so re-encoding is
    reproducible and the index needs no model artifact."""
    _pq_encode(candidates, n_sub, n_codes, dim).select(
        F.col("c_id").alias("vec_id"), "codes"
    ).write.mode("overwrite").parquet(path)


def query_pq_index(
    queries: DataFrame,
    path: str,
    k: int,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Serve ADC top-k off a persisted :func:`build_pq_index` layout —
    scans codes only (no embedding column touched), same scores and
    tie-break as the index-free :func:`pq_topk`."""
    from ..functions.vectors import pq_adc_score

    spark = queries.sparkSession
    q = _pq_query_frame(queries, n_sub, n_codes, dim)
    c = spark.read.parquet(path).select(F.col("vec_id").alias("c_id"), "codes")
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        quantize(pq_adc_score(F.col("qd"), F.col("codes")), 6).alias("cos"),
    )
    return (
        _topk(_partial_topk(scored, k), k)
        .select("q_id", "c_id", F.col("cos").alias("pq_sim"), "rn")
    )


def sq8_stats(candidates: DataFrame, dim: int = DIM) -> DataFrame:
    """One-row frame (mns, mxs): per-dimension min/max over the corpus —
    the SQ8 training step. posexplode → per-dim agg (map-side combine; the
    shuffle carries ≤ dim·partitions rows) → reassembled into two ordered
    arrays. min/max are order-invariant, so the stats are engine-exact.

    100 TB shape: one full scan with a dim-row aggregate — the same cost
    class as any corpus statistic; the result is a broadcast literal."""
    per_dim = (
        candidates.select(
            F.posexplode(as_double(F.col("embedding"))).alias("j", "x")
        )
        .groupBy("j")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    # array_sort on struct(j, …) orders by j, so mns[i+1] pairs with vec[i+1]
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def sq8_topk(
    queries: DataFrame, candidates: DataFrame, k: int, dim: int = DIM
) -> DataFrame:
    """ANN top-k over SQ8 scalar-quantized candidates: each candidate
    dimension is squeezed to an 8-bit code against the corpus min/max
    (``sq8_stats``), queries stay full precision — the standard
    asymmetric SQ search (code the corpus, not the query).

    Scale story: SQ8's point is the SCAN — int8 codes are 4× smaller
    than float32, so the memory-bandwidth-bound brute scan reads 4× less
    (and composes with IVF cell pruning the same way PQ does). Here the
    scan shape matches :func:`brute_force_topk` (queries broadcast,
    candidates stream, per-partition partial top-k before the one
    bounded exchange); what this operator adds is the quantized scoring
    path whose ranking fidelity ``ann_sq8_recall`` measures."""
    from .skew import fan_out

    stats = sq8_stats(candidates, dim)
    c = (
        fan_out(candidates)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("vec_id").alias("c_id"),
            sq8_requant(
                as_double(F.col("embedding")), F.col("mns"), F.col("mxs"), dim
            ).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv"), dim))
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    return _topk(_partial_topk(_scored(pairs), k), k)


def build_sq8_index(candidates: DataFrame, path: str, dim: int = DIM) -> None:
    """One-time SQ8 index build: persist the corpus per-dimension
    [min, max] stats (one row, ``<path>/stats``) and every vector's
    8-bit codes as a signed ``array<tinyint>`` (``<path>/codes``) — one
    byte per dimension on disk vs four for float32, the bandwidth win
    SQ8 exists for. Codes are a pure function of (vector, stats), so
    rebuilding over the same corpus reproduces the index bit-for-bit."""
    from ..functions.vectors import sq8_codes

    stats = sq8_stats(candidates, dim)
    stats.write.mode("overwrite").parquet(f"{path}/stats")
    spark = candidates.sparkSession
    st = spark.read.parquet(f"{path}/stats")  # read back: one scan, reused
    codes = (
        candidates.crossJoin(F.broadcast(st))
        .select(
            "vec_id",
            sq8_codes(
                as_double(F.col("embedding")), F.col("mns"), F.col("mxs"), dim
            ).alias("codes"),
        )
    )
    codes.write.mode("overwrite").parquet(f"{path}/codes")


def query_sq8_index(
    queries: DataFrame, path: str, k: int, dim: int = DIM
) -> DataFrame:
    """Serve SQ8 ANN off a persisted :func:`build_sq8_index` layout: the
    scan reads the 1-byte-per-dim codes table (4× less IO than raw
    embeddings), decodes in-flight with the persisted stats, and scores
    exactly like :func:`sq8_topk` — same quantization, same tie-break,
    so the index-served ranking hash-matches the index-free one."""
    from .skew import fan_out
    from ..functions.vectors import sq8_from_codes

    spark = queries.sparkSession
    st = spark.read.parquet(f"{path}/stats")
    codes = spark.read.parquet(f"{path}/codes")
    c = (
        fan_out(codes)
        .crossJoin(F.broadcast(st))
        .select(
            F.col("vec_id").alias("c_id"),
            sq8_from_codes(
                F.col("codes"), F.col("mns"), F.col("mxs"), dim
            ).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv"), dim))
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    return _topk(_partial_topk(_scored(pairs), k), k)


def ivf_sq8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """IVF cell pruning COMPOSED with SQ8 scan compression — the answer
    to the ×10-replica certification flags (SCALE_X10_HEADLINE.json):
    the flat SQ8 scan is |Q|·|C| pairs by construction (both sides grow
    k× ⇒ k² pair growth, 15-18× wall at ×10), exactly like the brute
    meter it mirrors. Celling the coded corpus bounds each query's scan
    to ``n_probe/n_cells`` of the codes, turning the decade curve back
    into the IVF family's ~linear one, while the scan itself still reads
    8-bit codes (4× less bandwidth than float32) — the standard
    IVF+SQ8 production pairing (FAISS ``IVFx,SQ8``).

    Semantics: cell assignment uses the FULL-precision vectors (the
    index key must not move when the codec changes); scoring is the
    asymmetric SQ8 search of :func:`sq8_topk` (corpus coded, query
    full precision); probes/tie-breaks are :func:`ivf_topk`'s. Each
    piece is engine-exact, so the composition hash-matches DuckDB."""
    stats = sq8_stats(candidates, dim)
    from .skew import fan_out

    c = (
        _ivf_assigned(fan_out(candidates), n_cells, dim)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("vec_id").alias("c_id"),
            "cell",
            sq8_requant(
                as_double(F.col("embedding")), F.col("mns"), F.col("mxs"), dim
            ).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv"), dim))
    )
    q = _ivf_probes(_ivf_assigned(queries, n_cells, dim), n_probe).select(
        F.col("vec_id").alias("q_id"),
        "cell",
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
    )
    pairs = c.join(F.broadcast(q), ["cell"]).filter(
        F.col("q_id") != F.col("c_id")
    )
    # no partial cut: cell-pruned pair volume (see ivf_topk — A/B at
    # sf0.1: 2.67 s with cut vs 2.19 s without, results identical)
    return _topk(_scored(pairs), k)


def build_ivf_sq8_index(
    candidates: DataFrame, path: str, n_cells: int = 8, dim: int = DIM
) -> None:
    """One-time IVF+SQ8 index build: persist the corpus per-dimension
    [min, max] stats (one row, ``<path>/stats``) and every vector's
    8-bit codes partitioned by IVF cell (``<path>/codes``,
    ``partitionBy("cell")``). The layout composes both serve-time wins:
    queries prune to ``n_probe/n_cells`` of the FILES (partition
    filter), and the files they do read are 1-byte-per-dim codes (4×
    less IO than float32). Codes and cells are pure functions of
    (vector, stats, centroid literals), so a rebuild over the same
    corpus reproduces the index bit-for-bit."""
    from ..functions.vectors import sq8_codes

    stats = sq8_stats(candidates, dim)
    stats.write.mode("overwrite").parquet(f"{path}/stats")
    spark = candidates.sparkSession
    st = spark.read.parquet(f"{path}/stats")
    (
        _ivf_assigned(candidates, n_cells, dim)
        .crossJoin(F.broadcast(st))
        .select(
            "vec_id",
            "cell",
            sq8_codes(
                as_double(F.col("embedding")), F.col("mns"), F.col("mxs"), dim
            ).alias("codes"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def query_ivf_sq8_index(
    queries: DataFrame,
    path: str,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Serve off a persisted :func:`build_ivf_sq8_index` layout: the
    query batch's probed cells are collected driver-side (bounded by
    ``n_probe · |Q|`` ints — the ANN contract keeps queries the small
    side) and pushed into the codes scan as a partition filter; codes
    decode in-flight against the persisted stats. Same probes, same
    asymmetric scoring, same tie-break as :func:`ivf_sq8_topk`, so the
    index-served ranking hash-matches the index-free one."""
    from ..functions.vectors import sq8_from_codes

    spark = queries.sparkSession
    st = spark.read.parquet(f"{path}/stats")
    q = _ivf_probes(_ivf_assigned(queries, n_cells, dim), n_probe).select(
        F.col("vec_id").alias("q_id"),
        "cell",
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
    )
    cells = [r["cell"] for r in q.select("cell").distinct().collect()]
    from .skew import fan_out

    c = (
        fan_out(
            spark.read.parquet(f"{path}/codes").filter(
                F.col("cell").isin(cells)
            )
        )
        .crossJoin(F.broadcast(st))
        .select(
            F.col("vec_id").alias("c_id"),
            "cell",
            sq8_from_codes(
                F.col("codes"), F.col("mns"), F.col("mxs"), dim
            ).alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv"), dim))
    )
    pairs = c.join(F.broadcast(q), ["cell"]).filter(
        F.col("q_id") != F.col("c_id")
    )
    return _topk(_partial_topk(_scored(pairs), k), k)


def bitext_margin_pairs(
    queries: DataFrame,
    src: DataFrame,
    tgt: DataFrame,
    k: int = 8,
    top: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-pair miner): for each source vector, score
    target candidates by the RATIO margin

        margin(x, y) = cos(x, y) / ((avgA(x) + avgB(y)) / 2)

    where avgA(x) is the mean cosine of x to its k nearest targets and
    avgB(y) the mean cosine of y to its k nearest sources — the
    normalization that suppresses hubness (a y close to everything has
    a high avgB, so raw-cosine hubs stop winning every query).

    Scale shape: BOTH neighborhoods come from bounded IVF probe scans —
    the forward pool is one :func:`ivf_topk` over the target side, the
    backward pool another over the source side with the ≤ |Q|·k pooled
    targets as queries — so nothing all-pairs exists anywhere, exactly
    how production bitext mining shards at billions of sentences.

    Determinism: quantized cosines are converted to exact micro-integer
    units (floor(cos·10⁶) — identical doubles in, identical BIGINT
    out on both engines), neighborhood sums/counts are pure integer
    arithmetic, and the ratio is computed as ONE exact-integer division
    2·micro·n_x·n_y / (s_x·n_y + s_y·n_x), quantized at 6 dp. Rows
    with a non-positive denominator (all-negative neighborhoods) are
    dropped on both engines.

    Returns (q_id, rank, c_id, cos, margin): the ``top`` best-margin
    target pairs per source query."""
    micro = (F.floor(F.col("cos") * F.lit(1000000.0))).cast("long")
    # fwd feeds three consumers (xstat, the backward query set ys, the
    # final scored join), but all three contain the SAME un-pruned
    # window-input exchange, so ReuseExchange dedups the forward IVF
    # scan — an eager_persist here was A/B-measured 0.5 s SLOWER at
    # sf0.1 (it serializes the plan behind a count job for no saved
    # work). Contrast retrieval_hard_negatives, where column pruning
    # differentiates the consumers' exchanges and a persist IS the fix.
    fwd = (
        ivf_topk(queries, tgt, k, n_cells=n_cells, n_probe=n_probe, dim=dim)
        .filter(F.col("cos").isNotNull())
        .withColumn("micro", micro)
    )
    xstat = fwd.groupBy("q_id").agg(
        F.sum("micro").alias("sx"), F.count(F.lit(1)).alias("nx")
    )
    ys = tgt.join(
        fwd.select(F.col("c_id").alias("vec_id")).distinct(), "vec_id"
    )
    bwd = (
        ivf_topk(ys, src, k, n_cells=n_cells, n_probe=n_probe, dim=dim)
        .filter(F.col("cos").isNotNull())
        .withColumn("micro", micro)
    )
    ystat = bwd.groupBy("q_id").agg(
        F.sum("micro").alias("sy"), F.count(F.lit(1)).alias("ny")
    ).withColumnRenamed("q_id", "c_id")
    denom = F.col("sx") * F.col("ny") + F.col("sy") * F.col("nx")
    margin = quantize(
        (F.lit(2) * F.col("micro") * F.col("nx") * F.col("ny")).cast("double")
        / denom,
        6,
    )
    scored = (
        fwd.join(xstat, "q_id")
        .join(ystat, "c_id")
        .filter(denom > 0)
        .select("q_id", "c_id", "cos", margin.alias("margin"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("margin"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top)
        .select("q_id", "rank", "c_id", "cos", "margin")
    )


def _tagged_topk_scan(
    candidates: DataFrame, k: int, collected, payload, rankings
) -> DataFrame:
    """(tag, q_id, c_id, cos, rn): several per-query top-k rankings of
    the same candidates from ONE scan and ONE score matrix per Arrow
    batch — the shared body of the fused recall meters and
    the probe sweep.

    ``collected`` is :func:`_collect_queries`' (q_ids, qm, qn); it and
    ``payload`` are broadcast. Per batch, ``rankings(cm, s, qm, qn,
    payload)`` gets the candidate matrix ``cm`` and its truth cosine
    matrix ``s`` and returns ``[(tag, elig, score), ...]``: ``elig`` an
    (n, nq) bool mask of the pairs that ranking may use (None = all) and
    ``score`` the (n, nq) matrix it ranks by. Each ranking is cut to k
    rows per (query, batch) by :func:`_topk_cut_np` — (score desc,
    NaN→NULL last, c_id asc), the engine windows' tie-break — so every
    emitted tag is k-bounded per (query, partition); one (tag, q_id)
    row_number window then finalizes each ranking's exact top-k."""
    import numpy as np
    import pyarrow as pa

    b = candidates.sparkSession.sparkContext.broadcast((*collected, payload))

    def score_fn(batches):
        q_ids, qm, qn, payload = b.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cm = _batch_matrix(rb)
            ranked = rankings(cm, _cos_matrix_np(cm, qm, qn), qm, qn, payload)
            c_ids = rb.column("vec_id").to_numpy(zero_copy_only=True)
            out_t, out_q, out_c, out_s = [], [], [], []
            for j in range(len(q_ids)):
                self_mask = c_ids != q_ids[j]
                for tag, elig, score in ranked:
                    mask = self_mask if elig is None else self_mask & elig[:, j]
                    cc, cs = _topk_cut_np(c_ids[mask], score[:, j][mask], k)
                    if len(cc) == 0:
                        continue
                    out_t.append(np.full(len(cc), tag, dtype=np.int32))
                    out_q.append(np.full(len(cc), q_ids[j]))
                    out_c.append(cc)
                    out_s.append(cs)
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_t), type=pa.int32()),
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64(), from_pandas=True),
                ],
                names=["tag", "q_id", "c_id", "cos"],
            )

    from .skew import fan_out

    reduced = fan_out(candidates.select("vec_id", "embedding")).mapInArrow(
        score_fn, "tag int, q_id long, c_id long, cos double"
    )
    w = Window.partitionBy("tag", "q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return reduced.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _fused_recall_meter(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    approx_prep,
    approx_batch,
) -> DataFrame:
    """Recall@k of an approximate ANN ranking vs brute-force truth from
    ONE candidate scan and ONE score matrix (:func:`_tagged_topk_scan`:
    tag 0 = truth, tag 1 = approx): the composed
    ``recall_at_k(brute_force_topk_np, <approx>_topk)`` meters each
    scanned the embeddings twice (matmul truth AND the approx pipeline —
    assignment/bucketing/encoding + join + fold scoring + its own
    window) and joined two k·|Q| frames. Fused: one fan_out exchange +
    one (tag, q_id) window + one aggregate.

    ``approx_prep(qm) -> payload`` runs driver-side (may launch tiny
    jobs, e.g. the SQ8 stats aggregate) and its result is broadcast.
    ``approx_batch(cm, qm, qn, payload) -> (elig, score)`` runs per Arrow
    batch: ``elig`` is an (n, nq) bool eligibility mask (None = all
    pairs eligible) and ``score`` an (n, nq) approx score matrix (None =
    rank by the brute cosine matrix — correct for the family whose
    approx ranking uses the true cosine within a pruned pair set: IVF /
    LSH).

    Determinism contract: eligibility/codes come from the bit-exact
    numpy fold twins (cell_scores_np / lsh_buckets_np / pq_scores_np /
    sq8_requant_np); cosine matrices are the accepted
    matmul-vs-fold-at-6dp class of :func:`brute_force_topk_np`
    (oracle-hash-verified per round); PQ/ADC approx scores are fully
    bit-exact (fixed-order 8-term fold + floor quantize)."""
    collected = _collect_queries(queries)
    if collected is None:
        # no queries → no truth rows: matched=0, total=0, recall NULL —
        # exactly recall_at_k's aggregate over an empty join
        return queries.sparkSession.createDataFrame(
            [(0, 0, None)], "matched long, total long, recall double"
        )

    def rankings(cm, s, qm, qn, payload):
        elig, approx_s = approx_batch(cm, qm, qn, payload)
        return [(0, None, s), (1, elig, s if approx_s is None else approx_s)]

    top = _tagged_topk_scan(
        candidates, k, collected, approx_prep(collected[1]), rankings
    )
    pair_flags = top.groupBy("q_id", "c_id").agg(
        F.max((F.col("tag") == 0).cast("int")).alias("in_b"),
        F.max((F.col("tag") == 1).cast("int")).alias("in_i"),
    )
    return pair_flags.agg(
        F.coalesce(F.sum(F.col("in_b") * F.col("in_i")), F.lit(0))
        .cast("long")
        .alias("matched"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("total"),
    ).select(
        "matched",
        "total",
        quantize(F.col("matched").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    )


def ivf_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of the IVF path (see :func:`_fused_recall_meter`):
    the IVF pair set is exactly the pairs whose candidate cell (argmax
    fold score, first max) is probed by the query; the approx ranking
    uses the same cosine matrix as the truth side. 7 exchanges / 2
    joins / 2 Python stages → the fused 3-exchange shape (3.99 s →
    1.22 s at sf0.1)."""

    def prep(qm):
        return _probe_rank_np(qm, n_cells, n_probe, dim) >= 1

    def batch(cm, qm, qn, elig):
        return _cell_rows_np(cm, elig, n_cells, dim), None

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def lsh_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_bits: int = 4,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of sign-LSH: eligible pairs share the hyperplane-
    sign bucket (``lsh_buckets_np`` — the bit-exact fold twin, so sign
    decisions match the engine exactly); ranking uses the true cosine
    within the bucket, like :func:`lsh_topk`."""
    from ..functions.vectors import lsh_buckets_np

    def prep(qm):
        return lsh_buckets_np(qm, n_bits, dim)

    def batch(cm, qm, qn, qb):
        cb = lsh_buckets_np(cm, n_bits, dim)
        return cb[:, None] == qb[None, :], None

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def lsh_multiprobe_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_bits: int = 4,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of multi-probe LSH: a candidate is eligible when
    its bucket is the query's bucket OR any 1-bit flip of it — the
    :func:`lsh_multiprobe_topk` probe set."""
    import numpy as np

    from ..functions.vectors import lsh_buckets_np

    def prep(qm):
        qb = lsh_buckets_np(qm, n_bits, dim)
        allowed = np.zeros((1 << n_bits, len(qb)), dtype=bool)
        for j, b0 in enumerate(qb):
            allowed[b0, j] = True
            for i in range(n_bits):
                allowed[b0 ^ (1 << i), j] = True
        return allowed

    def batch(cm, qm, qn, allowed):
        cb = lsh_buckets_np(cm, n_bits, dim)
        return allowed[cb], None

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def _pq_adc_matrix_np(cm, qm, n_sub: int, n_codes: int, dim: int):
    """(n, nq) quantized PQ/ADC scores — fully bit-exact vs the engine:
    codes are the first-argmax of the fold-order subspace scores
    (pq_scores_np), the ADC sum accumulates the ``n_sub`` lookups in
    fixed order from 0.0 exactly like the unrolled Column chain, and
    the 6dp floor-quantize is a single elementwise op."""
    import numpy as np

    from ..functions.vectors import pq_scores_np

    subdim = dim // n_sub
    acc = np.zeros((cm.shape[0], qm.shape[0]))
    for m in range(n_sub):
        codes_m = pq_scores_np(cm, m, n_codes, subdim).argmax(axis=1)
        tabs_m = pq_scores_np(qm, m, n_codes, subdim)  # (nq, n_codes)
        acc = acc + tabs_m[:, codes_m].T
    return np.floor(acc * 1e6) / 1e6


def pq_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of PQ/ADC: every pair eligible (flat compressed
    scan), approx ranking by the bit-exact ADC score matrix."""

    def prep(qm):
        return None

    def batch(cm, qm, qn, payload):
        return None, _pq_adc_matrix_np(cm, qm, n_sub, n_codes, dim)

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def ivfpq_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of the IVF+PQ composition: IVF probe eligibility ×
    ADC approx scores — both from their bit-exact numpy twins."""

    def prep(qm):
        return _probe_rank_np(qm, n_cells, n_probe, dim) >= 1

    def batch(cm, qm, qn, elig):
        return (
            _cell_rows_np(cm, elig, n_cells, dim),
            _pq_adc_matrix_np(cm, qm, n_sub, n_codes, dim),
        )

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def _sq8_stats_np(candidates: DataFrame, dim: int):
    """(mns, mxs) float64 arrays of :func:`sq8_stats`, collected to the
    driver (one tiny job; min/max are order-invariant, so the doubles are
    engine-exact)."""
    import numpy as np

    row = sq8_stats(candidates, dim).collect()[0]
    return (
        np.array(row["mns"], dtype=np.float64),
        np.array(row["mxs"], dtype=np.float64),
    )


def _sq8_score_matrix_np(cm, qm, qn, mns, mxs):
    """(n, nq) quantized asymmetric-SQ8 cosines: candidates requantized
    per dimension (sq8_requant_np — elementwise fixed-order IEEE, bit-
    identical to the Column/SQL forms), then the same floor-quantized
    cosine matrix as the truth side (matmul-vs-fold-at-6dp class)."""
    from ..functions.vectors import sq8_requant_np

    return _cos_matrix_np(sq8_requant_np(cm, mns, mxs), qm, qn)


def sq8_recall_fused(
    queries: DataFrame, candidates: DataFrame, k: int, dim: int = DIM
) -> DataFrame:
    """Fused recall@k of the SQ8 quantized scan: every pair eligible,
    approx ranking by the asymmetric cosine against requantized
    candidates. The per-dimension [min, max] stats still come from the
    engine aggregate."""

    def prep(qm):
        return _sq8_stats_np(candidates, dim)

    def batch(cm, qm, qn, stats):
        return None, _sq8_score_matrix_np(cm, qm, qn, *stats)

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def ivf_sq8_recall_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = DIM,
) -> DataFrame:
    """Fused recall@k of the IVF+SQ8 composition: IVF probe eligibility
    (cells assigned on FULL-precision vectors, as in ivf_sq8_topk) ×
    asymmetric-SQ8 approx scores."""

    def prep(qm):
        elig = _probe_rank_np(qm, n_cells, n_probe, dim) >= 1
        return (elig, *_sq8_stats_np(candidates, dim))

    def batch(cm, qm, qn, payload):
        elig, mns, mxs = payload
        return (
            _cell_rows_np(cm, elig, n_cells, dim),
            _sq8_score_matrix_np(cm, qm, qn, mns, mxs),
        )

    return _fused_recall_meter(queries, candidates, k, prep, batch)


def ivf_probe_sweep_fused(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int,
    probes: tuple[int, ...],
    dim: int = DIM,
) -> DataFrame:
    """(n_probe, matched, total, recall) for every depth in ``probes``
    from ONE candidate scan: :func:`_tagged_topk_scan` ranks tag 0 =
    brute truth and tag p = the pairs whose candidate cell is within the
    query's first p probes, all over the same per-batch cosine matrix.
    Probe sets are NESTED, so one :func:`_probe_rank_np` table at the
    deepest setting serves every depth (``1 <= rank <= p``). A
    (q_id, c_id) group + one aggregate then count each depth's hits
    against the truth set.

    Determinism: identical to :func:`ivf_recall_fused` — cells/probes
    via the bit-exact ``cell_scores_np`` twins, scores the accepted
    matmul-vs-fold-at-6dp class, tie-break (cos desc NULLS LAST, c_id
    asc) unchanged; equivalence with per-depth
    recall_at_k(truth, ivf_topk) is pinned by
    tests/test_dedup_similarity.py."""
    collected = _collect_queries(queries)
    if collected is None:
        return queries.sparkSession.createDataFrame(
            [(int(p), 0, 0, None) for p in probes],
            "n_probe int, matched long, total long, recall double",
        )

    def rankings(cm, s, qm, qn, rank):
        ranks = _cell_rows_np(cm, rank, n_cells, dim)  # (n, nq), 0 = not probed
        return [(0, None, s)] + [
            (p, (ranks >= 1) & (ranks <= p), s) for p in probes
        ]

    rank = _probe_rank_np(collected[1], n_cells, max(probes), dim)
    top = _tagged_topk_scan(candidates, k, collected, rank, rankings)
    pair = top.groupBy("q_id", "c_id").agg(
        F.max((F.col("tag") == 0).cast("int")).alias("in_t"),
        *[
            F.max((F.col("tag") == p).cast("int")).alias(f"d{p}")
            for p in probes
        ],
    )
    agg = pair.agg(
        F.coalesce(F.sum("in_t"), F.lit(0)).cast("long").alias("total"),
        *[
            F.coalesce(F.sum(F.col("in_t") * F.col(f"d{p}")), F.lit(0))
            .cast("long")
            .alias(f"m{p}")
            for p in probes
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(p)).cast("int").alias("n_probe"),
                    F.col(f"m{p}").alias("matched"),
                    F.col("total").alias("total"),
                )
                for p in probes
            ]
        )
    )
    return agg.select(rows.alias("r")).select(
        "r.n_probe",
        "r.matched",
        "r.total",
        (
            F.floor((F.col("r.matched").cast("double") / F.col("r.total")) * 1e6)
            / 1e6
        ).alias("recall"),
    )


def recall_at_k(exact_topk: DataFrame, approx_topk: DataFrame) -> DataFrame:
    """Recall of an approximate ranking against the exact one: both are
    (q_id, c_id, ...) top-k frames; recall = |approx ∩ exact| / |exact|
    as one engine-exact integer ratio (floor-quantized). The join is k
    rows per query on both sides — negligible at any corpus size.

    One pass over the exact side: the old two-frame form (inner-join
    count CROSS total count) referenced the exact subtree TWICE, and
    since it ends in a join — not an exchange — ReuseExchange cannot
    dedupe it, so every caller's truth side (often a brute meter)
    executed twice in one plan. The left-join + single-aggregate form
    scans it once. The approx side is deduped before the join (ADVICE
    r9): a well-formed top-k frame is already unique per (q_id, c_id),
    but a caller handing in a duplicated approx frame would otherwise
    fan out BOTH matched and total through the left join, silently
    skewing the ratio — distinct() costs one k·|Q|-row shuffle and
    makes the meter total exact by construction."""
    from ..functions.vectors import quantize

    bt = exact_topk.select("q_id", "c_id")
    at = (
        approx_topk.select("q_id", "c_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    j = bt.join(at, ["q_id", "c_id"], "left")
    return j.agg(
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("matched"),
        F.count(F.lit(1)).cast("long").alias("total"),
    ).select(
        "matched",
        "total",
        quantize(F.col("matched").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    )


def semantic_dedup(
    candidates: DataFrame,
    threshold: float,
    n_cells: int = 8,
    dim: int = DIM,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    embeddings are clustered (here: assigned to their argmax-score cell
    among ``n_cells`` deterministic pseudo-centroids, the same index
    family as :func:`ivf_topk`), then pairwise cosine is computed ONLY
    within a cell; of any pair above ``threshold`` the member MORE
    similar to its centroid is dropped (the paper's keep-least-typical
    rule), deterministically tie-broken on vec_id.

    Returns the full keep-list: (vec_id, cell, centroid_score, kept).

    Scale shape: the expensive step is the within-cell pairing — work
    is sum(cell_size^2), never the global n^2. At 100 TB the cell count
    grows with the corpus (SemDeDup uses ~sqrt(n) k-means clusters) so
    cell sizes stay bounded; raw vectors shuffle ONCE on the cell key,
    then each cell's pair matrix is one numpy matmul inside
    ``applyInPandas`` — a Catalyst self-join would pay the interpreted
    HOF dot fold per PAIR (~6µs × |pairs|: measured 3.3s at sf0.1 for
    1M pairs vs 0.4s for this form; same tradeoff as
    :func:`brute_force_topk_np`, and the matmul-vs-fold agreement at
    the 6dp quantization is the same accepted class). The drop-set is a
    distinct of losers (<= n rows, typically tiny), joined back as a
    left join the optimizer can broadcast.

    Reference analogue: none (the reference has no embedding ops);
    extension family per SURVEY §2 ext rows.
    """
    import numpy as np
    import pandas as pd

    ac = _ivf_assigned(candidates, n_cells, dim).select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        "cell",
        quantize(F.array_max(F.col("_cs")), 6).alias("centroid_score"),
    )

    def cell_losers(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        cos = _cos_matrix_np(V, V, np.sqrt((V * V).sum(axis=1)))
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        cs = pdf["centroid_score"].to_numpy(dtype=np.float64)
        np.fill_diagonal(cos, -np.inf)
        # NaN (zero-norm side) compares False — matches the SQL twin's
        # NULL cosine never reaching the threshold
        with np.errstate(invalid="ignore"):
            dup = cos >= threshold
        # of each duplicate pair, the MORE typical member loses (higher
        # centroid score; exact tie -> higher vec_id)
        more_typical = (cs[:, None] > cs[None, :]) | (
            (cs[:, None] == cs[None, :]) & (ids[:, None] > ids[None, :])
        )
        lost = (dup & more_typical).any(axis=1)
        return pd.DataFrame({"vec_id": ids[lost]})

    losers = (
        ac.select("vec_id", "v", "cell", "centroid_score")
        .groupBy("cell")
        .applyInPandas(cell_losers, "vec_id long")
        .withColumn("_lost", F.lit(True))
    )
    return ac.join(losers, "vec_id", "left").select(
        "vec_id",
        "cell",
        "centroid_score",
        F.coalesce(F.col("_lost") == F.lit(False), F.lit(True)).alias("kept"),
    )


def _pq_query_frame_probed(
    queries: DataFrame,
    n_cells: int,
    n_probe: int,
    n_sub: int,
    n_codes: int,
    dim: int,
) -> DataFrame:
    """(q_id, cell, qd): one row per (query, probed cell), with the ADC
    lookup tables — the query side of :func:`ivfpq_topk`. The probed
    cells are read from the :func:`_probe_rank_np` table in probe order,
    so they match :func:`_ivf_probes` (and the SQL oracle) to the bit.
    Driver-side like :func:`_pq_query_frame` — queries are the small
    side by contract."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import pq_scores_np

    spark = queries.sparkSession
    subdim = dim // n_sub
    collected = _collect_queries(queries)
    schema = "q_id long, cell int, qd array<array<double>>"
    if collected is None:
        return spark.createDataFrame([], schema)
    ids, V, _ = collected
    rank = _probe_rank_np(V, n_cells, n_probe, dim)
    tabs = [pq_scores_np(V, m, n_codes, subdim) for m in range(n_sub)]
    rows_q, rows_cell, rows_qd = [], [], []
    for r in range(len(ids)):
        qd = [tabs[m][r].tolist() for m in range(n_sub)]
        probed = np.flatnonzero(rank[:, r])
        for cell in probed[np.argsort(rank[probed, r])]:
            rows_q.append(ids[r])
            rows_cell.append(int(cell))
            rows_qd.append(qd)
    return spark.createDataFrame(
        pd.DataFrame({"q_id": rows_q, "cell": rows_cell, "qd": rows_qd}), schema
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """IVF + PQ composition — the standard large-scale ANN serving shape
    (coarse inverted-file pruning, then asymmetric-distance scoring over
    8-byte codes): candidates live in their argmax-cosine cell and are
    PQ-encoded once; each query probes its top-``n_probe`` cells and
    meets only those cells' candidates, paying ``n_sub`` table lookups
    per pair instead of a dim-length dot.

    At 100 TB this multiplies the two savings: scan IO drops by
    n_probe/n_cells (partition-pruned cells, same layout as
    :func:`build_ivf_index`) AND the scanned bytes per candidate drop
    ~32× (codes, not raw vectors). Recall is priced by
    ``ann_ivfpq_recall`` against the exact path — quantization loss and
    probe loss measured together, per corpus.
    """
    from ..functions.vectors import pq_adc_score

    c = _pq_encode(
        _ivf_assigned(candidates, n_cells, dim).select("vec_id", "embedding", "cell"),
        n_sub,
        n_codes,
        dim,
        passthrough=("cell",),
    )
    q = _pq_query_frame_probed(queries, n_cells, n_probe, n_sub, n_codes, dim)
    pairs = c.join(F.broadcast(q), "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        quantize(pq_adc_score(F.col("qd"), F.col("codes")), 6).alias("cos"),
    )
    return (
        _topk(_partial_topk(scored, k), k)
        .select("q_id", "c_id", F.col("cos").alias("pq_sim"), "rn")
    )


def ivfpq_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    m: int = 25,
    n_cells: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Two-stage serving: an IVF+PQ shortlist of ``m`` candidates per
    query over 8-byte codes, then an EXACT cosine re-rank of only the
    shortlist — the standard production ANN pattern (the compressed
    index answers *which m*, the full vectors answer *in what order*).

    At 100 TB: stage 1 never touches a raw vector (codes only,
    partition-pruned cells); stage 2 gathers exactly m·|Q| full vectors
    via a broadcast-hash join of the (small by contract) shortlist
    against the vector table — a single streamed pass, no pair-matrix
    shuffle. Recall is inherited from the shortlist (re-ranking cannot
    lose a true neighbour the shortlist kept), so ``ann_ivfpq_recall``
    at k=m upper-bounds this path's recall@k.
    """
    short = ivfpq_topk(
        queries, candidates, m, n_cells, n_probe, n_sub, n_codes, dim
    ).select("q_id", "c_id")
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("qv"),
        norm(as_double(F.col("embedding")), dim).alias("qn"),
    )
    c = candidates.select(
        F.col("vec_id").alias("c_id"),
        as_double(F.col("embedding")).alias("cv"),
        norm(as_double(F.col("embedding")), dim).alias("cn"),
    )
    pairs = c.join(F.broadcast(short), "c_id").join(F.broadcast(q), "q_id")
    return _topk(_scored(pairs), k)


def mmr_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    n_candidates: int = 12,
    n_select: int = 5,
    lam: float = 0.7,
    pool: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR 1998, public): greedily pick ``n_select`` of the top
    ``n_candidates`` cosine neighbours, each step maximizing
    ``lam·rel − (1−lam)·max_sim_to_already_selected`` — the standard
    de-redundancy re-rank for retrieval and training-data curation
    (near-identical top hits waste the budget a diverse set would use).

    Scale shape: the candidate pool per query is bounded (``n_candidates``
    rows from :func:`brute_force_topk` or any ANN variant), the pairwise
    similarity stage is a q_id-keyed self-join of that bounded pool
    (≤ C² rows per query), and the greedy loop — inherently sequential,
    the one genuinely iterative step — runs per-group in
    ``applyInPandas`` over ≤ C·(C−1) rows, so it distributes across
    queries and touches no unbounded state.

    Determinism: rel and sim are the engine-exact quantized cosines
    (identical fold order both engines, functions/vectors.py), the MMR
    score is two multiplies and a subtract on those quantized doubles
    (bit-identical IEEE), ties break on c_id — so the greedy trajectory
    is reproducible and the unrolled-step SQL oracle hashes exactly.
    """
    import pandas as pd

    # NULL rel (zero-norm query or candidate) is ranked last by the
    # top-k cut and dropped here — a zero-norm QUERY thus yields no MMR
    # rows (no meaningful relevance order exists), matching the oracle.
    # The pool source is pluggable: brute-force is the exact meter, any
    # ANN form (e.g. ivf_topk) is the serving shape — the MMR stages
    # downstream are bounded per query either way.
    if pool is None:
        # np exact meter — hash-identical to the fold path (pinned by
        # test_numpy_matmul_path_matches_fold_path)
        pool = brute_force_topk_np(queries, candidates, n_candidates)
    cand = (
        pool.filter(F.col("cos").isNotNull())
        .select("q_id", "c_id", F.col("cos").alias("rel"))
    )
    emb = candidates.select(
        F.col("vec_id").alias("c_id"),
        as_double(F.col("embedding")).alias("cv"),
        norm(as_double(F.col("embedding")), DIM).alias("cn"),
    )
    from ..cache import eager_persist

    # ce feeds BOTH sides of the pair self-join; unpersisted, the whole
    # candidate pipeline (scan → brute-force score → top-k window) would
    # execute twice (two BroadcastNestedLoopJoin nodes in the plan). The
    # pool is ≤ n_candidates·|Q| rows — persisting it is always cheap.
    ce = eager_persist(cand.join(emb, "c_id"))
    left = ce.select("q_id", "c_id", "rel", "cv", "cn")
    right = ce.select(
        F.col("q_id"),
        F.col("c_id").alias("other_id"),
        F.col("cv").alias("ov"),
        F.col("cn").alias("onorm"),
    )
    denom = F.col("cn") * F.col("onorm")
    # zero-norm OTHER → treat as orthogonal (sim 0), same coalesce in SQL
    sim = F.coalesce(
        F.when(
            denom != 0, quantize(dot(F.col("cv"), F.col("ov"), DIM) / denom, 6)
        ),
        F.lit(0.0),
    )
    pairs = (
        left.join(right, "q_id")
        .filter(F.col("c_id") != F.col("other_id"))
        .select("q_id", "c_id", "rel", "other_id", sim.alias("sim"))
    )
    # A pool with exactly one candidate produces ZERO pair rows (the
    # self-join filters c_id != other_id), which would drop the whole
    # group — but the oracle's step 1 selects from cand, so a single
    # candidate must still yield its step-1 pick. Union one sentinel
    # row per candidate (null other_id/sim, ignored by the greedy) so
    # every candidate reaches applyInPandas even with an empty pair set.
    # Reachable via sparse IVF-probed pools or NULL-cosine thinning.
    sentinels = ce.select(
        "q_id",
        "c_id",
        "rel",
        F.lit(None).cast("long").alias("other_id"),
        F.lit(None).cast("double").alias("sim"),
    )
    pairs = pairs.unionByName(sentinels)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = dict(zip(pdf["c_id"], pdf["rel"]))
        valid = pdf.dropna(subset=["other_id"])
        simd = dict(
            zip(
                zip(valid["c_id"], valid["other_id"].astype("int64")),
                valid["sim"],
            )
        )
        q_id = int(pdf["q_id"].iloc[0])
        selected: list[int] = []
        out = []
        remaining = sorted(rel)  # ascending c_id = the tie order
        for step in range(1, n_select + 1):
            best = None
            for c in remaining:
                if selected:
                    maxsim = max(simd[(c, s)] for s in selected)
                else:
                    maxsim = 0.0
                score = lam * rel[c] - (1.0 - lam) * maxsim
                if best is None or score > best[1]:  # ties keep lower c_id
                    best = (c, score)
            if best is None:
                break
            selected.append(best[0])
            remaining.remove(best[0])
            out.append((q_id, step, best[0], best[1]))
        return pd.DataFrame(
            out, columns=["q_id", "step", "c_id", "score"]
        )

    picked = pairs.groupBy("q_id").applyInPandas(
        greedy, "q_id long, step int, c_id long, score double"
    )
    return picked.select(
        "q_id", "step", "c_id", quantize(F.col("score"), 6).alias("score")
    )
