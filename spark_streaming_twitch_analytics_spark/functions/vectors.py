"""Vector math over ``array<float>`` embedding columns — built-ins only.

Dot products use an explicit LEFT FOLD (``F.aggregate`` in Spark,
``list_reduce`` in DuckDB) so both engines add terms in the same order —
IEEE doubles then agree bit-for-bit and the oracle value-hash holds
without tolerance tricks. Everything is whole-stage-codegen'd JVM work;
no UDF, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import lit_array


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product: ((0 + a1·b1) + a2·b2) + …

    ``dim`` is accepted for API symmetry with ``dot_sql`` but the fold is
    used regardless: an unrolled 64-term element_at sum was MEASURED 3×
    slower — the giant expression exceeds whole-stage-codegen size limits
    and falls back to interpreted evaluation, while the HOF fold stays on
    the specialized array loop."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_sql(a_expr: str, b_expr: str, dim: int) -> str:
    # list_reduce folds left without an init; 0.0 + x == x for finite x,
    # so prepending 0.0 reproduces Spark's F.aggregate fold exactly.
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim} + 1), "
        f"i -> {a_expr}[i] * {b_expr}[i])), (acc, x) -> acc + x)"
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def norm_sql(a_expr: str, dim: int) -> str:
    return f"sqrt({dot_sql(a_expr, a_expr, dim)})"


def quantize(x: Column, decimals: int) -> Column:
    """Engine-exact quantization of a per-row double: floor(x·10ᵈ)/10ᵈ.

    Decimal ROUNDING semantics differ across engines (Spark: BigDecimal
    HALF_UP on the shortest-decimal rendering; DuckDB/numpy: nearest or
    half-even on the binary value), so a true value near a half-boundary
    rounds differently even when the input double is bitwise identical.
    Floor-quantization stays entirely in IEEE-754 doubles, so identical
    inputs give identical outputs on every engine. Use for per-row
    ratios/products whose operands are engine-exact (int ratios,
    identical-order folds) — NOT for avg/sum aggregates, where the risk
    is fold order, which no quantizer fixes."""
    scale = float(10**decimals)
    return F.floor(x * F.lit(scale)) / F.lit(scale)


def quantize_sql(expr: str, decimals: int) -> str:
    scale = float(10**decimals)
    return f"(floor(({expr}) * {scale}) / {scale})"


def cosine(a: Column, b: Column, decimals: int = 6, dim: int | None = None) -> Column:
    """Cosine similarity, floor-quantized to keep ordering/thresholds
    engine-stable (see :func:`quantize`). A zero-norm side yields NULL
    on both engines (under ANSI mode a bare division would THROW on the
    first all-zeros embedding in the corpus, killing the whole job)."""
    denom = norm(a, dim) * norm(b, dim)
    return F.when(denom != 0, quantize(dot(a, b, dim) / denom, decimals))


def cosine_sql(a_expr: str, b_expr: str, dim: int, decimals: int = 6) -> str:
    denom = f"({norm_sql(a_expr, dim)} * {norm_sql(b_expr, dim)})"
    q = quantize_sql(f"{dot_sql(a_expr, b_expr, dim)} / {denom}", decimals)
    return f"(CASE WHEN {denom} <> 0 THEN {q} ELSE NULL END)"


def hyperplane_weights(h: int, dim: int) -> list[int]:
    """Deterministic integer LSH hyperplane: weight(h, i) is derived from
    md5 so both engines can hold it as a plain literal list. Range [-8, 7].
    """
    import hashlib

    return [
        int(hashlib.md5(f"{h}_{i}".encode()).hexdigest()[0], 16) - 8
        for i in range(dim)
    ]


def centroid_weights(c: int, dim: int) -> list[int]:
    """Deterministic integer IVF pseudo-centroid (same md5 construction
    as :func:`hyperplane_weights`, different salt). Range [-8, 7]."""
    import hashlib

    return [
        int(hashlib.md5(f"ivf{c}_{i}".encode()).hexdigest()[0], 16) - 8
        for i in range(dim)
    ]


def cell_scores(vec: Column, n_cells: int, dim: int) -> Column:
    """Array of dot(vec, centroid_c) for c in [0, n_cells) — the IVF
    assignment scores. Identical fold order to :func:`dot` so both
    engines agree bit-for-bit."""
    return F.array(
        *[
            dot(vec, lit_array([float(x) for x in centroid_weights(c, dim)]), dim)
            for c in range(n_cells)
        ]
    )


def cell_scores_sql(vec_expr: str, n_cells: int, dim: int) -> str:
    parts = []
    for c in range(n_cells):
        w = "[" + ", ".join(f"{float(x)!r}" for x in centroid_weights(c, dim)) + "]"
        parts.append(dot_sql(vec_expr, w, dim))
    return "[" + ", ".join(parts) + "]"


def pq_codebook(m_idx: int, n_codes: int, subdim: int) -> list[list[float]]:
    """Deterministic product-quantization codebook for subspace
    ``m_idx``: ``n_codes`` unit-norm centroids of ``subdim`` dims.

    Raw weights are the same md5-hexdigit construction as
    :func:`centroid_weights` (range [-8, 7], salt ``pq{m}_{code}_{i}``),
    then unit-normalized IN PYTHON so both engines receive identical
    double literals (``repr`` round-trips doubles exactly). Components
    are rounded to 6 decimal digits after normalizing — the codebook is
    pseudo-random anyway, and short literals keep the generated SQL/
    codegen text ~3× smaller (Janino compile time scales with source
    size). Near-equal-norm centroids make argmax-dot assignment
    equivalent to argmin-L2 — the standard PQ encode — without
    computing norms per row."""
    import hashlib
    import math

    out = []
    for code in range(n_codes):
        w = [
            int(hashlib.md5(f"pq{m_idx}_{code}_{i}".encode()).hexdigest()[0], 16) - 8
            for i in range(subdim)
        ]
        n = math.sqrt(sum(x * x for x in w)) or 1.0
        out.append([round(x / n, 6) for x in w])
    return out


def pq_scores_np(V, m_idx: int, n_codes: int, subdim: int):
    """Subspace-``m_idx`` PQ scores for a float64 matrix ``V`` of shape
    (n, dim): an (n, ``n_codes``) array of dots of each row's m-th
    subvector against every codebook centroid.

    Accumulation is a LEFT FOLD over the sub-dimensions — vectorized
    across rows, sequential over dims — so every element is computed as
    ``((0.0 + v₀·w₀) + v₁·w₁) + …``, bit-identical to the DuckDB twin's
    ``list_reduce`` fold (:func:`pq_subspace_scores_sql`). A BLAS matmul
    would reassociate the sum and could flip an argmax between
    near-tied centroid scores; this form makes code assignment EXACTLY
    equal on both engines (ties included), not merely
    quantization-close.

    Why numpy and not a Catalyst expression: the 8×16 unrolled dot
    chains total ~1000 scalar terms; fused into any whole-stage codegen
    method they push Janino past its 64 KB bytecode-per-method ceiling,
    and Spark silently runs the entire stage INTERPRETED — measured 7.9s
    vs 0.9s for ann_pq_topk at sf0.1, with no placement of exchange
    boundaries rescuing compilation. An Arrow-batched fold (64
    vectorized ops per subspace-batch) keeps encode off the interpreter
    at every scale and is itself a codegen barrier for the pair join."""
    import numpy as np

    off = m_idx * subdim
    cb = pq_codebook(m_idx, n_codes, subdim)
    acc = np.zeros((V.shape[0], n_codes))
    for i in range(subdim):
        w = np.array([cb[c][i] for c in range(n_codes)])
        acc = acc + V[:, off + i : off + i + 1] * w[None, :]
    return acc


def cell_scores_np(V, n_cells: int, dim: int):
    """Numpy twin of :func:`cell_scores` for a float64 matrix ``V`` of
    shape (n, dim): (n, ``n_cells``) IVF assignment scores with the same
    LEFT-FOLD accumulation as the Column/SQL forms (vectorized across
    rows, sequential over dims) — bit-identical, so argmax cell
    assignment and value-masked probe selection agree exactly with the
    engine-side expressions."""
    import numpy as np

    cents = [centroid_weights(c, dim) for c in range(n_cells)]
    acc = np.zeros((V.shape[0], n_cells))
    for i in range(dim):
        w = np.array([float(cents[c][i]) for c in range(n_cells)])
        acc = acc + V[:, i : i + 1] * w[None, :]
    return acc


def lsh_buckets_np(V, n_bits: int, dim: int):
    """Numpy twin of :func:`lsh_bucket` for a float64 matrix ``V`` of
    shape (n, dim): per-hyperplane dots use the same LEFT-FOLD
    accumulation as the Column form (vectorized across rows, sequential
    over dims) — bit-identical doubles, so the ``dot > 0`` sign
    decisions and therefore the bucket ids agree EXACTLY with the
    engine expression (no matmul reassociation anywhere near a sign
    threshold)."""
    import numpy as np

    b = np.zeros(V.shape[0], dtype=np.int64)
    for h in range(n_bits):
        w = [float(x) for x in hyperplane_weights(h, dim)]
        acc = np.zeros(V.shape[0])
        for i in range(dim):
            acc = acc + V[:, i] * w[i]
        b += (acc > 0).astype(np.int64) << h
    return b


def sq8_requant_np(V, mns, mxs):
    """Numpy twin of :func:`sq8_requant` for a float64 matrix ``V`` of
    shape (n, dim): per-dimension encode/decode round trip with the
    SAME fixed-order elementwise IEEE arithmetic (((x−mn)/rng)·255+0.5
    → floor; mn + (code·rng)/255) — bit-identical values, including the
    rng == 0 → code floor(0.5) = 0 branch."""
    import numpy as np

    rng = mxs - mns
    with np.errstate(divide="ignore", invalid="ignore"):
        code = np.floor(
            np.where(rng == 0, 0.5, (V - mns) / rng * 255.0 + 0.5)
        )
    return mns + code * rng / 255.0


def pq_adc_score(dtabs: Column, codes: Column, n_sub: int = 8) -> Column:
    """ADC sum: ((0 + dtabs[1][codes[1]]) + dtabs[2][codes[2]]) + … —
    the PQ approximation of cosine·|q| (a per-query positive scale, so
    per-query rankings match the unscaled form).

    Statically unrolled (n_sub is tiny and fixed), NOT a zip_with +
    aggregate fold: this runs once per candidate PAIR, and the two
    interpreted HOF calls cost ~12µs/pair (measured +5.5s on 400k pairs
    at sf0.1) while the unrolled scalar chain stays in whole-stage
    codegen. Addition order is identical to the DuckDB ``list_reduce``
    twin, so values match bit-for-bit."""
    acc = F.lit(0.0)
    for m in range(1, n_sub + 1):
        acc = acc + F.element_at(F.element_at(dtabs, m), F.element_at(codes, m))
    return acc


def _pq_sub_expr(vec_expr: str, m_idx: int, subdim: int) -> str:
    lo, hi = m_idx * subdim + 1, (m_idx + 1) * subdim
    return f"({vec_expr}[{lo}:{hi}])"


def pq_subspace_scores_sql(vec_expr: str, m_idx: int, n_codes: int, subdim: int) -> str:
    sub = _pq_sub_expr(vec_expr, m_idx, subdim)
    parts = []
    for cent in pq_codebook(m_idx, n_codes, subdim):
        w = "[" + ", ".join(repr(x) for x in cent) + "]"
        parts.append(dot_sql(sub, w, subdim))
    return "[" + ", ".join(parts) + "]"


def pq_codes_sql(vec_expr: str, n_sub: int, n_codes: int, dim: int) -> str:
    subdim = dim // n_sub
    parts = []
    for m in range(n_sub):
        s = pq_subspace_scores_sql(vec_expr, m, n_codes, subdim)
        parts.append(f"CAST(list_position({s}, list_max({s})) AS INT)")
    return "[" + ", ".join(parts) + "]"


def pq_dtabs_sql(vec_expr: str, n_sub: int, n_codes: int, dim: int) -> str:
    subdim = dim // n_sub
    return (
        "["
        + ", ".join(
            pq_subspace_scores_sql(vec_expr, m, n_codes, subdim)
            for m in range(n_sub)
        )
        + "]"
    )


def pq_adc_score_sql(dtabs_expr: str, codes_expr: str, n_sub: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {n_sub} + 1), "
        f"m -> {dtabs_expr}[m][{codes_expr}[m]])), (acc, x) -> acc + x)"
    )


def achlioptas_weights(k: int, dim: int) -> list[int]:
    """Deterministic sparse random-projection weights (Achlioptas 2003,
    'Database-friendly random projections', public): component (k, i) is
    +1 / −1 each with probability 3/16 and 0 otherwise (≈ the paper's
    {+1, 0, −1} with 2/3 zeros), derived from the same md5-hexdigit
    construction as :func:`hyperplane_weights` so both engines can hold
    the matrix as plain integer literals."""
    import hashlib

    out = []
    for i in range(dim):
        d = int(hashlib.md5(f"proj{k}_{i}".encode()).hexdigest()[0], 16)
        out.append(1 if d < 3 else (-1 if d < 6 else 0))
    return out


def int_dot(a: Column, weights: list[int]) -> Column:
    """Exact integer dot product of an ``array<bigint>`` column against a
    literal integer weight vector — BIGINT accumulation, so the sum is
    order-invariant and engine-exact (no float fold anywhere)."""
    w = lit_array([int(x) for x in weights])
    prods = F.zip_with(a, w, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def int_dot_sql(a_expr: str, weights: list[int]) -> str:
    w = "[" + ", ".join(str(int(x)) for x in weights) + "]"
    n = len(weights)
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {n} + 1), i -> {a_expr}[i] * ({w})[i])), "
        f"(acc, x) -> acc + x)"
    )


def sq8_requant(vec: Column, mns: Column, mxs: Column, dim: int) -> Column:
    """SQ8 scalar-quantization round trip: encode each dimension to an
    8-bit code against the corpus per-dimension [min, max], then decode —
    the value an SQ8 index actually scores against (the codes themselves
    are what a real index stores, 4× smaller than float32; re-expanding
    in the same expression keeps scoring in plain double math).

    code_j = floor((x_j − mn_j) / (mx_j − mn_j) · 255 + 0.5)   (0 if mx=mn)
    back_j = mn_j + code_j · (mx_j − mn_j) / 255

    Every step is identical-order IEEE on both engines (min/max are
    order-invariant aggregates; the per-dimension arithmetic has one
    evaluation order), so requantized vectors are bit-identical to the
    DuckDB twin :func:`sq8_requant_sql`. For x within [mn, mx] the code
    lands in [0, 255] by construction — no clamp needed."""
    def one(j: Column) -> Column:
        x = F.element_at(vec, j)
        mn = F.element_at(mns, j)
        mx = F.element_at(mxs, j)
        rng = mx - mn
        code = F.floor(
            F.when(rng == 0, F.lit(0.5)).otherwise(
                (x - mn) / rng * F.lit(255.0) + F.lit(0.5)
            )
        )
        return mn + code.cast("double") * rng / F.lit(255.0)

    return F.transform(F.sequence(F.lit(1), F.lit(dim)), one)


def sq8_codes(vec: Column, mns: Column, mxs: Column, dim: int) -> Column:
    """SQ8 encode only: per-dimension 8-bit codes stored OFFSET by −128
    so they fit a signed ``array<tinyint>`` — one true byte per
    dimension on disk, the 4× storage/scan win a real SQ8 index banks.
    Same code arithmetic as :func:`sq8_requant`."""
    def one(j: Column) -> Column:
        x = F.element_at(vec, j)
        mn = F.element_at(mns, j)
        mx = F.element_at(mxs, j)
        rng = mx - mn
        code = F.floor(
            F.when(rng == 0, F.lit(0.5)).otherwise(
                (x - mn) / rng * F.lit(255.0) + F.lit(0.5)
            )
        )
        return (code - F.lit(128)).cast("byte")

    return F.transform(F.sequence(F.lit(1), F.lit(dim)), one)


def sq8_from_codes(codes: Column, mns: Column, mxs: Column, dim: int) -> Column:
    """Decode :func:`sq8_codes` back to the scoring values — EXACTLY the
    doubles :func:`sq8_requant` produces (the +128 un-offset recovers the
    identical integer code, and the decode arithmetic is the same
    fixed-order IEEE), so an index-served ranking hash-matches the
    index-free one."""
    def one(j: Column) -> Column:
        mn = F.element_at(mns, j)
        mx = F.element_at(mxs, j)
        rng = mx - mn
        code = (F.element_at(codes, j).cast("int") + F.lit(128)).cast("double")
        return mn + code * rng / F.lit(255.0)

    return F.transform(F.sequence(F.lit(1), F.lit(dim)), one)


def sq8_requant_sql(vec_expr: str, mns_expr: str, mxs_expr: str, dim: int) -> str:
    rng = f"({mxs_expr}[j] - {mns_expr}[j])"
    code = (
        f"floor(CASE WHEN {rng} = 0 THEN 0.5 "
        f"ELSE ({vec_expr}[j] - {mns_expr}[j]) / {rng} * 255.0 + 0.5 END)"
    )
    return (
        f"list_transform(range(1, {dim} + 1), "
        f"j -> {mns_expr}[j] + {code} * {rng} / 255.0)"
    )


def lsh_bucket(vec: Column, n_bits: int, dim: int) -> Column:
    """Sign-of-dot-product LSH bucket id in [0, 2^n_bits)."""
    acc = F.lit(0)
    for h in range(n_bits):
        w = lit_array([float(x) for x in hyperplane_weights(h, dim)])
        acc = acc + F.when(dot(vec, w, dim) > 0, F.lit(1 << h)).otherwise(F.lit(0))
    return acc


def lsh_bucket_sql(vec_expr: str, n_bits: int, dim: int) -> str:
    terms = []
    for h in range(n_bits):
        w = "[" + ", ".join(f"{float(x)!r}" for x in hyperplane_weights(h, dim)) + "]"
        terms.append(
            f"(CASE WHEN {dot_sql(vec_expr, w, dim)} > 0 THEN {1 << h} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
