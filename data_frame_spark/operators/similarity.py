"""Similarity search over embedding columns (array<float>).

North-star operators (SURVEY §7 Phase 6):

* ``cosine_topk`` — brute-force exact top-k neighbours. The
  baseline: a blocked cross join (queries are broadcast) with a
  JVM-side fused dot/norm expression; per-partition heaps via
  window row_number. Exact, O(n·q) — right answer for modest query
  counts at any corpus size.
* ``lsh_ann_topk`` — random-hyperplane (sign) LSH: embeddings
  bucket by the sign pattern of H fixed pseudo-random hyperplanes
  (md5-derived, so engine-reproducible); queries probe only their
  bucket. The scale path: candidate set ∝ bucket size, not corpus.
* ``embedding_near_dup`` — vector pairs with cosine >= threshold
  via LSH buckets (near-dup over embeddings).

Dot products are computed with ``F.zip_with``/``F.aggregate`` —
sequential left-fold over array elements, the exact order a SQL
UNNEST-and-sum oracle uses, so doubles match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators.distributed import ensure_parallelism


#: quantization scale for dot products: products are summed as
#: floor(x*y*10^9 + 0.5) integers — associative, so the result is
#: independent of fold/aggregation order AND identical in a SQL
#: oracle. Embedding components are O(1), so 9 fractional digits
#: keeps int64 headroom up to ~10^9-element vectors.
DOT_SCALE = 1e9


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i via quantized integer accumulation (order-proof)."""
    return (
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: F.floor(
                    x.cast("double") * y.cast("double") * F.lit(DOT_SCALE) + F.lit(0.5)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(DOT_SCALE)
    )


def qdot_batched(a: Column, b: Column) -> Column:
    """The same quantized dot as :func:`dot` (before the /SCALE), as
    an Arrow-batched numpy kernel. Bit-identical to the expression
    form — float32 -> float64 widening is exact in both, the per-
    element FLOOR(x*y*1e9 + 0.5) products are identical IEEE ops,
    and the int64 sum is associative — but ~an order of magnitude
    faster on wide candidate fan-outs, because Catalyst evaluates
    higher-order array lambdas interpreted per element while numpy
    multiplies the whole Arrow batch at once. Used on PAIR-sized
    inputs (candidate verification); per-vector work stays in
    expressions."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _qdot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack(xs.to_numpy()).astype(np.float64)
        B = np.stack(ys.to_numpy()).astype(np.float64)
        P = np.floor(A * B * DOT_SCALE + 0.5).astype(np.int64)
        return pd.Series(P.sum(axis=1))

    return _qdot(a, b)


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def _top_k(
    scored: DataFrame, query_id_col: str, id_col: str, score_col: str, k: int,
    ascending: bool,
) -> DataFrame:
    """The ``k`` best rows per query, ranked by ``score_col`` with
    ``id_col`` ascending as the tie-break: a per-query ``row_number``
    that WindowGroupLimit prunes map-side. Output columns: query id,
    id, score, ``rank`` (1-based)."""
    score = F.col(score_col)
    w = Window.partitionBy(query_id_col).orderBy(
        score.asc() if ascending else score.desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(query_id_col, id_col, score_col, F.col("__rk").alias("rank"))
    )


def cosine_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector. Queries broadcast
    against the (arbitrarily large) base; ties broken by id so the
    result is total-order deterministic."""
    # norms precomputed per side: one dot per pair instead of three
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        norm2(F.col(vec_col)).alias("__qn"),
    )
    b = base.select(
        F.col(id_col),
        F.col(vec_col).alias("__bv"),
        norm2(F.col(vec_col)).alias("__bn"),
    )
    joined = b.crossJoin(F.broadcast(q))
    scored = joined.select(
        query_id_col,
        id_col,
        (dot(F.col("__bv"), F.col("__qv")) / (F.col("__bn") * F.col("__qn"))).alias("cosine"),
    )
    return _top_k(scored, query_id_col, id_col, "cosine", k, ascending=False)


def _hyperplane(dim: int, h: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component i is an
    md5-derived value in [-1, 1] — reproducible in SQL (the oracle
    computes the same md5 hex digits)."""
    import hashlib

    out = []
    for i in range(dim):
        hx = hashlib.md5(f"hp{h}:{i}".encode()).hexdigest()[:15]
        out.append(int(hx, 16) / float(16**15) * 2 - 1)
    return out


def _planes_expr(dim: int, num_planes: int) -> Column:
    """The hyperplane matrix as ONE SQL literal (array<array<double>>).
    Building it element-wise with F.lit costs thousands of py4j round
    trips per query plan; a single F.expr string is one. repr() emits
    the shortest round-trip decimal, and the D suffix pins the SQL
    literal to DOUBLE, so the JVM parses back the exact bits."""
    rows = []
    for h in range(num_planes):
        vals = ", ".join(f"{v!r}D" for v in _hyperplane(dim, h))
        rows.append(f"array({vals})")
    return F.expr("array(" + ", ".join(rows) + ")")


def plane_dots(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """Per-plane quantized integer dot products (array<long>) — the
    shared input for home bucket, multi-probe margins, and sign bits.
    Callers attach this ONCE as a column so the dot products are
    evaluated once per row instead of once per derived expression."""
    return F.transform(
        _planes_expr(dim, num_planes),
        lambda p: F.aggregate(
            F.zip_with(
                vec,
                p,
                lambda x, y: F.floor(
                    x.cast("double") * y * F.lit(DOT_SCALE) + F.lit(0.5)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def home_from_dots(pd: Column, num_planes: int) -> Column:
    """Sign-LSH bucket id from precomputed plane dots: bit h = 1 iff
    dot_h > 0 (sign of the quantized integer == sign of the double)."""
    acc = F.lit(0).cast("long")
    for h in range(num_planes):
        bit = F.when(pd[h] > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc + F.shiftleft(bit, h)
    return acc


def probes_from_dots(pd: Column, num_planes: int, num_probes: int) -> Column:
    """Multi-probe bucket list from precomputed plane dots: the home
    bucket plus the ``num_probes - 1`` single-bit-flip buckets whose
    margin |dot| is smallest — the classic multi-probe LSH ordering
    (flip the least-certain signs first). Integer margins order
    exactly like the /1e9 doubles (both < 2^53), so the probe order
    is unchanged. Probes are distinct by construction."""
    home = home_from_dots(pd, num_planes)
    if num_probes <= 1:
        return F.array(home)
    # flipped bucket precomputed per plane (shift count must be a
    # literal), then ranked by (margin, flipped-bucket) and sliced
    ranked = F.array_sort(
        F.array(*[
            F.struct(
                F.abs(pd[h]).alias("m"),
                home.bitwiseXOR(F.lit(1 << h).cast("long")).alias("fb"),
            )
            for h in range(num_planes)
        ])
    )
    flips = F.transform(F.slice(ranked, 1, num_probes - 1), lambda s: s["fb"])
    return F.concat(F.array(home), flips)


def lsh_ann_topk(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    num_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH
    bucket(s). ``num_probes > 1`` adds bit-flip probe buckets in
    margin order (multi-probe LSH), lifting recall without growing
    the base-side fan-out — the query side explodes, the base stays
    one row per vector. Same scoring/ranking as the exact path."""
    # plane dots attached as a column: evaluated once per row, shared
    # by the bucket/probe expressions (Catalyst keeps non-cheap
    # aliased expressions materialized across projections)
    b = base.withColumn(
        "__pd", plane_dots(F.col(vec_col), dim, num_planes)
    ).withColumn("__bucket", home_from_dots(F.col("__pd"), num_planes))
    q = queries.withColumn(
        "__pd", plane_dots(F.col(vec_col), dim, num_planes)
    ).withColumn(
        "__bucket",
        F.explode(probes_from_dots(F.col("__pd"), num_planes, num_probes)),
    )
    joined = ensure_parallelism(
        b.select(
            id_col,
            F.col(vec_col).alias("__bv"),
            norm2(F.col(vec_col)).alias("__bn"),
            "__bucket",
        )
    ).join(
        F.broadcast(
            q.select(
                query_id_col, F.col(vec_col).alias("__qv"),
                norm2(F.col(vec_col)).alias("__qn"), "__bucket",
            )
        ),
        "__bucket",
    )
    scored = joined.select(
        query_id_col,
        id_col,
        (dot(F.col("__bv"), F.col("__qv")) / (F.col("__bn") * F.col("__qn"))).alias("cosine"),
    )
    return _top_k(scored, query_id_col, id_col, "cosine", k, ascending=False)


def _centroid_matrix(centroids: list[list[float]]) -> Column:
    """Centroids as ONE SQL literal (array<array<double>>) — same
    py4j-economy trick as :func:`_planes_expr`."""
    rows = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")" for c in centroids
    )
    return F.expr(f"array({rows})")


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (−dot, cid) structs — ascending sort puts the
    nearest centroid first."""
    m = _centroid_matrix(centroids)
    idx = F.expr(f"sequence(0, {len(centroids) - 1})")
    return F.zip_with(
        m,
        idx,
        lambda c, i: F.struct((-dot(vec, c)).alias("d"), i.cast("int").alias("cid")),
    )


def _argmin_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id by maximum dot product (vectors and
    centroids are used unnormalized — IVF cells for cosine assume
    roughly unit-norm data; callers can pre-normalize)."""
    return F.array_sort(_centroid_scores(vec, centroids))[0]["cid"]


def _argmax_dot_matrix(vq: Column, mat: Column, k: int) -> Column:
    """Nearest-of-``k``-centroids id by maximum INTEGER dot product
    between a micro-quantized vector column and the array-of-arrays
    centroid column ``mat`` — exact int64 arithmetic (|v| ≤ ~1 →
    products ≤ 1e12, 64-dim sums ≤ 6.4e13, well inside int64 AND
    double-exact range), so the assignment is bit-identical on any
    engine and any partitioning. Ties break toward the smaller cid.
    Since r18 the Lloyd loop uses :func:`_assign_books_batched`
    ("dot"); this expression form is kept as its tested reference
    twin (tests/test_textops.py pins the equivalence)."""
    idx = F.expr(f"sequence(0, {k - 1})")
    zero = F.lit(0).cast("long")
    scores = F.zip_with(
        mat,
        idx,
        lambda c, i: F.struct(
            (
                -F.aggregate(
                    F.zip_with(vq, c, lambda a, b: a * b), zero, lambda acc, x: acc + x
                )
            ).alias("d"),
            i.cast("int").alias("cid"),
        ),
    )
    return F.array_sort(scores)[0]["cid"]


def _cell_batched(vec: Column, centroids: list[list[float]]) -> Column:
    """Arrow-batched nearest-centroid assignment — bit-identical to
    :func:`_argmin_centroid`: the same per-element
    floor(x·c·1e9 + 0.5) quantized products (identical IEEE double
    ops), the same int64 sum (< 2^53, so the expression form's
    double compare ranks identically), and the same smaller-cid
    tie-break (np.argmax returns the FIRST maximum). The k×dim
    per-row work moves from interpreted per-element lambdas to one
    numpy pass per Arrow batch (guide §4.2; r18 optimization — the
    corpus-side assignment was the IVF family's hottest
    expression).

    Malformed rows (NULL vector, ragged length, NULL element) get
    cell 0, which IS the expression form's answer: every dot goes
    NULL, the (d, cid) structs tie on the NULL d, and the ascending
    cid tie-break picks 0 (probed on Spark 4.1.2 — see the kernel
    pin test). Arrow hands a NULL ELEMENT to pandas as NaN inside a
    float array, so NaN-containing rows are masked to cell 0 on the
    fast path; a batch the stack/shape checks reject (NULL vectors,
    ragged lengths) falls back to a per-row loop with the same
    contract. Known latent divergence (r18 ADVICE): a genuine NaN
    DATA value is indistinguishable from a NULL element after the
    Arrow transfer, so it also maps to cell 0, while the expression
    form evaluates floor(NaN) per term and yields a finite dot —
    fixture embeddings carry no NaNs; the kernel side is pinned in
    the test."""
    C = np.array(centroids, dtype=np.float64)  # (k, dim)

    from pyspark.sql.functions import pandas_udf

    def _one(v) -> int:
        if v is None or len(v) != C.shape[1]:
            return 0  # cell 0 — the expression-form tie-break
        x = np.asarray(v, dtype=np.float64)
        if np.isnan(x).any():
            return 0  # NULL element -> every dot NULL -> cell 0
        p = (
            np.floor(x[None, :] * C * DOT_SCALE + 0.5).astype(np.int64).sum(axis=1)
        )
        return int(p.argmax())

    @pandas_udf("int")
    def _assign(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int32")
        arr = xs.to_numpy()
        try:
            A = np.stack(arr).astype(np.float64)  # (n, dim)
            if A.ndim != 2 or A.shape[1] != C.shape[1]:
                raise ValueError("ragged batch")  # no silent broadcast
            P = (
                np.floor(A[:, None, :] * C[None, :, :] * DOT_SCALE + 0.5)
                .astype(np.int64)
                .sum(axis=2)
            )
            out = P.argmax(axis=1).astype("int32")
            nulled = np.isnan(A).any(axis=1)
            if nulled.any():
                out[nulled] = 0
            return pd.Series(out)
        except (ValueError, TypeError, IndexError):
            return pd.Series(
                np.fromiter((_one(v) for v in arr), dtype=np.int32, count=len(arr))
            )

    return _assign(vec)


def qnorm_batched(a: Column) -> Column:
    """Arrow-batched Σ floor(x²·1e9 + 0.5) (the quantized
    self-dot's integer sum) — callers rebuild :func:`norm2` as
    ``sqrt(qnorm_batched(v).cast("double") / DOT_SCALE)``, which is
    the identical double. Same kernel/exactness argument as
    :func:`qdot_batched`, applied to the corpus-side norm
    projection.

    Malformed rows match :func:`norm2` exactly: a NULL vector (or a
    NULL element, which Arrow hands over as NaN) yields a NULL sum;
    a ragged row is summed over its OWN elements (the self-dot never
    pads). The numpy fast path masks NaN rows to NULL; a batch the
    stack rejects (NULL/ragged vectors) falls back per-row. Known
    latent divergence (r18 ADVICE): a genuine NaN DATA value is
    indistinguishable from a NULL element after Arrow, so it also
    yields a NULL sum, while :func:`norm2` would evaluate floor(NaN)
    per term to a finite value — fixture embeddings carry no NaNs;
    pinned in the kernel test."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _qn(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        arr = xs.to_numpy()
        try:
            A = np.stack(arr).astype(np.float64)
            if A.ndim != 2:
                raise ValueError("null batch")
            P = np.floor(A * A * DOT_SCALE + 0.5).astype(np.int64)
            out = pd.Series(P.sum(axis=1), dtype="Int64")
            nulled = np.isnan(A).any(axis=1)
            if nulled.any():
                out[nulled] = None
            return out
        except (ValueError, TypeError, IndexError):
            vals = []
            for v in arr:
                if v is None:
                    vals.append(None)
                    continue
                x = np.asarray(v, dtype=np.float64)
                if np.isnan(x).any():
                    vals.append(None)  # NULL element -> NULL sum
                    continue
                vals.append(
                    int(np.floor(x * x * DOT_SCALE + 0.5).astype(np.int64).sum())
                )
            return pd.Series(vals, dtype="Int64")

    return _qn(a)


def _assign_books_batched(books, metric: str):
    """Arrow-batched (subspace, micro-vector) -> centroid id for the
    Lloyd refinement loop — bit-identical to the expression forms it
    replaces (:func:`_argmax_dot_matrix` / :func:`_argmin_l2_matrix`):
    exact int64 arithmetic (micro ≤ ~2e6 → dot terms ≤ 4e12,
    64-term sums ≤ 2.6e14; the L2 expansion ‖a‖² − 2a·c + ‖c‖²
    equals the direct Σ(a−c)² in exact integers), first-occurrence
    argmax/argmin = the smaller-cid tie-break. Closes over the
    CURRENT books (the loop rebuilds it per iteration, as the
    literal matrix was)."""
    mats = [np.array(bj, dtype=np.int64) for bj in books]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _assign(js: pd.Series, svs: pd.Series) -> pd.Series:
        if len(js) == 0:
            return pd.Series([], dtype="int32")
        j = js.to_numpy()
        A = np.stack(svs.to_numpy()).astype(np.int64)
        out = np.empty(len(j), dtype=np.int32)
        for jj in np.unique(j):
            msk = j == jj
            M = mats[jj]
            X = A[msk]
            if metric == "dot":
                out[msk] = (X @ M.T).argmax(axis=1)
            else:  # squared L2
                D = (
                    (X * X).sum(axis=1, keepdims=True)
                    - 2 * (X @ M.T)
                    + (M * M).sum(axis=1)[None, :]
                )
                out[msk] = D.argmin(axis=1)
        return pd.Series(out)

    return _assign


def quantize_vec(vec: Column) -> Column:
    """array<long> micro-quantization (floor(x*1e6+0.5)) — the shared
    exact-integer vector form for cross-engine-reproducible math."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )


def _lloyd_iterations(sv: DataFrame, books, iterations: int, sub: int, argmin: str) -> None:
    """The shared integer-Lloyd refinement contract, single-sourced
    for the IVF coarse quantizer (one codebook over the full vector)
    and the PQ subspace fit (m codebooks over slices): ``sv`` is
    (__j, __sv) rows, ``books`` is list[m][k][sub] micro-int
    centroids MUTATED in place, ``argmin`` names the caller's
    metric ("dot" = max integer dot, "l2" = min integer squared L2 —
    Arrow-batched since r18, bit-identical to the former expression
    forms). Each iteration is ONE distributed
    assignment pass plus ONE map-combinable groupBy((__j, __cid))
    sum; means are floor(sum/n) of exact int64 sums (< 2^53, so the
    division is the same bits as SQL FLOOR(CAST(s AS DOUBLE)/n) on
    any engine); empty cells keep their previous centroid. Only
    m*k*sub integers ever reach the driver per iteration."""
    import math

    m, k = len(books), len(books[0])
    for _ in range(iterations):
        assign = _assign_books_batched(books, argmin)
        assigned = sv.select(
            "__j",
            assign(F.col("__j"), F.col("__sv")).alias("__cid"),
            "__sv",
        )
        rows = (
            assigned.groupBy("__j", "__cid")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("__sv", i + 1)).alias(f"s{i}")
                    for i in range(sub)
                ],
            )
            .collect()
        )
        for r in rows:
            n = r["__n"]
            books[r["__j"]][r["__cid"]] = [
                int(math.floor(r[f"s{i}"] / n)) for i in range(sub)
            ]


def ivf_fit_centroids(
    base: DataFrame,
    dim: int,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    micro: bool = False,
) -> list[list[float]] | list[list[int]]:
    """IVF coarse quantizer: k centroids, deterministically seeded
    (the k vectors with smallest (md5(vec_id), vec_id) — reproducible
    without rand()), refined by ``iterations`` Lloyd steps. Each step
    is one distributed assign + groupBy-sum; only k×dim values ever
    reach the driver, so fitting scales to any corpus.

    Round-7 exactness upgrade: Lloyd runs on MICRO-QUANTIZED integer
    vectors — integer dot-product assignment and floor(sum/n) means —
    because the previous float ``F.avg`` means depended on partial-sum
    ORDER, i.e. on partitioning: the same data could yield ulp-level
    different centroids (and therefore different cells) on a different
    cluster layout. Integer sums are layout-independent and
    SQL-oracle-reproducible; returned centroids are micro/1e6 floats
    (identical doubles on every engine), or the raw micro INTEGERS
    with ``micro=True`` (the exact cross-engine comparison form the
    oracle query uses). Empty clusters keep their previous centroid.
    Refinement is the shared _lloyd_iterations contract (the m=1
    case — ONE codebook over the full vector, dot-max metric)."""
    # same hardening as the PQ entry points: a base vector shorter or
    # longer than dim would otherwise null-pad/truncate through
    # zip_with in the assignment dot, silently corrupting the fit
    qdf = base.select(
        F.col(id_col).alias("__id"),
        _require_len(
            quantize_vec(F.col(vec_col)), dim, "ivf_fit_centroids"
        ).alias("__vq"),
    )
    seed_rows = (
        qdf.orderBy(md5_order(F.col("__id")), F.col("__id"))
        .limit(k)
        .collect()
    )
    books = [[list(map(int, r["__vq"])) for r in seed_rows]]
    sv = qdf.select(F.lit(0).alias("__j"), F.col("__vq").alias("__sv"))
    _lloyd_iterations(sv, books, iterations, dim, "dot")
    cent = books[0]
    if micro:
        return cent
    return [[c / 1e6 for c in cm] for cm in cent]


def md5_order(id_col: Column) -> Column:
    return F.md5(id_col.cast("string"))


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: base vectors partition into ``n_cells``
    coarse cells; each query scans only its ``n_probe`` nearest
    cells. The inverted-file counterpart of :func:`lsh_ann_topk` —
    candidate count ∝ probed cell sizes, not corpus size. Same
    exact-cosine scoring and deterministic tie-broken ranking.
    ``centroids`` (the FLOAT micro/1e6 form of ivf_fit_centroids)
    skips the fit when a caller already holds one — e.g. a query
    sharing the quantizer across search variants."""
    if centroids is None:
        centroids = ivf_fit_centroids(base, dim, n_cells, iterations, id_col, vec_col)
    # corpus-side projection batched (r18): one ArrowEvalPython node
    # computes the cell assignment + quantized self-dot for the whole
    # batch; values are bit-identical to the former interpreted
    # _argmin_centroid / norm2 expressions (see _cell_batched).
    b = base.select(
        id_col,
        F.col(vec_col).alias("__bv"),
        F.sqrt(
            qnorm_batched(F.col(vec_col)).cast("double") / F.lit(DOT_SCALE)
        ).alias("__bn"),
        _cell_batched(F.col(vec_col), centroids).alias("__cell"),
    )
    # a query probes its n_probe nearest cells
    probes = F.transform(
        F.slice(F.array_sort(_centroid_scores(F.col(vec_col), centroids)), 1, n_probe),
        lambda s: s["cid"],
    )
    q = queries.select(
        query_id_col,
        F.col(vec_col).alias("__qv"),
        norm2(F.col(vec_col)).alias("__qn"),
        F.explode(probes).alias("__cell"),
    )
    joined = b.join(F.broadcast(q), "__cell")
    scored = joined.select(
        query_id_col,
        id_col,
        (dot(F.col("__bv"), F.col("__qv")) / (F.col("__bn") * F.col("__qn"))).alias("cosine"),
    )
    return _top_k(scored, query_id_col, id_col, "cosine", k, ascending=False)


def embedding_near_dup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 8,
    num_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from shared
    sign-LSH buckets, verified by exact cosine >= threshold.
    ``num_probes > 1`` also joins each vector's bit-flip probe
    buckets against home buckets (candidates at Hamming distance
    <= 1), lifting recall; a pair at Hamming 1 is produced exactly
    once from the lower-id side's probe list, so no dedup stage is
    needed. Output: (id_a, id_b, cosine), id_a < id_b."""
    b = (
        df.select(F.col(id_col), F.col(vec_col).alias("__v"))
        .withColumn("__pd", plane_dots(F.col("__v"), dim, num_planes))
        .withColumn("__n", norm2(F.col("__v")))
        .withColumn("__home", home_from_dots(F.col("__pd"), num_planes))
    )
    # the verify-dot fan-out (candidate pairs x dim multiply-adds)
    # must parallelize even when the vector table arrives as a
    # handful of input splits; naturally-split inputs skip the
    # repartition entirely
    probed = ensure_parallelism(
        b.withColumn(
            "__bucket",
            F.explode(probes_from_dots(F.col("__pd"), num_planes, num_probes)),
        )
    )
    a = probed.alias("a")
    c = b.alias("c")
    pairs = (
        a.join(c, F.col("a.__bucket") == F.col("c.__home"))
        .where(F.col(f"a.{id_col}") < F.col(f"c.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            (
                qdot_batched(F.col("a.__v"), F.col("c.__v")).cast("double")
                / F.lit(DOT_SCALE)
                / (F.col("a.__n") * F.col("c.__n"))
            ).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= F.lit(threshold))


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 6,
) -> DataFrame:
    """Per-label mean vector (centroid) of an embedding column —
    the building block for class prototypes, IVF coarse-quantizer
    refreshes, and cluster-quality audits.

    Output: one (label, dim_idx [1-based], centroid, n_vectors) row
    per label x dimension.

    100 TB shape: posexplode to (label, dim, component) rows, then
    ONE map-combinable groupBy(label, dim) shuffle of quantized
    integer sums — deliberately NOT collect_list(vector) per label
    (a hot label would materialize its whole member set in one
    task). Quantized integer sums (FLOOR(v*10^scale + 0.5)) make
    the distributed sum order-insensitive and bit-identical to any
    single-node oracle.
    """
    flat = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "__v"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim_idx"),
        F.floor(F.col("__v").cast("double") * F.lit(float(10**scale)) + F.lit(0.5))
        .cast("long")
        .alias("__q"),
    )
    m = float(10**scale)
    return flat.groupBy("label", "dim_idx").agg(
        (
            F.sum("__q").cast("double")
            / (F.count(F.lit(1)) * F.lit(int(m))).cast("double")
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def semantic_dedup(
    base: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster -> in-cell
    pairwise prune; Abbas et al. 2023, arXiv:2303.09540): partition
    the corpus into coarse cells with the integer-Lloyd IVF fit,
    compute exact cosines ONLY within a cell, and drop every vector
    that has a lower-id cell-mate at cosine >= threshold (keep-first
    — the same convention as the span/segment dedups). Output: one
    row per vector, (id, cell, kept, n_dups) where n_dups counts the
    lower-id cell-mates above threshold (0 for kept rows).

    100 TB shape: the in-cell pairwise stage is the published
    algorithm's deliberate trade — work is Σ|cell|², never corpus²,
    and ``n_cells`` scales with the corpus to hold the target cell
    size constant — expressed as a cell-keyed equi-self-join
    (shuffle on cell id, bounded per-task fan-out, exact verify via
    the Arrow-batched quantized dot). The fit moves only k×dim
    integers to the driver; there is no corpus-sized broadcast
    anywhere. All arithmetic is the shared quantized-integer
    contract, so cells, cosines, and keep decisions are
    layout-independent and SQL-oracle reproducible."""
    centroids = ivf_fit_centroids(
        base, dim, n_cells, iterations, id_col, vec_col
    )
    # wrong-length vectors fail loudly (same contract as the fit and
    # the PQ entry points) instead of null-padding the assignment dot
    # and crashing the pair kernel on a ragged numpy stack
    v = _require_len(F.col(vec_col), dim, "semantic_dedup")
    b = ensure_parallelism(
        base.select(
            F.col(id_col),
            v.alias("__v"),
            F.sqrt(
                qnorm_batched(v).cast("double") / F.lit(DOT_SCALE)
            ).alias("__n"),
            _cell_batched(v, centroids).alias("cell"),
        )
    )
    # b feeds THREE consumers (both self-join sides + the final
    # id-keyed left join); the per-row n_cells x dim assignment
    # lambda is the operator's most expensive expression, so
    # materialize the (id, vec, norm, cell) projection once instead
    # of recomputing it per consumer — the same shared-intermediate
    # treatment as embedding_dedup_family's pair table
    b = b.localCheckpoint(eager=False)
    a, c = b.alias("a"), b.alias("c")
    dup = (
        a.join(
            c,
            (F.col("a.cell") == F.col("c.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"c.{id_col}").alias("__dup_id"),
            (
                qdot_batched(F.col("a.__v"), F.col("c.__v")).cast("double")
                / F.lit(DOT_SCALE)
                / (F.col("a.__n") * F.col("c.__n"))
            ).alias("__cos"),
        )
        .where(F.col("__cos") >= F.lit(threshold))
        .groupBy("__dup_id")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return b.join(dup, b[id_col] == dup["__dup_id"], "left").select(
        F.col(id_col),
        F.col("cell"),
        F.col("n_dups").isNull().alias("kept"),
        F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN for corpora whose raw
# vectors don't fit the cluster. Codebooks quantize each of m
# subspaces to k centroids; a vector stores m small codes instead of
# dim floats (m bytes vs dim*4 at k<=256 — a 32x shrink for 64-dim
# float32 at m=8), and search scans the compressed codes with
# asymmetric distances (query vs centroid lookup). The reference has
# no ANN surface; this is the net-new scale path next to
# lsh_ann_topk/ivf_topk. All arithmetic is micro-quantized int64
# (products <= 4e12, sums << 2^53), so fits, codes, and distances are
# layout-independent and SQL-oracle reproducible — the same exactness
# contract as the integer-Lloyd IVF fit above.
# ---------------------------------------------------------------------------


def _argmin_l2_matrix(vq: Column, mat: Column, k: int) -> Column:
    """Index of the nearest of ``k`` centroids in the array-of-arrays
    column ``mat`` by exact integer squared L2 distance; ties break
    toward the smaller index. One zip_with over (matrix, sequence) —
    the same py4j-economy shape as _argmax_dot_matrix — instead
    of k independent aggregate subtrees."""
    idx = F.expr(f"sequence(0, {k - 1})")
    zero = F.lit(0).cast("long")
    scores = F.zip_with(
        mat,
        idx,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vq, c, lambda a, b: (a - b) * (a - b)),
                zero,
                lambda acc, x: acc + x,
            ).alias("d"),
            i.cast("int").alias("cid"),
        ),
    )
    return F.array_sort(scores)[0]["cid"]


def _argmin_l2_micro(vq: Column, cents: list[list[int]]) -> Column:
    """Index of the nearest centroid literal by integer squared L2
    distance; ties break toward the smaller index."""
    mat = F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in cents])
    return _argmin_l2_matrix(vq, mat, len(cents))


def _codes_batched(vq: Column, codebooks) -> Column:
    """Arrow-batched PQ encode: the m per-subspace nearest-centroid
    codes as one array<int> column — bit-identical to the m
    :func:`_argmin_l2_micro` expressions it replaces (exact int64
    L2 via the ‖a‖² − 2a·c + ‖c‖² expansion, first-occurrence argmin
    = smaller-code tie-break). One numpy pass per Arrow batch
    instead of m interpreted k×sub lambdas per row (r18
    optimization, guide §4.2)."""
    mats = [np.array(bj, dtype=np.int64) for bj in codebooks]
    sub = mats[0].shape[1]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _enc(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype=object)
        A = np.stack(xs.to_numpy()).astype(np.int64)
        cols = []
        for j, M in enumerate(mats):
            X = A[:, j * sub:(j + 1) * sub]
            D = (
                (X * X).sum(axis=1, keepdims=True)
                - 2 * (X @ M.T)
                + (M * M).sum(axis=1)[None, :]
            )
            cols.append(D.argmin(axis=1).astype("int32"))
        return pd.Series(list(np.stack(cols, axis=1)))

    return _enc(vq)


def _require_micro_books(codebooks) -> tuple[int, int, int]:
    """Validate PQ codebooks and return (m, k, sub). Fails loudly on
    the two silent-garbage inputs: float codebooks (e.g. micro/1e6
    components — F.lit(int(x)) would truncate every component to 0
    and every code to 0) and ragged shapes."""
    m = len(codebooks)
    if not m or not codebooks[0]:
        raise ValueError("codebooks must be non-empty list[m][k][sub]")
    ks = {len(book) for book in codebooks}
    subs = {len(cent) for book in codebooks for cent in book}
    if len(ks) != 1 or len(subs) != 1:
        raise ValueError(f"ragged codebooks: k per book {sorted(ks)}, sub lengths {sorted(subs)}")
    for book in codebooks:
        for cent in book:
            for x in cent:
                if not isinstance(x, int) or isinstance(x, bool):
                    raise TypeError(
                        "codebooks must be the MICRO integer form "
                        "(as pq_fit returns); got "
                        f"{type(x).__name__} component {x!r}"
                    )
    return m, ks.pop(), subs.pop()


def _require_len(vq: Column, n: int, what: str) -> Column:
    """Wrap a micro-quantized vector column so a length mismatch with
    the fitted codebooks raises at execution instead of silently
    truncating tail dims (slice) or null-padding (zip_with)."""
    return F.when(F.size(vq) == n, vq).otherwise(
        F.raise_error(F.concat(F.lit(f"{what}: expected {n} dims, got "), F.size(vq).cast("string")))
    )


def pq_fit(
    base: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Fit m per-subspace codebooks of k centroids each (k-means with
    min-L2 assignment — the PQ objective, unlike the dot-max IVF
    coarse quantizer). Seeds are the k vectors with smallest
    (md5(vec_id), vec_id) — the same reproducible order as
    ivf_fit_centroids; means are floor(sum/n) over exact integer
    sums; empty cells keep their previous centroid. The m subspaces
    train TOGETHER: each vector explodes into m (j, slice) rows — the
    same total data volume as the raw vectors — so every Lloyd step
    is ONE narrow assignment pass plus ONE map-combinable
    groupBy((j, cid))-sum over the whole corpus, not m sequential
    re-scans (the shared _lloyd_iterations contract, min-L2 metric).
    Only m*k*(dim/m) integers ever reach the driver, so fitting
    scales to any corpus. Returns the MICRO integer codebooks
    list[m][k][sub] that pq_encode/pq_adc_topk/ivf_pq_topk take."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # same hardening as pq_encode/pq_adc_topk: a base vector shorter
    # than dim would otherwise slice short and null-pad through
    # zip_with in _argmin_l2_matrix, silently corrupting assignments
    qdf = base.select(
        F.col(id_col).alias("__id"),
        _require_len(quantize_vec(F.col(vec_col)), dim, "pq_fit").alias("__vq"),
    )
    seed_rows = (
        qdf.orderBy(md5_order(F.col("__id")), F.col("__id")).limit(k).collect()
    )
    books: list[list[list[int]]] = [
        [list(map(int, r["__vq"][j * sub : (j + 1) * sub])) for r in seed_rows]
        for j in range(m)
    ]
    sv = qdf.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("__j"),
                        F.slice("__vq", j * sub + 1, sub).alias("__sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__e")
    ).select("__e.__j", "__e.__sv")
    _lloyd_iterations(sv, books, iterations, sub, "l2")
    return books


def pq_encode(
    base: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to its m nearest-centroid codes
    (array<int>). A narrow map-only pass — ZERO shuffles at any
    corpus size; the micro-quantized vector is projected into a real
    column first so the m subspace argmins slice one materialized
    array instead of re-evaluating the quantization per subspace
    (interpreted higher-order lambdas sit outside codegen CSE — the
    round-7 text.py lesson). ``codebooks`` must be the MICRO integer
    form (as pq_fit returns) — float codebooks raise TypeError, and
    vectors whose length differs from the fitted m*sub raise at
    execution instead of silently truncating/null-padding."""
    m, _, sub = _require_micro_books(codebooks)
    q = base.select(
        F.col(id_col),
        _require_len(
            quantize_vec(F.col(vec_col)), m * sub, "pq_encode"
        ).alias("__vq"),
    )
    return q.select(id_col, _codes_batched(F.col("__vq"), codebooks).alias("codes"))


def _adc_dist(
    codebooks: list[list[list[int]]], qv_col: str, codes_col: str = "codes"
) -> Column:
    """Summed per-subspace squared-L2 asymmetric distance between a
    micro-quantized query-vector column and a PQ code column, against
    literal micro-integer codebooks. The ONE ADC recipe shared by
    :func:`pq_adc_topk` and :func:`ivf_pq_topk` — their scoring is
    pinned equal by test, so the expression must never drift apart.
    Exact int64 arithmetic throughout (micro components ≤ ~1e6 →
    squared diffs ≤ 4e12, 32-term sums ≤ 1.3e14 < 2^63)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cbs = [
        F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in codebooks[j]])
        for j in range(m)
    ]
    zero = F.lit(0).cast("long")
    parts = [
        F.aggregate(
            F.zip_with(
                F.slice(qv_col, j * sub + 1, sub),
                F.element_at(cbs[j], F.col(codes_col)[j] + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            zero,
            lambda acc, x: acc + x,
        )
        for j in range(m)
    ]
    dist = parts[0]
    for p in parts[1:]:
        dist = dist + p
    return dist


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance top-k: each query scans the COMPRESSED
    code table (m ints per vector, not dim floats) and scores
    sum_j ||q_j − codebook[j][code_j]||² in exact integer micro²
    units. The query batch (an operational constant) is the only
    broadcast side; ranking is a per-query row_number that
    WindowGroupLimit prunes map-side (~k rows per query reach the
    exchange). Output: (query_id, vec_id, adc_dist_micro2, rank),
    rank 1 = nearest, ties toward the smaller vec_id. ``codebooks``
    must be the MICRO integer form (as pq_fit returns) — float
    codebooks raise TypeError; query vectors of the wrong length
    raise at execution."""
    m, _, sub = _require_micro_books(codebooks)
    q = queries.select(
        F.col(query_id_col),
        _require_len(
            quantize_vec(F.col(vec_col)), m * sub, "pq_adc_topk"
        ).alias("__qv"),
    )
    joined = codes.crossJoin(F.broadcast(q))
    scored = joined.select(
        query_id_col, id_col, _adc_dist(codebooks, "__qv").alias("adc_dist_micro2")
    )
    return _top_k(scored, query_id_col, id_col, "adc_dist_micro2", k, ascending=True)


def ivf_pq_topk(
    base: DataFrame,
    queries: DataFrame,
    dim: int,
    codebooks: list[list[list[int]]],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ composed ANN search (the FAISS IVFPQ shape): the IVF
    coarse quantizer prunes the corpus to each query's ``n_probe``
    nearest cells, then asymmetric-distance scoring runs over the
    PQ-COMPRESSED codes of just those cells — candidate count ∝
    probed cell sizes AND bytes scanned ∝ m ints per candidate, the
    two pruning axes of :func:`ivf_topk` and :func:`pq_adc_topk`
    multiplied together. Scoring/ranking semantics are identical to
    ``pq_adc_topk`` restricted to the probed cells (pinned by test).

    Scale shape: ONE narrow pass computes each base vector's cell
    assignment and PQ codes (the quantized vector is materialized
    once — interpreted lambdas sit outside codegen CSE); only the
    operational-constant query batch broadcasts; ranking is a
    per-query row_number that WindowGroupLimit prunes map-side.
    ``codebooks`` must be the MICRO integer form (as pq_fit returns);
    ``centroids`` (float micro/1e6 form) skips the coarse fit when the
    caller already holds one."""
    m, _, sub = _require_micro_books(codebooks)
    if centroids is None:
        centroids = ivf_fit_centroids(base, dim, n_cells, iterations, id_col, vec_col)
    bq = base.select(
        F.col(id_col),
        _cell_batched(F.col(vec_col), centroids).alias("__cell"),
        _require_len(
            quantize_vec(F.col(vec_col)), m * sub, "ivf_pq_topk"
        ).alias("__vq"),
    )
    b = bq.select(
        id_col, "__cell", _codes_batched(F.col("__vq"), codebooks).alias("codes")
    )
    probes = F.transform(
        F.slice(F.array_sort(_centroid_scores(F.col(vec_col), centroids)), 1, n_probe),
        lambda s: s["cid"],
    )
    q = queries.select(
        F.col(query_id_col),
        _require_len(
            quantize_vec(F.col(vec_col)), m * sub, "ivf_pq_topk"
        ).alias("__qv"),
        F.explode(probes).alias("__cell"),
    )
    joined = b.join(F.broadcast(q), "__cell")
    scored = joined.select(
        query_id_col, id_col, _adc_dist(codebooks, "__qv").alias("adc_dist_micro2")
    )
    return _top_k(scored, query_id_col, id_col, "adc_dist_micro2", k, ascending=True)
