"""Distributed building blocks for globally-ordered operators.

A partitionless Spark window (``Window.orderBy(...)`` with no
``partitionBy``) moves the entire input through ONE partition — an
executor-OOM scale-killer at 100 TB. These helpers re-express the
three globally-ordered primitives the engine needs — global rank,
global running sum, previous-row lag — as range-bucketed two-level
computations:

1. **Bucket boundaries** from one ``percentile_approx`` aggregate
   (map-side combinable; the collected boundary list is
   aggregate-sized, ~``n_buckets`` doubles).
2. **Bucket assignment** as a pure monotonic Column expression
   (count of boundaries <= x) — stays in whole-stage codegen.
3. **Per-bucket offsets** from a tiny groupBy(bucket) aggregate
   (one map-combinable shuffle of |buckets| rows), cumulated with a
   window over the bucket table (bounded by bucket count, not data).
4. **Within-bucket windows** partitioned by bucket — the only
   data-sized shuffle, hash-partitioned on the bucket key.

Correctness does not depend on boundary placement: ANY deterministic
monotonic bucketing yields the same global order (rows with equal
bucket keys land in the same bucket, so cross-bucket order is
strict). Skewed boundaries only affect balance. Ties on the bucket
key that are broken by later order columns stay inside one bucket,
so within-bucket windows see every tie group whole.

The reference computes these with in-memory vector scans
(df.rkt:590-660 fold/running paths); this module is the 1000-executor
re-expression.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators.colnames import quoted as _qc

# Boundary placement only affects load BALANCE, never correctness
# (any monotonic bucketing preserves global order), so a coarse
# sketch is enough — accuracy 1000 keeps the boundary job cheap.
_DEFAULT_ACCURACY = 1_000


def _ACCURACY_LIT() -> Column:
    return F.lit(_DEFAULT_ACCURACY)


def sketch_col(col: Column, one_in: int = 10) -> Column:
    """Subsampled copy of ``col`` for boundary sketching: NULL for
    ~(one_in-1)/one_in of rows (percentile_approx skips NULLs), so
    the sketch does ~1/one_in of the work in the same single scan.
    Hash-based (deterministic — rand() is rejected inside aggregate
    args). Boundary placement only affects bucket balance, never
    results, so sampling is free."""
    return F.when(F.pmod(F.hash(col, F.lit(0x9E3779B9)), F.lit(one_in)) == 0, col)


def _n_buckets(df: DataFrame) -> int:
    try:
        return max(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), 1)
    except Exception:
        return 32


def ensure_parallelism(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan currently has fewer
    partitions than the target — the small-file/local case where a
    compute-heavy downstream (e.g. a candidate-pair verify fan-out)
    would otherwise run on one task. Naturally-split big inputs pass
    through untouched, so no shuffle is added at scale. An explicit
    numPartitions is exempt from AQE coalescing, which would fold a
    small shuffle back to one task."""
    n = n or _n_buckets(df)
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def bucket_expr(col: Column, boundaries: Sequence[float]) -> Column:
    """Monotonic bucket id: number of boundaries <= x (0..len(bs)).

    A short-circuiting CASE WHEN chain — stays inside whole-stage
    codegen (a higher-order ``F.aggregate`` lambda would not) and
    costs ~|bs|/2 compiled comparisons per row. NULLs sort first in
    Spark ASC order, so they are pinned to bucket 0."""
    x = col.cast("double")
    if not boundaries:
        return F.lit(0)
    expr = F.when(x.isNull() | (x < F.lit(float(boundaries[0]))), F.lit(0))
    for i, b in enumerate(boundaries[1:], start=1):
        expr = expr.when(x < F.lit(float(b)), F.lit(i))
    return expr.otherwise(F.lit(len(boundaries)))


def compute_boundaries(
    df: DataFrame,
    col: str | Column,
    n_buckets: int,
    mode: str = "depth",
) -> list[float]:
    """Split points for the range bucketing. ``mode="depth"``:
    ~equi-depth via one percentile_approx aggregate (any
    distribution). ``mode="width"``: equal-width between min and max
    — a much cheaper min/max aggregate, right for near-uniform axes
    (timestamps, sequence numbers); skew only affects balance, never
    correctness. Returns a deduplicated ascending list."""
    c = _qc(col) if isinstance(col, str) else col
    if n_buckets <= 1:
        return []
    if mode == "width":
        row = df.agg(
            F.min(c.cast("double")).alias("lo"), F.max(c.cast("double")).alias("hi")
        ).collect()[0]
        lo, hi = row["lo"], row["hi"]
        if lo is None or hi is None or not (hi > lo):
            return []
        step = (hi - lo) / n_buckets
        out = []
        for i in range(1, n_buckets):
            b = lo + step * i
            if not out or b > out[-1]:
                out.append(float(b))
        return out
    probs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(
        F.percentile_approx(
            sketch_col(c.cast("double")), probs, F.lit(_DEFAULT_ACCURACY)
        ).alias("bs")
    ).collect()[0]
    bs = row["bs"] or []
    out: list[float] = []
    for b in bs:
        if b is not None and (not out or b > out[-1]):
            out.append(float(b))
    return out


def _bucketed(
    df: DataFrame,
    order_by: Sequence[str | Column],
    n_buckets: int | None,
    boundaries: Sequence[float] | None = None,
    mode: str = "depth",
):
    """Attach __bucket (monotonic in the first order column) and return
    (bucketed_df, within-bucket window ordered by the full key)."""
    cols = [_qc(c) if isinstance(c, str) else c for c in order_by]
    if boundaries is None:
        boundaries = compute_boundaries(
            df, cols[0], n_buckets or _n_buckets(df), mode
        )
    b = df.withColumn("__bucket", bucket_expr(cols[0], boundaries))
    w = Window.partitionBy("__bucket").orderBy(*cols)
    return b, w


def _bucket_offsets(b: DataFrame, agg: Column) -> Column:
    """Exclusive prefix of the per-bucket aggregate ``agg`` over
    ``b``'s ``__bucket`` column, collected driver-side (|buckets|
    values; an empty or NULL bucket adds 0) and inlined as a literal
    lookup keyed by ``__bucket``."""
    per = {r[0]: r[1] for r in b.groupBy("__bucket").agg(agg).collect()}
    offs, acc = [], 0
    for i in range(max(per, default=-1) + 1):
        offs.append(acc)
        acc += per.get(i) or 0
    offs = offs or [0]
    return F.element_at(F.array(*[F.lit(o) for o in offs]), F.col("__bucket") + 1)


def with_global_rank(
    df: DataFrame,
    order_by: Sequence[str | Column],
    out: str = "__rn",
    n_buckets: int | None = None,
    boundaries: Sequence[float] | None = None,
) -> DataFrame:
    """Global 1-based row_number over ``order_by`` without a
    partitionless window: within-bucket row_number + per-bucket count
    offsets. One data shuffle (hash by bucket) + one tiny counts job
    whose |buckets|-long result is inlined as a literal lookup — the
    main job is then a single scan+window with no second branch."""
    b, w = _bucketed(df, order_by, n_buckets, boundaries)
    off = _bucket_offsets(b, F.count(F.lit(1)).alias("__n"))
    return (
        b.withColumn(out, off + F.row_number().over(w))
        .drop("__bucket")
    )


def with_running_sum(
    df: DataFrame,
    order_by: Sequence[str | Column],
    value_col: str | Column,
    out: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Inclusive global running sum of ``value_col`` over ``order_by``:
    within-bucket running sum + per-bucket total offsets (collected
    driver-side — |buckets| values — and inlined as a literal lookup).
    Offsets are exact only when the per-bucket totals are; callers
    pass integer-quantized values (e.g. token counts)."""
    v = _qc(value_col) if isinstance(value_col, str) else value_col
    b, w = _bucketed(df, order_by, n_buckets)
    b = b.withColumn("__rsv", v)
    off = _bucket_offsets(b, F.sum("__rsv").alias("__t"))
    run = F.sum("__rsv").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return b.withColumn(out, off + run).drop("__bucket", "__rsv")


def with_prev_marked(
    df: DataFrame,
    order_by: Sequence[str],
    value_cols: Sequence[str],
    mark: Column,
    boundaries: Sequence[float],
    marked_src: DataFrame | None = None,
    out: str = "__pm",
) -> DataFrame:
    """For every row, ONE struct column ``out`` holding the
    ``value_cols`` of the LAST row satisfying ``mark`` at-or-before it
    in global ``order_by`` order — the backward half of an
    interpolation bracket — without a partitionless window. The
    forward half is free when marked rows carry next-pointers (see
    ``meanmax._global_A_table``), so no forward/DESC variant exists:
    a second full sort pass is never needed.

    One within-bucket ASC running pass (a single ``last`` over the
    packed struct, not one window function per column) resolves rows
    whose previous marked row is in their own bucket; bucket-first
    gaps are patched from a per-bucket marked summary cumulated over
    the bucket spine (aggregate-sized — allowed partitionless, with
    an EXCLUSIVE -1 frame so a bucket never patches itself) and
    broadcast back. Rows with equal first order key share a bucket,
    so cross-bucket order is strict and the patch is exact.

    ``marked_src``: optional pre-projection equal to
    ``df.where(mark)`` restricted to ``order_by + value_cols`` — lets
    a caller whose marked rows are a cheap projection of an upstream
    table keep the summary branch from re-deriving ``df`` (e.g. skip
    re-running an explode).
    """
    spark = df.sparkSession
    ocols = [_qc(c) for c in order_by]
    okey = F.struct(*ocols)
    vstruct = F.struct(*[_qc(c) for c in value_cols])
    b = df.withColumn("__bucket", bucket_expr(ocols[0], boundaries))
    asc_w = Window.partitionBy("__bucket").orderBy(*ocols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    o = b.withColumn(
        out, F.last(F.when(mark, vstruct), ignorenulls=True).over(asc_w)
    )
    src = marked_src if marked_src is not None else df.where(mark)
    sb = src.withColumn("__bucket", bucket_expr(ocols[0], boundaries))
    summ = sb.groupBy("__bucket").agg(F.max_by(vstruct, okey).alias("__l"))
    spine = spark.range(len(boundaries) + 1).select(
        F.col("id").cast("int").alias("__bucket")
    )
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = spine.join(F.broadcast(summ), "__bucket", "left").select(
        "__bucket", F.last("__l", ignorenulls=True).over(wb).alias("__cl")
    )
    o = o.join(F.broadcast(carry), "__bucket", "left")
    return o.withColumn(out, F.coalesce(_qc(out), F.col("__cl"))).drop(
        "__bucket", "__cl"
    )


def width_boundaries(lo: float, hi: float, n_buckets: int) -> list[float]:
    """Equal-width split points from known min/max — lets a caller
    that already collected (min, max) in another aggregate reuse it
    instead of paying a second boundary job."""
    if lo is None or hi is None or not (hi > lo) or n_buckets <= 1:
        return []
    step = (hi - lo) / n_buckets
    out: list[float] = []
    for i in range(1, n_buckets):
        bv = lo + step * i
        # strictly inside (lo, hi): sub-ULP ranges round bv onto the
        # endpoints — skip those rather than emit degenerate splits
        if bv <= lo or bv >= hi:
            continue
        if not out or bv > out[-1]:
            out.append(float(bv))
    return out


def with_lag(
    df: DataFrame,
    order_by: Sequence[str | Column],
    cols: Sequence[str],
    prefix: str = "__lag_",
    n_buckets: int | None = None,
    boundaries: Sequence[float] | None = None,
    boundary_mode: str = "depth",
) -> DataFrame:
    """Previous-row values of ``cols`` in global ``order_by`` order.
    Within-bucket lag; each bucket's first row is patched from the
    previous nonempty bucket's last row (carried through a tiny
    max_by aggregate + lead over the bucket table).
    ``boundary_mode="width"`` uses the cheap min/max boundary job —
    right when the order axis is near-uniform (timestamps)."""
    b, w = _bucketed(df, order_by, n_buckets, boundaries, boundary_mode)
    ocols = [_qc(c) if isinstance(c, str) else c for c in order_by]
    out = b.withColumn("__lrn1", F.row_number().over(w))
    for c in cols:
        out = out.withColumn(prefix + c, F.lag(_qc(c)).over(w))
    # last row per bucket, map-side combinable; lead() maps it to the
    # NEXT nonempty bucket (robust to empty buckets in between)
    last = b.groupBy("__bucket").agg(
        F.max_by(F.struct(*[_qc(c) for c in cols]), F.struct(*ocols)).alias("__last")
    )
    nxt_w = Window.orderBy("__bucket")
    carry = last.select(
        F.lead("__bucket").over(nxt_w).alias("__bucket"), "__last"
    ).where(F.col("__bucket").isNotNull())
    out = out.join(F.broadcast(carry), "__bucket", "left")
    for c in cols:
        out = out.withColumn(
            prefix + c,
            F.when(F.col("__lrn1") == 1, F.col("__last").getField(c)).otherwise(
                _qc(prefix + c)
            ),
        )
    return out.drop("__bucket", "__lrn1", "__last")
