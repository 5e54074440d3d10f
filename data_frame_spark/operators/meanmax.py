"""Mean-maximal ("critical power") curve — the reference's flagship
custom operator (private/meanmax.rkt).

Semantics (meanmax.rkt:141-189): build the delta series of adjacent
samples — dt = x2-x1, slice = dt*(y1+y2)/2 (trapezoid area), pos =
x1 — then for each duration d slide a window over slices starting at
every sample position x_i; the last slice is prorated *linearly*
(partial_y = slice * partial_dt/dt). Windows that run past the last
sample are excluded. Best = max (min when ``inverted``, e.g. pace)
of window_total/d; ties keep the earliest position (strict
comparison in maybe-update).

Spark-first formulation: the window total is exactly
``A(x_i + d) - A(x_i)`` where A is the piecewise-LINEAR
interpolation of cumulative slice areas at sample points (linear
proration == linear interpolation of A). So:

  1. lag-window -> slices; running sum -> A_i per sample.   [1 sort]
  2. probes = (sample starts × durations), k = x_i + d,
     filtered to k <= x_max.
  3. union probes into the (x, A) point set; one ordered window
     pass carries the bracketing (x0,A0)/(x1,A1) for every probe
     -> interpolated A(x_i+d).                              [1 sort]
  4. groupBy duration -> best mean + earliest achieving position.

Two sorts + one small aggregate, all distributed; the duration
ladder (meanmax.rkt:44-82) keeps the probe fan-out at
O(n·|durations|), |durations| ≈ 80 — the reference's own
sparsification, kept verbatim.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators import distributed as D

#: meanmax.rkt:35-39 — durations always included in the ladder.
IMPORTANT_DURATIONS = [
    10, 15, 30, 45, 60, 75, 90, 120, 180, 300, 600, 900,
    1200, 1800, 2700, 3600, 5400, 7200, 10800,
]


def generate_durations(
    start: int = 10,
    limit: int = 300 * 60,
    growth_factor: float = 1.2,
    max_growth: int = 300,
) -> list[int]:
    """meanmax.rkt:44-57: geometric ladder with min +5 (bumped to
    +20) and max +300 s growth per step."""
    series = [start]
    current = start
    while True:
        nval = round(current * growth_factor)
        if nval < current + 5:
            nval = current + 20
        if nval > current + max_growth:
            nval = current + max_growth
        if nval >= limit:
            break
        series.append(nval)
        current = nval
    return series


def default_durations() -> list[int]:
    """meanmax.rkt:59-82: generated ladder merged with the important
    durations (sorted union)."""
    return sorted(set(generate_durations()) | set(IMPORTANT_DURATIONS))


def mean_max(
    df: DataFrame,
    value_col: str,
    x_col: str,
    durations: Sequence[int] | None = None,
    inverted: bool = False,
    partition_by: Sequence[str] = (),
    slice_scale: int | None = None,
    tiebreak_col: str | None = None,
    inverted_durations: Sequence[int] | None = None,
) -> DataFrame:
    """``df-mean-max`` (meanmax.rkt:262-269). Returns
    (duration, best_mean, start_pos) per duration with at least one
    full window; ``x_col`` is the cumulative extent axis (elapsed
    seconds, distance, ...).

    ``slice_scale``: when set, slice areas are quantized to
    10^-scale before the cumulative sum, making the running sum
    associative — required for bit-identical results across engines
    (window SUM uses a segment tree in some engines, sequential
    accumulation in others, which reorders float additions).

    ``tiebreak_col``: secondary sort key for inputs with duplicate x
    values (lap-swim expansion emits coincident segment end/start
    points whose A-curve order matters — end must cumulate first).

    ``inverted_durations``: when set (a subset of ``durations``), the
    result ALSO carries the #:inverted? facet for those durations and
    gains a boolean ``inverted`` column — both facets come from ONE
    shared pipeline and ONE aggregate (a lexicographic max AND min
    struct in the same groupBy, exploded to two rows), so asking for
    both costs one pass instead of two full mean-max builds.
    """
    durations = list(durations or default_durations())
    if inverted_durations is not None:
        if inverted:
            raise ValueError(
                "inverted= and inverted_durations= are mutually exclusive: "
                "the faceted result always carries the normal (max) facet"
            )
        missing = set(inverted_durations) - set(durations)
        if missing:
            raise ValueError(f"inverted_durations not in durations: {missing}")
    spark = df.sparkSession
    pcols = list(partition_by)

    x = F.col(x_col).cast("double")
    y = F.col(value_col).cast("double")
    tb = [F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []
    pts = (
        df.where(x.isNotNull() & y.isNotNull())
        .select(*pcols, x.alias("__x"), *tb, y.alias("__y"))
    )
    okeys = ["__x", "__tb"] if tiebreak_col else ["__x"]
    if not pcols:
        return _mean_max_global(
            spark, pts, okeys, durations, inverted, slice_scale,
            inverted_durations,
        )
    ow = Window.partitionBy(*pcols).orderBy(*okeys)
    # slice ENDING at this sample; A = cumulative area at this sample
    # (sum of slices up to here). First sample: slice NULL -> A = 0.
    sliced = (
        pts.withColumn("__px", F.lag("__x").over(ow))
        .withColumn("__py", F.lag("__y").over(ow))
        .withColumn(
            "__slice",
            (F.col("__x") - F.col("__px"))
            * (F.col("__py") + F.col("__y")) / 2,
        )
        .withColumn("__A", _cum_area(ow, slice_scale))
        .withColumn("__nx", F.lead("__x").over(ow))
        .withColumn("__nA", F.lead("__A").over(ow))
        .withColumn("__xmax", F.max("__x").over(Window.partitionBy(*pcols)))
    )

    # ONE pass over sliced emits the base point AND every in-range
    # probe as an exploded struct array — the union-of-two-selects
    # formulation duplicates the whole upstream window chain in the
    # plan (no exchange reuse across the branches), doubling the
    # scan+sort work; explode keeps a single branch.
    u = _explode_probes_and_base(
        sliced,
        pcols,
        durations,
        started=F.col("__nx").isNotNull(),
        in_range=lambda k: k <= F.col("__xmax"),
        aux=["__xmax"],
    )

    # ONE ASC running pass: base rows carry next-pointers, so the
    # forward bracket is the backward bracket's (next x, next A) —
    # no DESC-sorted second window pass needed; the bracket values
    # travel as a single packed struct (one window function).
    back = (
        Window.partitionBy(*pcols)
        .orderBy("__k", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ms = F.when(
        F.col("__tag") == 0,
        F.struct("__bx", "__bA", "__bnx", "__bnA"),
    )
    interp = u.withColumn(
        "__pm", F.last(ms, ignorenulls=True).over(back)
    ).where(F.col("__tag") == 1)
    a_end = _interp_a(
        F.col("__k"),
        F.col("__pm.__bx"),
        F.col("__pm.__bA"),
        F.col("__pm.__bnx"),
        F.col("__pm.__bnA"),
    )
    means = interp.select(
        *pcols,
        "duration",
        "pos",
        ((a_end - F.col("__A_start")) / F.col("duration")).alias("__mean"),
    )
    if inverted_durations is not None:
        return _best_both_facets(means, pcols, inverted_durations)
    return _best_by_duration(means, pcols, inverted)


def _global_A_table(pts, okeys, slice_scale, boundaries):
    """The (x, A) cumulative-area table for a single (unpartitioned)
    series, built in ONE shuffled+sorted stage and ONE eager
    localCheckpoint:

    - within-bucket ``lag`` (row frame) patched across buckets by a
      tiny last-row-per-bucket broadcast carry,
    - trapezoid slice + (optionally quantized) within-bucket running
      sum (running frame) and per-bucket total (full frame) — all
      three window passes share the bucket shuffle and sort,
    - the checkpoint materializes (bucket, x, rel, btot) once; the
      cross-bucket offsets are a |buckets|-sized running sum over the
      distinct (bucket, btot) table broadcast-joined back — no driver
      barrier (at 100 TB: the checkpoint is a parquet stage table).

    Replaces the two-checkpoint with_lag→with_running_sum chain: one
    materialization and zero offset collects instead of two + two.
    """
    okey_cols = [F.col(c) for c in okeys]
    b = pts.withColumn("__bucket", D.bucket_expr(F.col("__x"), boundaries))
    w = Window.partitionBy("__bucket").orderBy(*okeys)
    lagged = (
        b.withColumn("__lrn1", F.row_number().over(w))
        .withColumn("__p__x", F.lag("__x").over(w))
        .withColumn("__p__y", F.lag("__y").over(w))
    )
    last = b.groupBy("__bucket").agg(
        F.max_by(F.struct("__x", "__y"), F.struct(*okey_cols)).alias("__last")
    )
    nxt_w = Window.orderBy("__bucket")
    carry = last.select(
        F.lead("__bucket").over(nxt_w).alias("__bucket"), "__last"
    ).where(F.col("__bucket").isNotNull())
    lagged = lagged.join(F.broadcast(carry), "__bucket", "left")
    px = F.when(F.col("__lrn1") == 1, F.col("__last.__x")).otherwise(F.col("__p__x"))
    py = F.when(F.col("__lrn1") == 1, F.col("__last.__y")).otherwise(F.col("__p__y"))
    sl = (F.col("__x") - px) * (py + F.col("__y")) / 2
    if slice_scale is not None:
        m = float(10**slice_scale)
        qv = F.floor(sl * F.lit(m) + F.lit(0.5))
    else:
        m = None
        qv = sl
    # broadcast join preserves the stream side's partitioning AND
    # ordering, so these two window passes reuse the lag stage's
    # exchange+sort (prefix-compatible sort keys) — no new shuffle
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.partitionBy("__bucket")
    extra = [c for c in okeys if c != "__x"]
    staged = (
        lagged.withColumn("__rel", F.sum(qv).over(wrun))
        .withColumn("__btot", F.sum(qv).over(wtot))
        # next-pointers (same sorted stage): the forward bracket of
        # any probe is its backward bracket's next sample, so carrying
        # (next x, next rel) here saves the probe pass a whole
        # DESC-sorted window later
        .withColumn("__nx0", F.lead("__x").over(w))
        .withColumn("__nrel", F.lead("__rel").over(w))
        .select("__bucket", "__x", *extra, "__rel", "__btot", "__nx0", "__nrel")
    )
    ck = staged.localCheckpoint(eager=False)
    tiny = ck.select("__bucket", "__btot").distinct()
    woff = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = tiny.select(
        "__bucket",
        F.coalesce(F.sum("__btot").over(woff), F.lit(0)).alias("__off"),
    )
    # bucket-last rows' next sample lives in the NEXT nonempty bucket:
    # its first row (x, rel), keyed back to the previous bucket via a
    # lag over the |buckets|-sized summary; A_next there is
    # off(bucket) + btot(bucket) + rel_first(next bucket)
    firsts = ck.groupBy("__bucket").agg(
        F.min_by(F.struct("__x", "__rel"), F.struct(*okey_cols)).alias("__f")
    )
    nxt2 = Window.orderBy("__bucket")
    carryf = firsts.select(
        F.lag("__bucket").over(nxt2).alias("__bucket"), "__f"
    ).where(F.col("__bucket").isNotNull())
    out = ck.join(F.broadcast(offs), "__bucket", "left").join(
        F.broadcast(carryf), "__bucket", "left"
    )
    a = (F.col("__off") + F.coalesce(F.col("__rel"), F.lit(0))).cast("double")
    na = (
        F.when(
            F.col("__nx0").isNotNull(), F.col("__off") + F.col("__nrel")
        )
        .when(
            F.col("__f").isNotNull(),
            F.col("__off")
            + F.coalesce(F.col("__btot"), F.lit(0))
            + F.col("__f.__rel"),
        )
        .cast("double")
    )
    if m is not None:
        a = a / F.lit(m)
        na = na / F.lit(m)
    return (
        out.withColumn("__A", a)
        .withColumn("__nx", F.coalesce(F.col("__nx0"), F.col("__f.__x")))
        .withColumn("__nA", na)
        .drop("__bucket", "__rel", "__btot", "__off", "__nx0", "__nrel", "__f")
    )


def _marked_base(sliced):
    """The tag-0 rows of the probe union, as a direct projection of
    the A table — the bracket summary branch reads this instead of
    re-running the explode (marked rows ARE the samples)."""
    return sliced.select(
        F.col("__x").alias("__k"),
        F.lit(0).alias("__tag"),
        F.col("__x").alias("__bx"),
        F.col("__A").alias("__bA"),
        F.col("__nx").cast("double").alias("__bnx"),
        F.col("__nA").cast("double").alias("__bnA"),
    )


def _explode_probes_and_base(sliced, pcols, durations, started, in_range, aux=()):
    """Emit, from ONE scan of ``sliced``, the union the bracketing
    pass needs: a tag-0 base point per sample plus a tag-1 probe per
    (sample, duration) whose window fits. The struct array is a plain
    ``F.array`` of literal-duration structs (no higher-order lambda —
    those drop out of whole-stage codegen); ``explode`` then expands
    1+|durations| rows per sample, and the filter keeps base rows and
    in-range probes. Replaces probes-UNION-base, which planned the
    upstream window chain twice."""
    nd = F.lit(None).cast("double")
    parts = [
        F.struct(
            F.col("__x").alias("__k"),
            F.lit(0).alias("__tag"),
            nd.alias("duration"),
            nd.alias("pos"),
            nd.alias("__A_start"),
            F.col("__x").alias("__bx"),
            F.col("__A").alias("__bA"),
            F.col("__nx").cast("double").alias("__bnx"),
            F.col("__nA").cast("double").alias("__bnA"),
        )
    ]
    for d in durations:
        dl = F.lit(float(d))
        parts.append(
            F.struct(
                (F.col("__x") + dl).alias("__k"),
                F.lit(1).alias("__tag"),
                dl.alias("duration"),
                F.col("__x").alias("pos"),
                F.col("__A").alias("__A_start"),
                nd.alias("__bx"),
                nd.alias("__bA"),
                nd.alias("__bnx"),
                nd.alias("__bnA"),
            )
        )
    pre = sliced.withColumn("__started", started)
    keep = (F.col("__e.__tag") == 0) | (
        F.col("__started") & in_range(F.col("__e.__k"))
    )
    return (
        pre.select(
            *pcols, "__started", *aux, F.explode(F.array(*parts)).alias("__e")
        )
        .where(keep)
        .select(*pcols, "__e.*")
    )


def _interp_a(k, x0, A0, x1, A1):
    """A(k) by linear interpolation between the bracketing samples."""
    return F.when(x1.isNull() | (x1 == x0), A0).otherwise(
        A0 + (k - x0) / (x1 - x0) * (A1 - A0)
    )


def _best_both_facets(means, pcols, inverted_durations) -> DataFrame:
    """Both the normal and the #:inverted? pick from ONE aggregate:
    the lexicographic max(struct(mean, -pos)) AND min(struct(mean,
    pos)) run in the same groupBy, then explode into the
    (inverted=false, inverted=true) facet rows — never a second pass
    over the means (a plain union of two _best_by_duration branches
    would duplicate the entire upstream window chain in the plan,
    which is exactly the two-pipeline cost this path removes)."""
    agg = means.groupBy(*pcols, "duration").agg(
        F.max(
            F.struct(F.col("__mean").alias("m"), (-F.col("pos")).alias("p"))
        ).alias("__bx"),
        F.min(
            F.struct(F.col("__mean").alias("m"), F.col("pos").alias("p"))
        ).alias("__bn"),
    )
    facets = F.array(
        F.struct(
            F.col("__bx.m").alias("best_mean"),
            (-F.col("__bx.p")).alias("pos"),
            F.lit(False).alias("inverted"),
        ),
        F.struct(
            F.col("__bn.m").alias("best_mean"),
            F.col("__bn.p").alias("pos"),
            F.lit(True).alias("inverted"),
        ),
    )
    inv = [float(d) for d in inverted_durations]
    return (
        agg.select(*pcols, "duration", F.explode(facets).alias("__f"))
        .select(*pcols, "duration", "__f.best_mean", "__f.pos", "__f.inverted")
        .where(~F.col("inverted") | F.col("duration").isin(inv))
    )


def _best_by_duration(means, pcols, inverted: bool) -> DataFrame:
    """Best mean per duration, ties keeping the earliest position
    (meanmax.rkt maybe-update strict comparison) — as ONE map-side
    combinable aggregate: lexicographic max/min over
    struct(mean, -/+pos). No window, no sort, any scale."""
    if inverted:
        pick = F.min(
            F.struct(F.col("__mean").alias("m"), F.col("pos").alias("p"))
        ).alias("__b")
        pos = F.col("__b.p")
    else:
        pick = F.max(
            F.struct(F.col("__mean").alias("m"), (-F.col("pos")).alias("p"))
        ).alias("__b")
        pos = -F.col("__b.p")
    return (
        means.groupBy(*pcols, "duration")
        .agg(pick)
        .select(*pcols, "duration", F.col("__b.m").alias("best_mean"), pos.alias("pos"))
    )


def _mean_max_global(
    spark, pts, okeys, durations, inverted, slice_scale,
    inverted_durations=None,
) -> DataFrame:
    """Single-series (``partition_by=()``) path with ZERO
    partitionless windows: every globally-ordered pass is a
    range-bucketed two-level computation from
    :mod:`operators.distributed`. One tiny (min, max) aggregate
    yields both the equal-width bucket boundaries (the x axis is an
    elapsed-time/distance axis — near-uniform; boundary placement
    only affects balance, never results) and the xmax literal; the
    SAME boundaries serve the slice-lag pass, the A-cumulation, and
    the probe-bracketing pass, since probe positions k = x + d stay
    inside [xmin, xmax] by the window-fits filter."""
    row = pts.agg(F.min("__x").alias("lo"), F.max("__x").alias("hi")).collect()[0]
    if row["hi"] is None:
        schema = "duration double, best_mean double, pos double"
        if inverted_durations is not None:
            schema += ", inverted boolean"
        return spark.createDataFrame([], schema)
    lo, xmax = float(row["lo"]), float(row["hi"])
    boundaries = D.width_boundaries(lo, xmax, D._n_buckets(pts))
    sliced = _global_A_table(pts, okeys, slice_scale, boundaries)

    # "starts a slice" == "is not the last sample": any row with
    # __x < xmax has a successor; rows AT xmax generate no in-range
    # probe anyway (k = xmax + d > xmax), so the broadcast-scalar
    # test replaces the lead() pass exactly. One exploded pass emits
    # base point + probes (see _explode_probes_and_base).
    u = _explode_probes_and_base(
        sliced,
        [],
        durations,
        started=F.col("__x") < F.lit(xmax),
        in_range=lambda k: k <= F.lit(xmax),
    )
    br = D.with_prev_marked(
        u,
        ["__k", "__tag"],
        ["__bx", "__bA", "__bnx", "__bnA"],
        mark=F.col("__tag") == 0,
        boundaries=boundaries,
        marked_src=_marked_base(sliced),
    )
    interp = br.where(F.col("__tag") == 1)
    a_end = _interp_a(
        F.col("__k"),
        F.col("__pm.__bx"),
        F.col("__pm.__bA"),
        F.col("__pm.__bnx"),
        F.col("__pm.__bnA"),
    )
    means = interp.select(
        "duration",
        "pos",
        ((a_end - F.col("__A_start")) / F.col("duration")).alias("__mean"),
    )
    if inverted_durations is not None:
        return _best_both_facets(means, [], inverted_durations)
    return _best_by_duration(means, [], inverted)


def _cum_area(ow, slice_scale):
    """Cumulative slice area at each sample (0 at the first)."""
    frame = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if slice_scale is None:
        return F.coalesce(F.sum("__slice").over(frame), F.lit(0.0))
    m = F.lit(float(10**slice_scale))
    q = F.floor(F.col("__slice") * m + F.lit(0.5))
    return F.coalesce(F.sum(q).over(frame), F.lit(0)).cast("double") / m


def mean_max_aux(
    df: DataFrame,
    mm: DataFrame,
    aux_col: str,
    x_col: str,
    partition_by: Sequence[str] = (),
    slice_scale: int | None = None,
) -> DataFrame:
    """``df-mean-max-aux`` (meanmax.rkt:310-314): for each mean-max
    (duration, pos), the mean of a *second* series over the same
    window — same A-curve trick on the aux column, probing at
    (pos, pos+duration)."""
    return mean_max_probe(df, aux_col, x_col, mm, partition_by, slice_scale)


def mean_max_probe(df, value_col, x_col, mm, partition_by=(), slice_scale=None):
    pcols = list(partition_by)
    x = F.col(x_col).cast("double")
    y = F.col(value_col).cast("double")
    pts = df.where(x.isNotNull() & y.isNotNull()).select(
        *pcols, x.alias("__x"), y.alias("__y")
    )
    boundaries: list[float] | None = None
    if pcols:
        ow = Window.partitionBy(*pcols).orderBy("__x")
        sliced = (
            pts.withColumn("__px", F.lag("__x").over(ow))
            .withColumn("__py", F.lag("__y").over(ow))
            .withColumn(
                "__slice",
                (F.col("__x") - F.col("__px")) * (F.col("__py") + F.col("__y")) / 2,
            )
            .withColumn("__A", _cum_area(ow, slice_scale))
            .withColumn("__nx", F.lead("__x").over(ow))
            .withColumn("__nA", F.lead("__A").over(ow))
        )
    else:
        # single-series path: range-bucketed lag + running sum, zero
        # partitionless windows (same plan shape as _mean_max_global)
        row = pts.agg(F.min("__x").alias("lo"), F.max("__x").alias("hi")).collect()[0]
        if row["hi"] is None:
            return mm.select(
                *pcols, "duration", "pos", F.lit(None).cast("double").alias("aux_mean")
            ).where(F.lit(False))
        boundaries = D.width_boundaries(
            float(row["lo"]), float(row["hi"]), D._n_buckets(pts)
        )
        # one fused stage + checkpoint — see _global_A_table
        sliced = _global_A_table(pts, ["__x"], slice_scale, boundaries)
    # probes at both window ends for every (duration, pos) — exploded
    # from ONE scan of mm (a union of two selects would plan the whole
    # mean-max subtree twice; no exchange reuse across the branches)
    probes = mm.select(
        *pcols,
        "duration",
        "pos",
        F.explode(
            F.array(
                F.struct(
                    F.col("pos").cast("double").alias("__k"),
                    F.lit(0).alias("__end"),
                ),
                F.struct(
                    (F.col("pos") + F.col("duration")).cast("double").alias("__k"),
                    F.lit(1).alias("__end"),
                ),
            )
        ).alias("__e"),
    ).select(
        *pcols, "duration", "pos", F.col("__e.__k").alias("__k"), F.col("__e.__end").alias("__end")
    )
    base = sliced.select(
        *pcols,
        F.col("__x").alias("__k"),
        F.lit(0).alias("__tag"),
        F.col("__x").alias("__bx"),
        F.col("__A").alias("__bA"),
        F.col("__nx").cast("double").alias("__bnx"),
        F.col("__nA").cast("double").alias("__bnA"),
    )
    u = probes.withColumn("__tag", F.lit(1)).unionByName(
        base, allowMissingColumns=True
    )
    # base rows carry next-pointers: the forward bracket is the
    # backward bracket's next sample — one ASC running pass with a
    # packed struct, no DESC second sort (see mean_max)
    if pcols:
        back = (
            Window.partitionBy(*pcols)
            .orderBy("__k", "__tag")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ms = F.when(
            F.col("__tag") == 0,
            F.struct("__bx", "__bA", "__bnx", "__bnA"),
        )
        interp = u.withColumn(
            "__pm", F.last(ms, ignorenulls=True).over(back)
        ).where(F.col("__tag") == 1)
    else:
        interp = D.with_prev_marked(
            u,
            ["__k", "__tag"],
            ["__bx", "__bA", "__bnx", "__bnA"],
            mark=F.col("__tag") == 0,
            boundaries=boundaries or [],
            marked_src=_marked_base(sliced),
        ).where(F.col("__tag") == 1)
    a_at = _interp_a(
        F.col("__k"),
        F.col("__pm.__bx"),
        F.col("__pm.__bA"),
        F.col("__pm.__bnx"),
        F.col("__pm.__bnA"),
    )
    ends = interp.select(*pcols, "duration", "pos", "__end", a_at.alias("__Aat"))
    piv = (
        ends.groupBy(*pcols, "duration", "pos")
        .agg(
            F.max(F.when(F.col("__end") == 0, F.col("__Aat"))).alias("__As"),
            F.max(F.when(F.col("__end") == 1, F.col("__Aat"))).alias("__Ae"),
        )
    )
    return piv.select(
        *pcols,
        "duration",
        "pos",
        ((F.col("__Ae") - F.col("__As")) / F.col("duration")).alias("aux_mean"),
    )


def lap_swim_expand(
    df: DataFrame,
    value_col: str,
    x_col: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """``df-mean-max/lap-swim`` pre-transform (meanmax.rkt:270-304):
    discretely-sampled data (one sample per pool length, recorded at
    the END of the length) is expanded so each sample becomes two
    points — (prev_x, value) and (x, value) — turning each length
    into a constant-value segment; NA values become 0 instead of
    being dropped (pauses must count). Feed the result to
    :func:`mean_max` with ``tiebreak_col="lap_tb"``: expanded points
    can share an x coordinate (segment boundaries; the first sample
    of a relative axis collides with the synthetic x=0 start), and
    the A-curve cumulation must visit them in the reference's
    sequence order. ``lap_tb`` = 2k-1 for segment k's start point,
    2k for its end — since x is nondecreasing in sequence order,
    sorting by (x, lap_tb) IS the sequence order, whatever collides.
    """
    pcols = list(partition_by)
    x = F.col(x_col).cast("double")
    y = F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
    base = df.where(x.isNotNull()).select(
        *pcols, x.alias("__x"), y.alias("__y")
    )
    ow = (
        Window.partitionBy(*pcols).orderBy("__x")
        if pcols
        else Window.orderBy("__x")
    )
    tagged = base.withColumn(
        "__px", F.coalesce(F.lag("__x").over(ow), F.lit(0.0))
    ).withColumn("__k", F.row_number().over(ow))
    start_pts = tagged.select(
        *pcols, F.col("__px").alias(x_col), F.col("__y").alias(value_col),
        (2 * F.col("__k") - 1).alias("lap_tb"),
    )
    end_pts = tagged.select(
        *pcols, F.col("__x").alias(x_col), F.col("__y").alias(value_col),
        (2 * F.col("__k")).alias("lap_tb"),
    )
    return start_pts.unionByName(end_pts)
