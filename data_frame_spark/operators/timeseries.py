"""Regular time-bucket gap-fill with LOCF / linear interpolation.

The hypertable-rollup primitive (TimescaleDB's ``time_bucket_gapfill``
+ ``locf()`` / ``interpolate()``): bucket an irregular event series
onto a regular grid, emit EVERY bucket between each entity's first
and last observation, and fill the empty ones from the neighboring
observed buckets. No reference twin — the reference's series are
always densely sampled (its GPX/TCX tracks carry a point per tick,
SURVEY §1.2), so it never needed a gap-filling resample; this is the
net-new time-series leg of the training-data/events story (regular
grids are what downstream per-step models and dashboards consume).

Exactness contract (the repo-wide integer discipline): values are
quantized to integer micros BEFORE any aggregate; every division
uses FLOOR semantics — NEITHER engine's native integer division
does (Spark's ``div`` and DuckDB's ``//`` BOTH truncate toward
zero, verified live on DuckDB 1.0.0), so both the bucket index and
the per-bucket mean carry an explicit one-row floor correction on
both sides. The linear fill is FLOOR of a double lerp evaluated
identically on both engines (IEEE-deterministic; the slope
numerator is cast to double BEFORE the multiply so nothing can
wrap int64). Exactness domain: the product
``(nv - pv) * (bucket - pb)`` within 2^53 — means are bounded by
the VALUE range times 10^scale (never by corpus size), so this
holds for any series whose values fit in ~2^53/10^scale; beyond
it the lerp loses ulps consistently on both engines rather than
diverging. Within the domain every output is a LONG, bit-identical
on any engine/partitioning, and the DuckDB twin hashes exactly.

Scale shape: everything is keyed by the entity. One (entity, bucket)
exchange does the per-bucket aggregate; the per-entity grid is built
by exploding ``sequence(min_bucket, max_bucket)`` from a
map-combinable span aggregate (grid size is CALENDAR-bounded per
entity — the corpus can grow without widening any entity's grid);
the observed buckets re-join the grid on the same (entity, bucket)
key; both fill passes are entity-partitioned running frames (the
forward pass is a DESC-ordered running frame — Spark's UNBOUNDED
FOLLOWING frame is O(n²), the lookup.py lesson). No partitionless
window, no broadcast, no collect.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators.colnames import quoted, quoted_name

#: fills supported by :func:`time_bucket_gapfill`
FILLS = ("locf", "linear", "null")


def floor_div_expr(num: str, den: str) -> str:
    """SQL-expression string for FLOOR division of ``num`` by a
    POSITIVE ``den`` — Spark's ``div`` truncates toward zero, so
    negative non-exact quotients need the −1 correction. ONE
    definition for every Spark call site; :func:`sql_floor_div` is
    the DuckDB-dialect mirror (kept textually in sync by the
    negative-input parity test)."""
    return f"({num}) div ({den}) - IF(({num}) % ({den}) != 0 AND ({num}) < 0, 1, 0)"


def sql_floor_div(num: str, den: str) -> str:
    """DuckDB-dialect twin of :func:`floor_div_expr` (DuckDB's ``//``
    also truncates toward zero: (-7)//2 = -3), for oracle SQL."""
    return (
        f"({num}) // ({den}) - CASE WHEN ({num}) % ({den}) <> 0 "
        f"AND ({num}) < 0 THEN 1 ELSE 0 END"
    )


def time_bucket_gapfill(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_width: int,
    partition_by: Sequence[str],
    fill: str = "locf",
    value_scale: int = 6,
) -> DataFrame:
    """Bucket ``ts_col`` (a LONG in the caller's time unit, e.g.
    epoch-micros) into width-``bucket_width`` buckets per entity,
    aggregate ``value_col`` per bucket (exact integer-micro mean:
    quantized sum floor-divided by count), then emit one row per
    bucket from each entity's first to last observed bucket with the
    empty buckets filled:

    - ``fill='locf'``: last observed bucket's mean carries forward.
      Each entity's span STARTS at its first observed bucket (NULL
      values are dropped before bucketing), so the LOCF output is
      non-NULL for every row of the span by construction.
    - ``fill='linear'``: integer lerp between the previous and next
      observed buckets (``pv + (nv - pv) * (b - pb) div (nb - pb)``,
      floor semantics); clamps to the nearest observed value at the
      span edges.
    - ``fill='null'``: gaps stay NULL (the bare resample).

    Output: ``partition_by`` + ``bucket`` (LONG bucket index),
    ``n`` (observed rows in the bucket, 0 for gaps), ``mean_micro``
    (the observed exact mean, NULL for gaps) and ``filled_micro``
    (the fill result). Rows whose value is NULL are dropped before
    bucketing (the reference's valid-only stance, df.rkt:301-318).
    """
    if fill not in FILLS:
        raise ValueError(f"time_bucket_gapfill fill must be one of {FILLS}")
    if bucket_width <= 0:
        raise ValueError("time_bucket_gapfill bucket_width must be > 0")
    pcols = list(partition_by)
    if not pcols:
        # a global grid would need a partitionless fill window — the
        # 100 TB hazard this module exists to avoid; callers bucket a
        # literal entity in if they truly have one series
        raise ValueError("time_bucket_gapfill needs partition_by keys")

    # EVERY caller-supplied name is backtick-quoted wherever Spark
    # would PARSE it (operators/colnames.py — the shared discipline;
    # r15 ADVICE for ts_col, review follow-up for value_col and the
    # partition keys). Join-by-name lists stay UNquoted: Spark's
    # usingColumns resolves them by exact name, not by parsing.
    ts_q = quoted_name(ts_col)
    pq = [quoted(c) for c in pcols]
    mult = 10 ** value_scale
    v = quoted(value_col).cast("double")
    # FLOOR bucket index, not Spark's truncating `div`: a negative
    # timestamp must land in the bucket BELOW zero, not share a
    # double-width bucket 0 with positive timestamps
    base = df.where(v.isNotNull() & F.col(ts_q).isNotNull()).select(
        *pq,
        F.expr(floor_div_expr(ts_q, str(bucket_width))).alias("bucket"),
        F.floor(v * mult + F.lit(0.5)).cast("long").alias("__vm"),
    )
    agg = base.groupBy(*pq, F.col("bucket")).agg(
        F.sum("__vm").alias("__sm"), F.count(F.lit(1)).alias("n")
    )
    spans = agg.groupBy(*pq).agg(
        F.min("bucket").alias("__b0"), F.max("bucket").alias("__b1")
    )
    grid = spans.select(
        *pq,
        F.explode(F.expr("sequence(__b0, __b1)")).alias("bucket"),
    )
    j = (
        grid.join(agg, [*pcols, "bucket"], "left")
        # mean BEFORE the n coalesce: NULL div NULL stays NULL for
        # gap rows (div-by-zero never evaluates). FLOOR division, not
        # Spark's truncating `div` — BOTH engines' native integer
        # division truncates toward zero (DuckDB (-7)//2 = -3,
        # verified live), so the oracle twin carries the SAME
        # correction; floor is the documented contract.
        .withColumn("mean_micro", F.expr(floor_div_expr("__sm", "n")))
        .select(
            *pq,
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "mean_micro",
        )
    )
    if fill == "null":
        return j.withColumn("filled_micro", F.col("mean_micro"))

    back = (
        Window.partitionBy(*pq)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if fill == "locf":
        return j.withColumn(
            "filled_micro", F.last("mean_micro", ignorenulls=True).over(back)
        )

    # linear: carry (bucket, mean) structs from both directions; the
    # forward pass is a DESC running frame (O(n), not the O(n²)
    # UNBOUNDED FOLLOWING frame)
    fwd = (
        Window.partitionBy(*pq)
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs = F.when(
        F.col("mean_micro").isNotNull(),
        F.struct(F.col("bucket").alias("b"), F.col("mean_micro").alias("v")),
    )
    out = (
        j.withColumn("__p", F.last(obs, ignorenulls=True).over(back))
        .withColumn("__n", F.last(obs, ignorenulls=True).over(fwd))
    )
    pv, pb = F.col("__p.v"), F.col("__p.b")
    nv, nb = F.col("__n.v"), F.col("__n.b")
    # the slope numerator casts to DOUBLE BEFORE the multiply: a
    # long*long product would WRAP silently past int64 on Spark
    # (DuckDB raises), while the double product merely loses ulps
    # past 2^53 — identically on both engines (IEEE-deterministic)
    lerp = pv + (nv - pv).cast("double") * (F.col("bucket") - pb) / (nb - pb)
    filled = (
        F.when(F.col("mean_micro").isNotNull(), F.col("mean_micro"))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(F.floor(lerp).cast("long"))
    )
    return out.select(
        *pq, "bucket", "n", "mean_micro", filled.alias("filled_micro")
    )
