"""Lookup / as-of join family.

The reference's sorted-series lookups are as-of joins in disguise
(SURVEY.md §2.3): ``df-lookup``/``df-lookup*`` binary-search a
sorted column and read other columns at that row (df.rkt:474-507);
``df-lookup/interpolated`` linearly interpolates between the two
bracketing rows (df.rkt:514-538); ``time-delay-series`` shifts a
series by *time* rather than rows (private/scatter.rkt:35-57).

Spark formulation: union the probe rows into the base table's sort
order and propagate the last/next base row with window functions —
one shuffle on (partition keys, sort key), no driver-side loops, no
per-probe scans. With ``partition_by`` keys the sort stays
distributed; DuckDB's ASOF JOIN provides the oracle twin.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.operators.colnames import quoted as _qc


def asof_join(
    probes: DataFrame,
    base: DataFrame,
    on: str,
    value_cols: Sequence[str],
    partition_by: Sequence[str] = (),
    direction: str = "backward",
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each probe row, the base row with the greatest
    ``on`` <= probe's ``on`` (direction='backward'; 'forward' takes
    the least >=). Probe columns are all kept; ``value_cols`` from
    base are appended (NULL when nothing matches — the reference
    returns NA out-of-range, df.rkt:481-485).

    Implementation: tag and union both sides, sort within
    (partition_by, on, tag) and carry the last non-null base ROW
    (one struct holding every value column) forward (or backward).
    Carrying a single struct — not each column independently —
    guarantees all returned columns come from the *same* matched base
    row and that a NULL stored in that row survives (the reference
    returns the found row including its NAs, df.rkt:474-507).
    Cost: one shuffle of probes+base on the partition keys — no
    joins, no N×M comparisons; skew follows the partition keys, not
    probe fan-out.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    pcols = list(partition_by)
    probe_tag, base_tag = (1, 0) if not strict else (0, 1)

    b = base.select(
        *[_qc(c) if isinstance(c, str) else c for c in pcols],
        _qc(on).alias("__k"),
        F.lit(base_tag).alias("__tag"),
        F.struct(*[_qc(c).alias(c) for c in value_cols]).alias("__row"),
    )
    p = (
        probes.withColumn("__k", _qc(on).cast(b.schema["__k"].dataType))
        .withColumn("__tag", F.lit(probe_tag))
    )
    u = p.unionByName(b, allowMissingColumns=True)

    if direction == "backward":
        w = Window.partitionBy(*[_qc(c) for c in pcols]).orderBy("__k", "__tag").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    else:
        # key desc + tag asc: at an equal key the base row precedes the
        # probe iff base_tag < probe_tag (non-strict) — mirrors backward.
        w = Window.partitionBy(*[_qc(c) for c in pcols]).orderBy(
            F.col("__k").desc(), F.col("__tag").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)

    out = u.withColumn("__row", F.last(F.col("__row"), ignorenulls=True).over(w))
    out = out.where(F.col("__tag") == probe_tag)
    keep = [_qc(c) for c in probes.columns] + [
        F.col("__row").getField(c).alias(c) for c in value_cols
    ]
    return out.select(*keep)


def interpolated_lookup(
    probes: DataFrame,
    base: DataFrame,
    on: str,
    value_cols: Sequence[str],
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """``df-lookup/interpolated`` (df.rkt:514-538): for probe key v
    between bracketing base keys k0 <= v <= k1, each value column is
    interpolated ``y0 + t*(y1-y0)`` with ``t=(v-k0)/(k1-k0)``;
    clamped to the first/last base row outside the range; an exact
    hit (k0==k1==v) returns the stored value.

    Same union+window trick as :func:`asof_join`, carrying both the
    previous base row and the next base row as single structs
    (key + every value column) so the bracketing rows are never torn
    across columns and stored NULLs survive.
    """
    pcols = list(partition_by)
    b = base.select(
        *pcols,
        F.col(on).cast("double").alias("__k"),
        F.lit(0).alias("__tag"),
        F.struct(
            F.col(on).cast("double").alias("__bk"),
            *[_qc(c).cast("double").alias(c) for c in value_cols],
        ).alias("__row"),
    )
    p = probes.withColumn("__k", F.col(on).cast("double")).withColumn("__tag", F.lit(1))
    u = p.unionByName(b, allowMissingColumns=True)

    # backward pass: last base key/value at or before the probe
    wb = Window.partitionBy(*pcols).orderBy("__k", "__tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # forward pass: first base key/value strictly after the probe,
    # expressed as a DESC-ordered running frame (Spark's UNBOUNDED
    # FOLLOWING frame is O(n^2); a running frame is O(n))
    wf = Window.partitionBy(*pcols).orderBy(
        F.col("__k").desc(), F.col("__tag").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        u.withColumn("__s0", F.last(F.col("__row"), ignorenulls=True).over(wb))
        .withColumn("__s1", F.last(F.col("__row"), ignorenulls=True).over(wf))
        .where(F.col("__tag") == 1)
        .withColumn("__k0", F.col("__s0.__bk"))
        .withColumn("__k1", F.col("__s1.__bk"))
    )

    t_frac = (F.col("__k") - F.col("__k0")) / (F.col("__k1") - F.col("__k0"))
    exprs = [_qc(c) for c in probes.columns]
    for c in value_cols:
        y0, y1 = F.col(f"__s0.{c}"), F.col(f"__s1.{c}")
        interp = (
            # clamp below range -> first value; above -> last value
            F.when(F.col("__k0").isNull(), y1)
            .when(F.col("__k1").isNull(), y0)
            .when(F.col("__k1") == F.col("__k0"), y0)
            .otherwise(y0 + t_frac * (y1 - y0))
        )
        exprs.append(interp.alias(c))
    return out.select(*exprs)


def time_delay_series(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    amount,
    partition_by: Sequence[str] = (),
    name: str | None = None,
) -> DataFrame:
    """``time-delay-series`` (private/scatter.rkt:35-57): replace each
    row's value with the value at time ``ts + amount``. The reference
    binary-searches lower-bound (first row with ts >= target), i.e. a
    *forward* as-of. Rows with no counterpart get NULL (the reference
    drops them — filter on the result to match).

    Expressed as a self as-of join: probes = the frame with shifted
    key; base = the frame itself. One shuffle, distributed by
    ``partition_by``.
    """
    name = name or f"{value_col}_delayed"
    probes = df.withColumn("__probe_ts", F.col(ts_col) + F.lit(amount))
    shifted = asof_join(
        probes.withColumnRenamed(ts_col, "__orig_ts").withColumnRenamed(
            "__probe_ts", ts_col
        ),
        df.select(*[_qc(c) for c in partition_by], _qc(ts_col).alias(ts_col), _qc(value_col).alias(name)),
        on=ts_col,
        value_cols=[name],
        partition_by=partition_by,
        direction="forward",
    )
    return (
        shifted.withColumnRenamed(ts_col, "__probe_ts")
        .withColumnRenamed("__orig_ts", ts_col)
        .drop("__probe_ts")
    )
