"""Core frame operators: projection, filtering, NA helpers, describe.

Reference surface covered here (SURVEY.md §2.1-2.2, §2.4):
  df-select / df-select*        (df.rkt:811-818, 873-884)  -> select_series
  #:filter / valid-only         (df.rkt:546-552)           -> where / drop_na
  df-count-na / df-has-na?      (df.rkt:284-299)           -> count_na / has_na
  df-describe                   (private/describe.rkt:29-83) -> describe

All formulations are single-pass, shuffle-free (describe is one
global agg), and push filters/projections into the scan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_frame_spark.operators.colnames import quoted as _qc
from data_frame_spark.session import local_frame
from pyspark.sql import types as T


def select_series(
    df: DataFrame,
    cols: Sequence[str],
    where: Column | None = None,
    valid_only: bool = False,
) -> DataFrame:
    """``df-select*``: project columns, optionally filter.

    ``valid_only`` reproduces the reference's canned NA-dropping
    filter (row kept iff every selected value is non-NA,
    df.rkt:546-552).
    """
    out = df
    if where is not None:
        out = out.where(where)
    out = out.select(*[_qc(c) if isinstance(c, str) else c for c in cols])
    if valid_only:
        # explicit NULL/NaN conjunction instead of na.drop(): the JVM
        # side of DataFrameNaFunctions PARSES the frame's column
        # names, so a dotted output name broke it (r18 sweep). Same
        # semantics — NaN counts as missing only for float/double.
        conds = []
        for f in out.schema.fields:
            c = _qc(f.name)
            cond = c.isNotNull()
            if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
                cond = cond & ~F.isnan(c)
            conds.append(cond)
        for cond in conds:
            out = out.where(cond)
    return out


def count_na(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """``df-count-na`` per series: one row, one count column per series.

    Single global aggregate — a map-side-combinable plan with one
    tiny shuffle regardless of input size.
    """
    cols = list(cols or df.columns)
    aggs = [
        F.count(F.when(_qc(c).isNull(), F.lit(1))).alias(f"na_{c}") for c in cols
    ]
    return df.agg(*aggs)


def has_na(df: DataFrame, col: str) -> bool:
    """``df-has-na?``: any NULL in the series (early-exit via limit)."""
    return df.where(_qc(col).isNull()).limit(1).count() > 0


def has_non_na(df: DataFrame, col: str) -> bool:
    """``df-has-non-na?`` (df.rkt:294-299)."""
    return df.where(_qc(col).isNotNull()).limit(1).count() > 0


def drop_na(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """valid-only projection (df.rkt:546-552)."""
    return df.na.drop(how="any", subset=list(cols) if cols else None)


_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def describe(df: DataFrame) -> DataFrame:
    """``df-describe``: per-series NA count + min/max/mean/stddev.

    Returns a tall frame (series, count, na_count, min, max, mean,
    stddev); non-numeric series get NULL stats but keep counts.
    One aggregate pass over the data, then a tiny driver-side pivot
    of the single result row (constant-size — scale-safe).

    Mean/stddev are derived from order-insensitive quantized Σx and
    Σx² (sample stddev = sqrt((Σx² − (Σx)²/n)/(n−1))) so the result
    is independent of partitioning/aggregation order.
    """
    from data_frame_spark.exact import dsum

    numeric = {f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC)}
    aggs = []
    for c in df.columns:
        aggs.append(F.count(_qc(c)).alias(f"cnt__{c}"))
        aggs.append(F.count(F.when(_qc(c).isNull(), 1)).alias(f"na__{c}"))
        if c in numeric:
            x = _qc(c).cast("double")
            n = F.count(x)
            sx = dsum(x, scale=6)
            sxx = dsum(x * x, scale=4)
            var = (sxx - sx * sx / n) / (n - F.lit(1))
            aggs += [
                F.min(x).alias(f"min__{c}"),
                F.max(x).alias(f"max__{c}"),
                (sx / n).alias(f"mean__{c}"),
                F.when(n > 1, F.sqrt(var)).alias(f"std__{c}"),
            ]
    row = df.agg(*aggs).collect()[0].asDict()
    spark = df.sparkSession
    out_rows = []
    for c in df.columns:
        out_rows.append(
            (
                c,
                row[f"cnt__{c}"],
                row[f"na__{c}"],
                row.get(f"min__{c}"),
                row.get(f"max__{c}"),
                row.get(f"mean__{c}"),
                row.get(f"std__{c}"),
            )
        )
    schema = T.StructType(
        [
            T.StructField("series", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("na_count", T.LongType()),
            T.StructField("min", T.DoubleType()),
            T.StructField("max", T.DoubleType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("stddev", T.DoubleType()),
        ]
    )
    return local_frame(spark, out_rows, schema)
