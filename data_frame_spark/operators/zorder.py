"""Z-order (Morton) clustering keys — multi-dimensional data skipping.

A 100 TB table is usually pruned on more than one column (time AND
user, lat AND lon). Sorting the files by one column gives perfect
min/max row-group skipping on it and none on the others; interleaving
the bits of BOTH columns' quantized ranks (Morton 1966 — the curve
behind Delta/Iceberg ``OPTIMIZE ZORDER BY``) gives useful skipping on
each: any axis-aligned predicate touches only the row groups whose
z-range intersects the query box.

Everything here is pure Column arithmetic (bit shifts and masks —
whole-stage codegen, no UDFs):

* :func:`quantize_minmax` — map a numeric column onto the integer
  grid [0, 2^bits) against its broadcast (min, max) range.
* :func:`zorder_key` — interleave two grid columns' bits into one
  long key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_minmax(df: DataFrame, value_col: str, bits: int = 16) -> DataFrame:
    """Add ``__q_<col>``: the column's position on the [0, 2^bits)
    integer grid between its global min and max (one aggregate-sized
    broadcast join; NULLs map to grid cell 0)."""
    x = F.col(value_col).cast("double")
    rng = df.agg(
        F.min(x).alias("__qlo"), F.max(x).alias("__qhi")
    )
    cells = (1 << bits) - 1
    scaled = F.when(F.col("__qhi") == F.col("__qlo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor(
                (x - F.col("__qlo"))
                / ((F.col("__qhi") - F.col("__qlo")) / F.lit(float(1 << bits)))
            ),
            F.lit(cells).cast("long"),
        )
    )
    return (
        df.crossJoin(F.broadcast(rng))
        .withColumn(f"__q_{value_col}", F.coalesce(scaled, F.lit(0)))
        .drop("__qlo", "__qhi")
    )


def interleave_bits(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton-interleave two [0, 2^bits) longs: bit i of ``a`` lands
    at position 2i, bit i of ``b`` at 2i+1. Pure shift/mask Column
    arithmetic — stays inside whole-stage codegen."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + (
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def zorder_key(
    df: DataFrame, col_a: str, col_b: str, bits: int = 16, out: str = "zkey"
) -> DataFrame:
    """Quantize both columns and add their Morton key as ``out``."""
    q = quantize_minmax(quantize_minmax(df, col_a, bits), col_b, bits)
    return q.withColumn(
        out, interleave_bits(F.col(f"__q_{col_a}"), F.col(f"__q_{col_b}"), bits)
    ).drop(f"__q_{col_a}", f"__q_{col_b}")
