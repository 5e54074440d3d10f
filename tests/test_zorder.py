"""Z-order keys: interleave correctness and quantization."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_frame_spark.operators.zorder import interleave_bits, zorder_key


def _py_interleave(a: int, b: int, bits: int = 16) -> int:
    k = 0
    for i in range(bits):
        k |= ((a >> i) & 1) << (2 * i)
        k |= ((b >> i) & 1) << (2 * i + 1)
    return k


def test_interleave_matches_reference_bit_math(spark):
    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 42)]
    df = spark.createDataFrame(cases, "a long, b long")
    rows = df.select(
        "a", "b", interleave_bits(F.col("a"), F.col("b")).alias("k")
    ).collect()
    for r in rows:
        assert r["k"] == _py_interleave(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_key_quantizes_both_dims(spark):
    # corners of the value box map to corners of the z-curve
    df = spark.createDataFrame(
        [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0)], "x double, y double"
    )
    rows = {(r["x"], r["y"]): r["zkey"] for r in
            zorder_key(df, "x", "y").collect()}
    assert rows[(0.0, 0.0)] == 0
    assert rows[(100.0, 100.0)] == _py_interleave(65535, 65535)
    assert rows[(100.0, 0.0)] == _py_interleave(65535, 0)
    assert rows[(0.0, 100.0)] == _py_interleave(0, 65535)
