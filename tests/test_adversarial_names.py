"""Adversarial-schema sweep (r16/r17 verdict surplus item): dotted,
spaced, and unicode column names through the public §2 operator
entries. Spark PARSES bare strings in select/window/agg positions,
so an unquoted dotted name either fails with UNRESOLVED_COLUMN or —
worse — silently resolves a struct FIELD of the same spelling. Every
operator here must (a) produce the same values under a weird name as
under a plain one and (b) prefer the literal top-level column when a
struct field of the same dotted spelling exists (the shadow test).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators import core as OpCore
from data_frame_spark.operators import histogram as OpH
from data_frame_spark.operators import lookup as OpLook
from data_frame_spark.operators import scatter as OpSc
from data_frame_spark.operators import stats as OpStats
from data_frame_spark.operators import window as OpW

NAMES = ["a.b", "a b", "vä l", "select"]


def _base(spark, nm):
    rows = [
        (1, 1.0, 10.0, "x"),
        (2, 2.0, 20.0, "y"),
        (3, 4.0, 15.0, "x"),
        (4, 7.0, None, "y"),
        (5, 11.0, 30.0, "x"),
    ]
    return spark.createDataFrame(rows, ["idx", "cw", nm, "k"])


def _rows(df):
    cols = [f.name for f in df.schema.fields]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("nm", NAMES)
def test_sweep_core_stats_histogram_scatter(spark, nm):
    ref = _base(spark, "v")
    odd = _base(spark, nm)

    # select/valid-only
    assert _rows(OpCore.select_series(odd, [nm, "k"], valid_only=True)) == _rows(
        OpCore.select_series(ref, ["v", "k"], valid_only=True)
    )
    # NA helpers + describe
    assert OpCore.count_na(odd).collect()[0][f"na_{nm}"] == 1
    assert OpCore.has_na(odd, nm) and OpCore.has_non_na(odd, nm)
    d_ref = {r["series"]: r for r in OpCore.describe(ref).collect()}
    d_odd = {r["series"]: r for r in OpCore.describe(odd).collect()}
    assert d_odd[nm]["mean"] == d_ref["v"]["mean"]
    assert d_odd[nm]["na_count"] == 1
    # stats: unweighted + trapezoidal weighted + quantiles
    assert _rows(OpStats.unweighted_stats(odd, nm)) == _rows(
        OpStats.unweighted_stats(ref, "v")
    )
    assert _rows(
        OpStats.weighted_stats(odd, nm, "cw", order_by=["idx"])
    ) == _rows(OpStats.weighted_stats(ref, "v", "cw", order_by=["idx"]))
    assert _rows(OpStats.quantiles(odd, nm)) == _rows(OpStats.quantiles(ref, "v"))
    assert _rows(
        OpStats.weighted_quantiles(odd, nm, "cw", ["idx"], probs=[0.0, 0.5, 1.0])
    ) == _rows(
        OpStats.weighted_quantiles(ref, "v", "cw", ["idx"], probs=[0.0, 0.5, 1.0])
    )
    # histogram (unweighted + weighted)
    assert _rows(OpH.histogram(odd, nm, width=10.0)) == _rows(
        OpH.histogram(ref, "v", width=10.0)
    )
    assert _rows(
        OpH.weighted_histogram(odd, nm, "cw", order_by=["idx"], width=10.0)
    ) == _rows(OpH.weighted_histogram(ref, "v", "cw", order_by=["idx"], width=10.0))
    # scatter group-samples
    assert _rows(OpSc.group_samples(odd, "k", nm)) == _rows(
        OpSc.group_samples(ref, "k", "v")
    )


@pytest.mark.parametrize("nm", NAMES)
def test_sweep_window_lookup(spark, nm):
    ref = _base(spark, "v")
    odd = _base(spark, nm)

    assert _rows(OpW.delta(odd, nm, ["idx"], partition_by=["k"], name="d")) == _rows(
        OpW.delta(ref, "v", ["idx"], partition_by=["k"], name="d")
    )
    assert _rows(
        OpW.cumulative(odd, "cw", ["idx"], partition_by=[nm], name="c")
    ) == _rows(OpW.cumulative(ref, "cw", ["idx"], partition_by=["v"], name="c"))

    probes = spark.createDataFrame([(1.5,), (5.0,)], ["cw"])
    got = OpLook.asof_join(probes, odd.where(F.col("idx") <= 3), "cw", [nm])
    want = OpLook.asof_join(probes, ref.where(F.col("idx") <= 3), "cw", ["v"])
    assert _rows(got) == _rows(want)


def test_struct_field_shadow(spark):
    # the frame carries BOTH a struct a(b) and a literal top-level
    # column named "a.b" — the operator must read the literal column
    # (value 100.0), never the struct field (value -1.0)
    df = spark.createDataFrame(
        [(1, (-1.0,), 100.0), (2, (-1.0,), 200.0)],
        "idx int, a struct<b: double>, `a.b` double",
    )
    st = {r["series"]: r for r in OpCore.describe(df).collect()}
    assert st["a.b"]["mean"] == 150.0
    out = OpStats.unweighted_stats(df, "a.b").collect()[0]
    assert out["mean"] == 150.0 and out["min"] == 100.0
    assert _rows(OpCore.select_series(df, ["a.b"])) == [(100.0,), (200.0,)]
    h = {r["bucket"]: r["count"] for r in OpH.histogram(df, "a.b", width=100.0).collect()}
    assert h[1] == 1 and h[2] == 1
    d = OpW.delta(df, "a.b", ["idx"], partition_by=[], name="d")
    assert sorted(r["d"] for r in d.collect() if r["d"] is not None) == [100.0]
