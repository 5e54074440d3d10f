from __future__ import annotations

import math
import random

import numpy as np
import pytest

from data_frame_spark.operators import rdp as R
from data_frame_spark.operators import scatter as SC
from data_frame_spark.operators.spline import Spline, fit_spline


def test_rdp_straight_line_collapses(spark):
    rows = [(float(i), 2.0 * i + 1, "a") for i in range(100)]
    df = spark.createDataFrame(rows, ["x", "y", "g"])
    out = R.rdp_simplify(df, "x", "y", epsilon=0.01).collect()
    assert len(out) == 2  # endpoints only
    xs = sorted(r["x"] for r in out)
    assert xs == [0.0, 99.0]


def test_rdp_monotone_in_epsilon(spark):
    # df-test.rkt:1423-1479: larger epsilon -> fewer points
    rng = random.Random(3)
    rows = [(float(i), math.sin(i / 5) * 10 + rng.uniform(-1, 1)) for i in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    sizes = [
        R.rdp_simplify(df, "x", "y", epsilon=e).count() for e in (0.5, 1.0, 2.0, 5.0)
    ]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    assert sizes[0] < 200


def test_rdp_keep_positions():
    x = np.arange(50, dtype=float)
    y = np.zeros(50)
    mask = R.rdp_simplify_arrays(x, y, epsilon=0.1, keep_positions=[20])
    assert mask[20] and mask[21]  # kept point and its successor
    assert mask[0] is not None and mask[49]
    assert mask.sum() <= 6


def test_rdp_groups_independent(spark):
    rows = [(float(i), 0.0, "flat") for i in range(50)] + [
        (float(i), float((-1) ** i), "zigzag") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["x", "y", "g"])
    out = R.rdp_simplify(df, "x", "y", epsilon=0.5, group_by=["g"])
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert counts["flat"] == 2
    assert counts["zigzag"] == 50  # every zigzag vertex is essential


def test_group_samples(spark):
    rows = [(1.04, 2.04), (1.04, 2.04), (0.96, 1.96), (3.0, 4.0)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = {(r["x"], r["y"]): r["rank"] for r in SC.group_samples(df, "a", "b").collect()}
    assert out[(1.0, 2.0)] == 3  # 1.04 and 0.96 both round to 1.0
    assert out[(3.0, 4.0)] == 1


def test_group_samples_by_factor(spark):
    # group-samples/factor: the same rounded pair counts separately
    # per factor value (each factor is its own scatter series)
    rows = [("a", 1.04, 2.04), ("a", 0.96, 1.96), ("b", 1.0, 2.0)]
    df = spark.createDataFrame(rows, ["f", "a", "b"])
    out = {
        (r["f"], r["x"], r["y"]): r["rank"]
        for r in SC.group_samples(df, "a", "b", by="f").collect()
    }
    assert out[("a", 1.0, 2.0)] == 2
    assert out[("b", 1.0, 2.0)] == 1


def test_spline_interpolates_knots_and_extrapolates():
    xs = [0.0, 1.0, 2.0, 3.0, 4.0]
    ys = [0.0, 1.0, 0.0, 1.0, 0.0]
    sp = Spline(xs, ys)
    for x, y in zip(xs, ys):
        assert sp(x) == pytest.approx(y, abs=1e-9)
    # natural spline: zero second derivative at ends
    assert sp.m[0] == 0 and sp.m[-1] == 0
    # linear extrapolation: equal slope steps outside the range
    d1 = sp(-1.0) - sp(-2.0)
    d2 = sp(0.0) - sp(-1.0)
    assert d1 == pytest.approx(d2, abs=1e-9)


def test_spline_predict_column_matches_scalar(spark):
    xs = [0.0, 1.0, 2.5, 4.0]
    ys = [1.0, 3.0, -1.0, 2.0]
    sp = Spline(xs, ys)
    probes = [-0.5, 0.0, 0.7, 1.0, 2.0, 3.9, 4.0, 5.5]
    df = spark.createDataFrame([(p,) for p in probes], ["x"])
    from pyspark.sql import functions as F

    got = {
        r["x"]: r["y"]
        for r in df.withColumn("y", sp.predict(F.col("x"))).collect()
    }
    for p in probes:
        assert got[p] == pytest.approx(sp(p), abs=1e-9)


def test_fit_spline_from_df(spark):
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(5)], ["x", "y"]
    )
    sp = fit_spline(df, "x", "y")
    assert sp(2.0) == pytest.approx(4.0, abs=1e-9)


def _rdp_mask_stack(x, y, epsilon):
    # reference: an explicit-stack walk, one segment at a time
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        start, stop = stack.pop()
        if stop - start <= 1:
            continue
        x1, y1, x2, y2 = x[start], y[start], x[stop], y[stop]
        dx, dy = x2 - x1, y2 - y1
        denom = np.hypot(dx, dy)
        xs, ys = x[start + 1 : stop], y[start + 1 : stop]
        if denom == 0.0:
            dists = np.hypot(xs - x1, ys - y1)
        else:
            dists = np.abs(dy * xs - dx * ys + (x2 * y1 - y2 * x1)) / denom
        m = int(np.argmax(dists)) + start + 1
        if dists[m - start - 1] > epsilon:
            keep[m] = True
            stack += [(start, m), (m, stop)]
    return keep


def test_rdp_keep_matches_per_segment_walk():
    # the level-by-level kernel keeps exactly the points the
    # one-segment-at-a-time walk keeps: grid points (distance ties go
    # to the first index), repeated points (zero-length chords) and
    # NaNs (never split), one polyline at a time and many at once
    rng = np.random.default_rng(7)
    polylines = []
    for i in range(400):
        n = int(rng.integers(1, 40))
        x = rng.integers(0, 6, n).astype(float)
        y = rng.integers(0, 6, n).astype(float)
        if i % 4 == 1:
            x = np.sort(rng.normal(size=n)) * 100
            y = rng.normal(size=n) * 10
        elif i % 4 == 2:
            y[rng.integers(0, n)] = np.nan
        polylines.append((x, y))
    with np.errstate(invalid="ignore"):
        want = [_rdp_mask_stack(x, y, 1.0) for x, y in polylines]
    for (x, y), w in zip(polylines, want):
        assert R.rdp_mask(x, y, 1.0).tolist() == w.tolist()
    sizes = np.array([len(x) for x, _ in polylines])
    stops = np.cumsum(sizes) - 1
    got = R.rdp_keep(
        np.concatenate([x for x, _ in polylines]),
        np.concatenate([y for _, y in polylines]),
        stops - sizes + 1,
        stops,
        1.0,
    )
    assert got.tolist() == np.concatenate(want).tolist()


def test_rdp_degenerate_sizes():
    # df-test.rkt:1429-1446: 0/1/2-point inputs pass through unchanged
    import numpy as np

    assert R.rdp_mask(np.array([]), np.array([]), 1.0).tolist() == []
    assert R.rdp_mask(np.array([0.0]), np.array([1.0]), 1.0).tolist() == [True]
    assert R.rdp_mask(
        np.array([0.0, 0.0]), np.array([1.0, 2.0]), 1.0
    ).tolist() == [True, True]


def test_rdp_real_1136_epsilon_and_keep_positions(spark):
    # df-test.rkt:1447-1478 on the real (timer, spd) trajectory:
    # larger epsilon keeps fewer points; keep-positions forces the
    # midway point AND its successor to survive; out-of-range keep
    # positions are ignored
    import os
    import numpy as np
    from data_frame_spark.sources import csv as CSV

    ref = "/root/reference/private/test/test-data/track-data-1136.csv"
    if not os.path.exists(ref):
        import pytest as _pytest

        _pytest.skip("reference not present")
    df = CSV.read_csv(spark, ref)
    rows = sorted(
        ((r["timer"], r["spd"]) for r in df.select("timer", "spd").collect()
         if r["spd"] is not None)
    )
    x = np.array([r[0] for r in rows], dtype=float)
    y = np.array([r[1] for r in rows], dtype=float)
    n1 = R.rdp_mask(x, y, 0.01).sum()
    n2 = R.rdp_mask(x, y, 0.02).sum()
    n3 = R.rdp_mask(x, y, 0.03).sum()
    assert n2 < n1 and n3 < n2
    mid = len(x) // 2
    mask = R.rdp_simplify_arrays(
        x, y, 0.03, keep_positions=[mid, len(x) - 1, len(x) + 5]
    )
    assert mask[mid] and mask[mid + 1]
