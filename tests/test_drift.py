"""PSI distribution-drift operator (operators/drift.py)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from data_frame_spark.operators.drift import bucket_index, psi_drift
from data_frame_spark.plans import checks as C


def _brute_psi(rows, edges, scale=6):
    """Single-threaded reference: rows = [(group, split_is_ref, value)];
    returns {group: (n_ref, n_cmp, psi_micro)} with quantize-before-sum."""
    n_b = len(edges) + 1
    per = {}
    for g, is_ref, v in rows:
        if v is None or math.isnan(v):
            continue
        b = sum(1 for e in edges if v >= e)
        per.setdefault(g, {}).setdefault(b, [0, 0])
        per[g][b][0 if is_ref else 1] += 1
    out = {}
    mult = 10 ** scale
    for g, buckets in per.items():
        n_ref = sum(c[0] for c in buckets.values())
        n_cmp = sum(c[1] for c in buckets.values())
        psi = 0
        for b in range(n_b):
            cr, cc = buckets.get(b, (0, 0))
            p = (cr + 1) / (n_ref + n_b)
            q = (cc + 1) / (n_cmp + n_b)
            psi += math.floor((p - q) * math.log(p / q) * mult + 0.5)
        out[g] = (n_ref, n_cmp, psi)
    return out


def test_psi_identical_distributions_near_zero(spark):
    # the same rows on both sides -> every bucket's p == q -> PSI 0
    rows = [("g", s, float(v)) for s in ("a", "b") for v in range(20)]
    df = spark.createDataFrame(rows, "g string, s string, v double")
    out = psi_drift(df, "v", "s", "a", "b", [5.0, 10.0, 15.0], ["g"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_ref"], r["n_cmp"], r["psi_micro"]) == (20, 20, 0)


def test_psi_known_shift_and_brute_agreement(spark):
    # ref mass in low buckets, cmp mass in high buckets -> large PSI,
    # exactly the brute model's quantized value
    rows = (
        [("g", "a", 1.0)] * 8 + [("g", "a", 12.0)] * 2
        + [("g", "b", 1.0)] * 2 + [("g", "b", 12.0)] * 8
        # second group only in the REFERENCE split: must still emit
        + [("h", "a", 3.0)] * 5
    )
    df = spark.createDataFrame(rows, "g string, s string, v double")
    edges = [5.0, 10.0]
    got = {
        r["g"]: (r["n_ref"], r["n_cmp"], r["psi_micro"])
        for r in psi_drift(df, "v", "s", "a", "b", edges, ["g"]).collect()
    }
    want = _brute_psi(
        [(g, s == "a", v) for g, s, v in rows], edges
    )
    assert got == want
    assert got["g"][2] > 250_000  # a real shift reads past the 0.25 bar
    assert got["h"] == (5, 0, want["h"][2])  # one-sided group kept


def test_psi_guards(spark):
    df = spark.createDataFrame([("g", "a", 1.0)], "g string, s string, v double")
    with pytest.raises(ValueError, match="ascending"):
        psi_drift(df, "v", "s", "a", "b", [], ["g"])
    with pytest.raises(ValueError, match="ascending"):
        psi_drift(df, "v", "s", "a", "b", [10.0, 5.0], ["g"])
    with pytest.raises(ValueError, match="ascending"):
        psi_drift(df, "v", "s", "a", "b", [5.0, 5.0], ["g"])
    with pytest.raises(ValueError, match="group_by"):
        psi_drift(df, "v", "s", "a", "b", [5.0], [])
    with pytest.raises(ValueError, match="must differ"):
        psi_drift(df, "v", "s", "a", "a", [5.0], ["g"])
    with pytest.raises(ValueError, match="backtick"):
        psi_drift(df, "bad`v", "s", "a", "b", [5.0], ["g"])
    with pytest.raises(ValueError, match="reserved"):
        psi_drift(df, "v", "s", "a", "b", [5.0], ["n_ref"])
    with pytest.raises(ValueError, match="distinct"):
        psi_drift(df, "v", "s", "a", "b", [5.0], ["g", "g"])


def test_psi_dotted_names_and_null_and_foreign_splits(spark):
    # dotted columns resolve literally; NULL values, NaN values
    # (which BOTH engines would otherwise sort into the top bucket)
    # and rows in neither split are ignored
    rows = [("g", "a", 1.0), ("g", "b", 1.0), ("g", "zzz", 99.0),
            ("g", "a", None), ("g", "b", float("nan"))]
    df = spark.createDataFrame(rows, ["grp.id", "split.col", "val.raw"])
    out = psi_drift(
        df, "val.raw", "split.col", "a", "b", [5.0], ["grp.id"]
    ).collect()
    assert len(out) == 1
    assert (out[0]["n_ref"], out[0]["n_cmp"], out[0]["psi_micro"]) == (1, 1, 0)


def test_psi_matches_brute_randomized(spark):
    import random

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=6, deadline=None, derandomize=True)
    @given(st.integers(0, 10_000))
    def go(seed):
        rng = random.Random(seed)
        edges = sorted(rng.sample(range(1, 50), rng.randint(1, 5)))
        edges = [float(e) for e in edges]
        rows = [
            (
                rng.choice(["x", "y"]),
                rng.random() < 0.5,
                rng.choice([None, float(rng.randint(0, 60))]),
            )
            for _ in range(rng.randint(1, 120))
        ]
        df = spark.createDataFrame(
            [(g, "ref" if r else "cmp", v) for g, r, v in rows],
            "g string, s string, v double",
        )
        got = {
            r["g"]: (r["n_ref"], r["n_cmp"], r["psi_micro"])
            for r in psi_drift(
                df, "v", "s", "ref", "cmp", edges, ["g"]
            ).collect()
        }
        want = _brute_psi(rows, edges)
        assert got == want, (seed, edges)

    go()


def test_bucket_index_boundaries(spark):
    df = spark.createDataFrame(
        [(0.0,), (4.999,), (5.0,), (9.99,), (10.0,), (500.0,)], ["v"]
    )
    got = [
        r["b"]
        for r in df.select(
            bucket_index(F.col("v"), [5.0, 10.0]).alias("b")
        ).collect()
    ]
    assert got == [0, 0, 1, 1, 2, 2]  # edges are inclusive lower bounds


def test_psi_plan_one_data_shuffle_no_hazards(spark, sf_dir):
    # THE one data-sized exchange is the (group, bucket) count; the
    # totals/grid/final-sum run on its bounded output. No window at
    # all, no forced broadcast under the 100 TB planner.
    from data_frame_spark.queries import psi_value_drift

    df = psi_value_drift(spark, sf_dir)
    plan = C.simple_plan(df)
    assert "WindowExec" not in plan and "Window" not in plan
    assert not C.data_sized_partitionless_windows(df)
    assert "partial_sum" in plan  # map-side combine on the count
    with C.scale_planner(spark):
        sdf = psi_value_drift(spark, sf_dir)
        assert C.broadcasts_for_query("psi_value_drift", sdf) == []
