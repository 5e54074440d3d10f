from __future__ import annotations

import math
import random

import pytest

from data_frame_spark.operators import fit as Fit


@pytest.fixture(scope="module")
def lsq_frames(spark):
    """lsq fixture shapes (FIXTURES.md §4, df-generate.rkt:31-98):
    deterministic noise, one frame per curve family."""
    rng = random.Random(42)
    rows = []
    for n in range(100):
        x = n - 50
        x2 = x + 50.1
        noise = rng.uniform(-50, 50) / 10
        rows.append(
            (
                float(x),
                float(x2),
                5 * x + 12 + noise,
                1.5 * x * x - 2 * x + 12 + noise * 10,
                3.5 * math.exp(0.1 * x) + noise,
                5.8 + 7.3 * math.log(x2) + noise,
                5.8 * x2**1.3 + noise * 100,
            )
        )
    return spark.createDataFrame(
        rows, ["base", "base2", "linear", "second", "exp", "log", "pow"]
    )


def _perturbation_increases_residual(d, fit):
    """The reference's property test (df-test.rkt:1528-1573): +-5% on
    any coefficient must not decrease the residual."""
    base = Fit.fit_residual(d, fit)
    for i in range(len(fit.coefficients)):
        for factor in (0.95, 1.05):
            c = list(fit.coefficients)
            if abs(c[i]) < 1e-12:
                continue
            c[i] *= factor
            assert Fit.fit_residual(d, Fit.FitResult(fit.type, c)) >= base


def test_linear_fit(spark, lsq_frames):
    fit = Fit.least_squares_fit(lsq_frames, "base", "linear", mode="linear", residual=True)
    a0, a1 = fit.coefficients
    assert abs(a1 - 5) < 0.1 and abs(a0 - 12) < 2
    _perturbation_increases_residual(Fit._xy(lsq_frames, "base", "linear"), fit)


def test_poly2_fit(spark, lsq_frames):
    fit = Fit.least_squares_fit(lsq_frames, "base", "second", mode="polynomial", degree=2)
    a0, a1, a2 = fit.coefficients
    assert abs(a2 - 1.5) < 0.05 and abs(a1 + 2) < 0.5
    _perturbation_increases_residual(Fit._xy(lsq_frames, "base", "second"), fit)


def test_poly3_fit(spark, lsq_frames):
    """Arbitrary-degree path (least-squares-fit.rkt:34-41 solves any
    degree; property test shape from df-test.rkt:1528-1625): fitting
    a cubic to quadratic data recovers ~0 for the cubic term, and
    the residual sits at a local minimum in every coefficient."""
    fit = Fit.least_squares_fit(lsq_frames, "base", "second", mode="polynomial", degree=3)
    a0, a1, a2, a3 = fit.coefficients
    assert abs(a2 - 1.5) < 0.05 and abs(a3) < 0.01
    _perturbation_increases_residual(Fit._xy(lsq_frames, "base", "second"), fit)


def test_log_fit(spark, lsq_frames):
    fit = Fit.least_squares_fit(lsq_frames, "base2", "log", mode="log")
    a, b = fit.coefficients
    assert abs(b - 7.3) < 0.5 and abs(a - 5.8) < 2
    _perturbation_increases_residual(Fit._xy(lsq_frames, "base2", "log"), fit)


def test_power_fit(spark, lsq_frames):
    fit = Fit.least_squares_fit(lsq_frames, "base2", "pow", mode="power")
    a, b = fit.coefficients
    # log-space fit is biased (the reference notes it needs annealing);
    # just require the right ballpark
    assert 0.8 < b < 1.8 and a > 0


def test_exp_fit_runs(spark, lsq_frames):
    fit = Fit.least_squares_fit(lsq_frames, "base", "exp", mode="exp", residual=True)
    assert fit.type == "exponential" and fit.residual is not None
    assert fit.coefficients[1] > 0  # growth direction


def test_exp_fit_annealing_never_worsens_residual(spark, lsq_frames):
    # the annealing search starts at the closed-form fit and keeps its
    # best state, so its residual can only match or beat the closed form
    closed = Fit.least_squares_fit(
        lsq_frames, "base", "exp", mode="exp", residual=True
    )
    annealed = Fit.least_squares_fit(
        lsq_frames, "base", "exp", mode="exp", annealing=True, iterations=10,
        residual=True,
    )
    assert annealed.type == "exponential"
    assert annealed.residual <= closed.residual


def test_linear_fit_df_matches_scalar(spark, lsq_frames):
    row = Fit.linear_fit_df(lsq_frames, "base", "linear").collect()[0]
    fit = Fit.least_squares_fit(lsq_frames, "base", "linear", mode="linear")
    assert abs(row["a0"] - fit.coefficients[0]) < 1e-6
    assert abs(row["a1"] - fit.coefficients[1]) < 1e-6


def test_slr(spark, lsq_frames):
    row = Fit.slr_df(lsq_frames, "base", "linear").collect()[0]
    assert abs(row["beta"] - 5) < 0.1
    assert row["r"] > 0.99


def test_slr_degenerate(spark):
    df = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)], ["x", "y"])
    row = Fit.slr_df(df, "x", "y").collect()[0]
    # zero x-variance -> NaN/NULL outputs (reference returns #f)
    assert row["beta"] is None or math.isnan(row["beta"])


def test_power_fit_recovers_zipf_exponent(spark):
    # exact power-law data y = 100 * x^-1: the closed-form fit must
    # recover both coefficients (log-log linear regression is exact
    # on noiseless data up to the scale-6 moment quantization)
    rows = [(float(r), 100.0 / r) for r in range(1, 50)]
    df = spark.createDataFrame(rows, "x double, y double")
    from data_frame_spark.operators.fit import least_squares_fit

    fit = least_squares_fit(df, "x", "y", mode="power")
    a, b = fit.coefficients
    assert abs(a - 100.0) < 0.01
    assert abs(b - (-1.0)) < 1e-4
