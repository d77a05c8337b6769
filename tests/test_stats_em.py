"""Statistical-layer tests: parameter recovery (the reference README's
intended validation), the β-objective's analytic derivatives, GLM
cross-check (SURVEY.md §5.2.4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_spark.stats.design import outcome_cells
from data_integration_spark.stats.em import (
    EMEstimator,
    beta_objective,
    collect_cells,
    draw_matrix,
    e_step,
    em_stationarity_certificate,
)
from data_integration_spark.stats.fixtures import BETA_TRUE, SIGMA_TRUE, make_fixtures
from data_integration_spark.stats.glmm import FixedEffectsGLM


@pytest.fixture(scope="module")
def fixtures():
    return make_fixtures()


@pytest.fixture(scope="module")
def small_df(spark, fixtures):
    return spark.createDataFrame(fixtures["survey_small"]).cache()


def test_glm_recovers_fixed_effects(small_df):
    glm = FixedEffectsGLM().fit(small_df)
    err = np.abs(glm.beta_ - BETA_TRUE)
    assert err.max() < 0.5, f"GLM beta error too large: {glm.beta_} vs {BETA_TRUE}"
    assert err.mean() < 0.2


def test_em_parameter_recovery(small_df):
    """README.md:12: the EM function 'can be used on simulated datasets' —
    parameter recovery on data generated from known (β, σ)."""
    em = EMEstimator(n_reps=300, tol=0.01, max_iter=100, seed=42)
    fit = em.fit(small_df)
    assert fit.converged
    err = np.abs(fit.beta_hat - BETA_TRUE)
    assert err.max() < 0.4, f"beta error: {fit.beta_hat} vs {BETA_TRUE}"
    assert err.mean() < 0.18
    assert abs(fit.sigma_hat - SIGMA_TRUE) < 0.25
    # every modeled area got a Laplace point in bounds
    assert len(fit.v_hat) == 49
    assert fit.v_hat["v_hat"].abs().max() <= 3.0
    assert (fit.v_hat["tau_hat_sq"] > 0).all()


def test_em_draws_differ_across_areas_and_reps(spark, fixtures):
    """SURVEY.md §5.3: the reference's seed bug made all areas/reps draw the
    SAME v; our per-(area, rep) hash seeding must not."""
    states = sorted(fixtures["survey_small"]["state"].unique())
    z = draw_matrix(spark, states, n_reps=50, seed=1)
    assert z.shape == (50, len(states))
    # distinct across areas within a rep, and across reps within an area
    assert len(np.unique(np.round(z[0, :], 12))) == z.shape[1]
    assert len(np.unique(np.round(z[:, 0], 12))) == z.shape[0]


def test_beta_objective_derivatives_match_finite_differences(spark, fixtures):
    """The M-step Newton and the stationarity certificate both trust
    ``beta_objective``'s analytic gradient and Hessian: check them against
    central differences of its own f and gradient at a non-optimal β."""
    pdf = fixtures["survey_small"]
    sub = pdf[pdf["state"].isin(sorted(pdf["state"].unique())[:8])]
    cells, ni = collect_cells(spark.createDataFrame(sub))
    z = draw_matrix(spark, cells.states, n_reps=50, seed=5)
    beta = np.linspace(-0.6, 0.8, 8)
    _, _, v_tilde, _ = e_step(cells, ni, z, beta, 0.5, (-3.0, 3.0))
    fgh = beta_objective(cells, v_tilde)
    _, g, H = fgh(beta)
    assert np.abs(g).max() > 1.0  # far from the optimum
    h = 1e-5
    fd_g = np.zeros(8)
    fd_H = np.zeros((8, 8))
    for k in range(8):
        e = np.zeros(8)
        e[k] = h
        f_p, g_p, _ = fgh(beta + e)
        f_m, g_m, _ = fgh(beta - e)
        fd_g[k] = (f_p - f_m) / (2 * h)
        fd_H[:, k] = (g_p - g_m) / (2 * h)
    np.testing.assert_allclose(g, fd_g, rtol=1e-5, atol=1e-5 * np.abs(g).max())
    np.testing.assert_allclose(H, fd_H, rtol=1e-5, atol=1e-5 * np.abs(H).max())


def test_weighted_glm_equals_duplicated_rows(spark, fixtures):
    """svyglm analog: integer case-weights must equal physically duplicated
    rows (the defining property of a weighted likelihood fit)."""
    import pandas as pd

    pdf = fixtures["survey_small"]
    sub = pdf[pdf["state"].isin(sorted(pdf["state"].unique())[:6])].copy()
    sub["w2"] = (sub["ID"] % 3 + 1).astype("double")
    weighted = FixedEffectsGLM(weight_col="w2").fit(spark.createDataFrame(sub))
    dup = sub.loc[sub.index.repeat(sub["w2"].astype(int))]
    duplicated = FixedEffectsGLM().fit(spark.createDataFrame(dup))
    assert np.abs(weighted.beta_ - duplicated.beta_).max() < 1e-5


def test_em_stationarity_certificate_margins(spark, fixtures):
    """q_em_convergence's premise: at tol=1e-4 the recomputed fixed-point
    residuals sit ORDERS OF MAGNITUDE below the 0.005 rounding threshold
    the literal-0.0 oracle implies — pin the raw (pre-round) margins so a
    slow fitting-path drift is caught here before it reaches the driver
    hash. Also pins the certificate's engine-independent fields."""
    pdf = fixtures["survey_small"]
    sub = pdf[pdf["state"].isin(sorted(pdf["state"].unique())[:8])]
    df = spark.createDataFrame(sub)
    est = EMEstimator(n_reps=50, tol=1e-4, max_iter=400, seed=5)
    fit = est.fit(df)
    cert = em_stationarity_certificate(df, fit, est)
    assert cert["converged"] == 1
    assert cert["n_obs"] == len(sub)
    assert cert["n_areas"] == 8
    # 10x safety margin below the 2-decimal rounding threshold
    assert cert["beta_score_inf_norm"] < 5e-4
    assert cert["sigma_fixed_point_resid"] < 5e-4


@pytest.mark.parametrize("column", ["obama12", "demvote"])
def test_null_inputs_fail_loudly(small_df, column):
    """A null covariate or label must fail the GLM and the EM with a
    ValueError naming the column, not an opaque solver error."""
    df = small_df.withColumn(
        column, F.when(F.col("ID") % 50 == 0, None).otherwise(F.col(column))
    )
    with pytest.raises(ValueError, match=column):
        FixedEffectsGLM().fit(df)
    with pytest.raises(ValueError, match=column):
        EMEstimator(n_reps=10, max_iter=1).fit(df)


@pytest.mark.parametrize("param", ["n_reps", "max_iter"])
def test_em_rejects_non_positive_counts(small_df, param):
    """n_reps or max_iter below 1 must fail with a ValueError naming the
    parameter, not an opaque error from inside the fit."""
    with pytest.raises(ValueError, match=param):
        EMEstimator(**{param: 0}).fit(small_df)


def test_fits_on_collected_cells_equal_fits_on_survey(spark, fixtures):
    """The GLM and the EM fit on the survey's collected ``outcome_cells``,
    with or without the caller's draw matrix, exactly as on the survey;
    a draw matrix of the wrong shape is refused."""
    sub = fixtures["survey_small"]
    keep = sorted(sub["state"].unique())[:8]
    df = spark.createDataFrame(sub[sub["state"].isin(keep)])
    cells = outcome_cells(df)
    glm_beta = FixedEffectsGLM().fit(df).beta_
    assert list(FixedEffectsGLM().fit(cells).beta_) == list(glm_beta)
    em = EMEstimator(n_reps=30, tol=0.0, max_iter=3, seed=5)
    want = em.fit(df)
    draws = draw_matrix(spark, keep, em.n_reps, em.seed)
    for got in (em.fit(cells), em.fit(cells, draws=draws)):
        assert list(got.beta_hat) == list(want.beta_hat)
        assert got.sigma_hat == want.sigma_hat
        assert got.v_hat.equals(want.v_hat)
    with pytest.raises(ValueError, match="draws"):
        em.fit(cells, draws=draws[:, 1:])


def test_glm_and_em_job_counts(spark, fixtures, count_jobs):
    """Pin the Spark jobs each fit issues: the GLM collects its cell table in
    one query (2 jobs: the shuffle map stage and the result), and the EM
    and its stationarity certificate each collect the cell table plus the
    draw table (3 jobs). A plan or job regression fails here instead of
    hiding in wall time."""
    df = spark.createDataFrame(fixtures["survey_small"]).cache()
    df.count()  # materialize the cache outside the counted groups
    em = EMEstimator(max_iter=2)
    fits = []
    try:
        assert count_jobs("pin_glm_fit", lambda: FixedEffectsGLM().fit(df)) == 2
        assert count_jobs("pin_em_fit", lambda: fits.append(em.fit(df))) == 3
        assert (
            count_jobs(
                "pin_em_certificate",
                lambda: em_stationarity_certificate(df, fits[0], em),
            )
            == 3
        )
    finally:
        df.unpersist()
