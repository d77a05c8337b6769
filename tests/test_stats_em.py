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
    z = draw_matrix(states, n_reps=50, seed=1)
    assert z.shape == (50, len(states))
    # distinct across areas within a rep, and across reps within an area
    assert len(np.unique(np.round(z[0, :], 12))) == z.shape[1]
    assert len(np.unique(np.round(z[:, 0], 12))) == z.shape[0]


# e_step's Laplace (v̂, τ̂²) for the 49 areas of the golden fixture's small
# survey at the golden (β, σ) of tests/test_stats_pipeline.py, recorded from
# the per-area scalar golden-section search that the vectorized one
# replaced. The MC draws do not enter them.
LAPLACE_AT_GOLDEN = {
    "beta": [
        -0.11709332, 0.17105169, 0.31460497, 1.51071348,
        0.61277735, 0.15000813, 0.27272925, 0.88053607,
    ],
    "sigma": 0.15557864,
    "v_hat": [
        0.08272575359167922, -0.10172756147649206, -0.05011024861671303,
        0.04135557574411308, 0.0049690741454677355, 0.07114639391722638,
        -0.07049048246445389, 0.1642313255734184, -0.07126764128568097,
        0.00967413105173269, 0.041483743511408475, 0.013672327649995271,
        0.14846052108756724, 0.09140367806505617, 0.03952263875900299,
        -0.03303254849977246, 0.11018045881958455, 0.01311802311475377,
        -0.16236508705961678, -0.007902758776534973, -0.059360886257641216,
        0.02860042235593648, 0.10234799855627408, 0.10510086423335963,
        0.029576047457683684, -0.0966914137607986, 0.05339835996397405,
        0.1079950882426659, -0.014765684384269114, -0.01740726831482624,
        -0.05764615141790032, -0.09615645888355187, -0.16819622064298942,
        0.0024481559975075623, -0.1015089842322058, 0.03191292170866303,
        0.08695049993176901, 0.1514215278741702, -0.032557165208052866,
        -0.05733622367093813, -0.05267736806536126, -0.1789015621332261,
        -0.0904306276735519, -0.11573097993591608, -0.04696613895881418,
        0.13708056871931948, -0.004670523558959379, -0.05685761543621942,
        0.08153137152573206,
    ],
    "tau_sq": [
        0.019679830027758857, 0.021291206695282863, 0.01666045614800245,
        0.0207772498133216, 0.022419445182090162, 0.020272756799499872,
        0.01852901625081114, 0.019589737181051683, 0.0203984098445405,
        0.017894761604695254, 0.022159336389586, 0.021704050301346842,
        0.021418938542602295, 0.02145315633175569, 0.018381247989351014,
        0.0214705707167481, 0.01985950347792755, 0.01957125467888122,
        0.016216950533121464, 0.021562033240136353, 0.019963828227649586,
        0.02132365963765524, 0.017666216752258032, 0.017426730681645613,
        0.01708062588582082, 0.017500615522623993, 0.02147521342667022,
        0.01986075671894562, 0.021312472161354457, 0.01967843890269708,
        0.01898645999268393, 0.017919016629214315, 0.01689542984448563,
        0.017881083508222786, 0.018112260547954798, 0.018421940073474117,
        0.02228575336004429, 0.017443716020112326, 0.019753387666750034,
        0.016324329126701276, 0.019051863112135598, 0.019097891479574202,
        0.021009203430855786, 0.017204767713713244, 0.018320534610064502,
        0.017412466204473846, 0.01792681046449876, 0.019180615606330262,
        0.019881403362302163,
    ],
}


def test_laplace_search_matches_recorded_scalar_search(small_df):
    """One golden-section search over all areas returns each area's
    (v̂, τ̂²) of the scalar search it replaced (identical v̂ when recorded;
    the tolerance only allows another BLAS's last bits in xβ)."""
    cells, ni = collect_cells(small_df)
    assert len(cells.states) == 49
    z = np.zeros((1, len(cells.states)))
    beta = np.array(LAPLACE_AT_GOLDEN["beta"])
    v_hat, tau_sq, _, _ = e_step(
        cells, ni, z, beta, LAPLACE_AT_GOLDEN["sigma"], (-3.0, 3.0)
    )
    np.testing.assert_allclose(v_hat, LAPLACE_AT_GOLDEN["v_hat"], rtol=0, atol=1e-13)
    np.testing.assert_allclose(tau_sq, LAPLACE_AT_GOLDEN["tau_sq"], rtol=1e-13)


def test_beta_objective_derivatives_match_finite_differences(spark, fixtures):
    """The M-step Newton and the stationarity certificate both trust
    ``beta_objective``'s analytic gradient and Hessian: check them against
    central differences of its own f and gradient at a non-optimal β."""
    pdf = fixtures["survey_small"]
    sub = pdf[pdf["state"].isin(sorted(pdf["state"].unique())[:8])]
    cells, ni = collect_cells(spark.createDataFrame(sub))
    z = draw_matrix(cells.states, n_reps=50, seed=5)
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
    draws = draw_matrix(keep, em.n_reps, em.seed)
    for got in (em.fit(cells), em.fit(cells, draws=draws)):
        assert list(got.beta_hat) == list(want.beta_hat)
        assert got.sigma_hat == want.sigma_hat
        assert got.v_hat.equals(want.v_hat)
    with pytest.raises(ValueError, match="draws"):
        em.fit(cells, draws=draws[:, 1:])


def test_glm_and_em_job_counts(spark, fixtures, count_jobs):
    """Pin the Spark jobs each fit issues: the GLM, the EM and the EM's
    stationarity certificate each collect their cell table in one query
    (2 jobs: the shuffle map stage and the result); the EM's draw matrix
    is made on the driver. A plan or job regression fails here instead of
    hiding in wall time."""
    df = spark.createDataFrame(fixtures["survey_small"]).cache()
    df.count()  # materialize the cache outside the counted groups
    em = EMEstimator(max_iter=2)
    fits = []
    try:
        assert count_jobs("pin_glm_fit", lambda: FixedEffectsGLM().fit(df)) == 2
        assert count_jobs("pin_em_fit", lambda: fits.append(em.fit(df))) == 2
        assert (
            count_jobs(
                "pin_em_certificate",
                lambda: em_stationarity_certificate(df, fits[0], em),
            )
            == 2
        )
    finally:
        df.unpersist()
