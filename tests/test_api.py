"""Engine facade: the reference notebook's step sequence through the
public API."""

from __future__ import annotations

import pytest

from data_integration_spark.api import Engine
from data_integration_spark.stats.em import EMEstimator
from data_integration_spark.stats.fixtures import make_fixtures


@pytest.fixture(scope="module")
def engine(spark):
    fx = make_fixtures(n_states=12, big_per_state=(80, 150))
    eng = Engine(spark, seed=7).load(
        spark.createDataFrame(fx["survey_small"]).cache(),
        spark.createDataFrame(fx["survey_big"]).cache(),
        spark.createDataFrame(fx["actual_result"]),
    )
    return eng, fx


def test_reference_workflow_through_api(engine):
    eng, fx = engine
    glm = eng.fit_glm()
    assert len(glm.beta_) == 8
    fit = eng.fit_em(n_reps=150, tol=0.02, max_iter=40)
    assert fit.converged
    err = eng.error_measures().set_index("estimator")
    assert {"direct", "EM_est"} == set(err.index)
    report = eng.final_report(
        bootstrap_reps=1, em=EMEstimator(n_reps=60, tol=0.05, max_iter=8, seed=9)
    )
    rows = report.collect()
    assert len(rows) == 12
    assert {"state", "name", "actual_val", "direct_est", "EBP_est",
            "direct_SE", "EBP_SE"} == set(report.columns)


def test_engine_and_pipeline_draw_the_same_ebp(spark):
    """For the same fit and seed, ``Engine`` and ``run_pipeline`` must score
    EBP with the same draws: both make them on the driver with
    ``ebp.draw_table`` from the fit's (state, v_hat, tau_hat_sq) table."""
    from data_integration_spark.stats.pipeline import run_pipeline

    fx = make_fixtures(n_states=6, big_per_state=(50, 80))
    small, big, actuals = (
        spark.createDataFrame(fx[k])
        for k in ("survey_small", "survey_big", "actual_result")
    )
    em = dict(n_reps=60, tol=0.05, max_iter=5)
    eng = Engine(spark, seed=7).load(small, big, actuals)
    eng.fit_em(**em)
    res = run_pipeline(
        spark, small, big, actuals, em=EMEstimator(seed=7, **em), seed=7
    )
    engine_est = {r.state: r.EM_est for r in eng.comparison().collect()}
    pipeline_est = {r.state: r.EM_est for r in res.comparison.collect()}
    assert list(res.em.beta_hat) == list(eng.em_fit.beta_hat)
    assert engine_est == pipeline_est


def test_engine_collects_small_cells_once(spark, count_jobs):
    """``fit_glm`` and ``fit_em`` fit one collected cell table of the small
    survey: together they run its query once (2 jobs: the shuffle map
    stage and the result); the EM's draw matrix is made on the driver.
    ``load`` drops the cells, so the same pair after a reload costs the
    same."""
    fx = make_fixtures(n_states=6, big_per_state=(50, 80))
    small, big, actuals = (
        spark.createDataFrame(fx[k]).cache()
        for k in ("survey_small", "survey_big", "actual_result")
    )
    small.count()  # materialize the cache outside the counted groups
    eng = Engine(spark, seed=7)

    def fits():
        eng.fit_glm()
        eng.fit_em(n_reps=20, tol=0.0, max_iter=2)

    try:
        for load in (1, 2):
            eng.load(small, big, actuals)
            assert count_jobs(f"pin_engine_fits_{load}", fits) == 2
    finally:
        small.unpersist()


def test_engine_direct_estimates_and_draws_run_no_job(spark, count_jobs):
    """After the fits, the direct estimates sum the small survey's cached
    outcome cells and the EBP draws are made on the driver, returned as
    a local table: neither runs a Spark job."""
    fx = make_fixtures(n_states=6, big_per_state=(50, 80))
    small, big, actuals = (
        spark.createDataFrame(fx[k])
        for k in ("survey_small", "survey_big", "actual_result")
    )
    eng = Engine(spark, seed=7).load(small, big, actuals)
    eng.fit_em(n_reps=20, tol=0.0, max_iter=2)
    out = {}
    direct = lambda: out.update(d=eng.direct_estimates())
    draws = lambda: out.update(v=eng.ebp_draws(10))
    assert count_jobs("pin_engine_direct", direct) == 0
    assert count_jobs("pin_engine_draws", draws) == 0
    assert len(out["d"]) == fx["survey_small"]["state"].nunique()
    assert out["v"].columns == ["state", "r", "v_tilde"]
    assert out["v"].count() == 10 * len(eng.em_fit.v_hat)


def test_em_on_simulated_helper(spark, engine):
    """README.md:12's usage — 'the EM function can be used on simulated
    datasets with the required column names' — is one direct call."""
    _, fx = engine
    fit = EMEstimator(n_reps=100, tol=0.05, max_iter=10, seed=3).fit(
        spark.createDataFrame(fx["survey_small"])
    )
    assert len(fit.beta_hat) == 8 and fit.sigma_hat > 0


def test_save_maps_writes_one_svg_per_estimator(engine, tmp_path):
    """S4 through the facade: one choropleth SVG per estimator column of
    the comparison table (the reference's three plot_usmap outputs)."""
    eng, _ = engine
    paths = eng.save_maps(str(tmp_path), columns=("actual", "EM_est"))
    assert len(paths) == 2
    for p in paths:
        svg = open(p).read()
        assert svg.startswith("<svg") and svg.rstrip().endswith("</svg>")
        assert svg.count("<rect") >= 12  # every fixture area drawn
