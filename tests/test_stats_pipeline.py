"""Golden end-to-end pipeline test (SURVEY.md §5.2.5): load → EM → EBP →
direct → comparison → bootstrap MSPE → final report, on the FIXTURES.md
synthetic surveys."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_integration_spark.stats.em import EMEstimator
from data_integration_spark.stats.fixtures import make_fixtures
from data_integration_spark.stats.pipeline import run_pipeline


@pytest.fixture(scope="module")
def fx():
    return make_fixtures()


@pytest.fixture(scope="module")
def result(spark, fx, tmp_path_factory):
    # round-trip the fixtures through parquet so the pipeline runs off
    # files exactly as the reference reads its survey inputs (load step
    # included in the golden path)
    base = tmp_path_factory.mktemp("pipeline_fixtures")
    frames = {}
    for name in ("survey_small", "survey_big", "actual_result"):
        spark.createDataFrame(fx[name]).write.mode("overwrite").parquet(
            f"{base}/{name}"
        )
        frames[name] = spark.read.parquet(f"{base}/{name}").cache()
    return (
        run_pipeline(
            spark,
            frames["survey_small"],
            frames["survey_big"],
            frames["actual_result"],
            em=EMEstimator(n_reps=300, tol=0.01, max_iter=60, seed=42),
            ebp_draws=100,
            bootstrap_reps=2,
            bootstrap_em=EMEstimator(n_reps=100, tol=0.05, max_iter=15, seed=43),
        ),
        fx,
    )


def test_report_covers_all_areas(result):
    res, fx = result
    rows = res.report.collect()
    assert len(rows) == 51  # every area, including the 2 absent from small


def test_absent_area_semantics(result):
    """FIXTURES.md acceptance: areas missing from the small survey get a
    non-null EBP (v=0 path) and a NULL direct estimate (full-outer join)."""
    res, fx = result
    absent = fx["truth"]["absent_states"]
    rows = {r.state: r for r in res.report.collect()}
    for s in absent:
        assert rows[s].EBP_est is not None
        assert rows[s].direct_est is None
    # modeled areas have both
    modeled = [s for s in rows if s not in absent]
    assert all(rows[s].direct_est is not None for s in modeled)


def test_ebp_beats_direct(result):
    """The paper's headline claim (Rmd:490-507 shape): model-based EBP has
    lower RASD than the direct estimator on area-effect data."""
    res, _ = result
    err = res.errors.set_index("estimator")
    assert err.loc["EM_est", "rasd"] < err.loc["direct", "rasd"]
    assert err.loc["EM_est", "aad"] < err.loc["direct", "aad"]


def test_estimates_in_percentage_range(result):
    res, _ = result
    rows = res.report.collect()
    for r in rows:
        assert 0.0 <= r.EBP_est <= 100.0
        if r.direct_est is not None:
            assert 0.0 <= r.direct_est <= 100.0


def test_mspe_present_and_positive(result):
    res, _ = result
    rows = res.report.collect()
    n_with_se = sum(1 for r in rows if r.EBP_SE is not None and r.EBP_SE >= 0)
    assert n_with_se == 51


def test_report_reproducible(spark, result):
    """Same inputs + same seeds → identical report (deterministic hash RNG
    end-to-end; SURVEY.md §4.3.4)."""
    res, fx = result
    small = spark.createDataFrame(fx["survey_small"])
    big = spark.createDataFrame(fx["survey_big"])
    actuals = spark.createDataFrame(fx["actual_result"])
    res2 = run_pipeline(
        spark, small, big, actuals,
        em=EMEstimator(n_reps=300, tol=0.01, max_iter=60, seed=42),
        ebp_draws=100, bootstrap_reps=0,
    )
    a = {r.state: (r.actual_val, r.direct_est, r.EBP_est) for r in res.report.collect()}
    b = {r.state: (r.actual_val, r.direct_est, r.EBP_est) for r in res2.report.collect()}
    assert a == b


# Golden values for the fully deterministic pipeline (seed-42 fixtures,
# hash-seeded draws, fixed EM settings). Regenerate by running the pipeline
# and printing em.beta_hat / em.sigma_hat / the report — any drift signals a
# semantic change in design prep, EM, EBP, direct estimation, or bootstrap.
GOLDEN_BETA = [
    -0.11709332, 0.17105169, 0.31460497, 1.51071348,
    0.61277735, 0.15000813, 0.27272925, 0.88053607,
]
GOLDEN_SIGMA = 0.15557864
GOLDEN_GLM_BETA = [
    -0.12122486, 0.17277944, 0.31473955, 1.50264445,
    0.61822322, 0.13681364, 0.26761407, 0.8762795,
]
# state -> (actual_val, direct_est, EBP_est, direct_SE, EBP_SE); report is
# rounded to 2dp, so 0.02 tolerance allows one half-ulp rounding flip
GOLDEN_REPORT = {
    "S00": (88.29, 91.24, 85.60, 3.12, 1.11),
    "S01": (65.56, 61.10, 73.11, 10.35, 3.12),
    "S02": (45.19, 40.78, 45.20, 6.21, 7.33),
    "S03": (88.92, 94.55, 90.26, 2.36, 2.16),
    "S04": (76.80, None, 79.81, None, 3.93),
    "S05": (81.74, 76.26, 82.20, 14.02, 1.99),
    "S06": (62.93, 51.22, 49.85, 10.70, 5.34),
    "S07": (59.30, 56.27, 62.57, 7.53, 2.75),
}


def test_golden_em_and_glm_parameters(result):
    """Parameter-level golden: the EM and GLM fits on the fixture surveys
    are pinned (the closest this env can get to the reference's printed
    glmer coefficients, Method_code.Rmd:68-80 — no R/statsmodels here)."""
    res, _ = result
    for got, want in zip(res.em.beta_hat, GOLDEN_BETA):
        assert abs(float(got) - want) < 1e-4
    assert abs(float(res.em.sigma_hat) - GOLDEN_SIGMA) < 1e-4
    for got, want in zip(res.glm_beta, GOLDEN_GLM_BETA):
        assert abs(float(got) - want) < 1e-4


def test_golden_report_values(result):
    """Report-level golden with per-column tolerances: every pipeline stage
    feeds these numbers, so any silent semantic drift fails here."""
    res, _ = result
    rows = {r.state: r for r in res.report.collect()}
    for state, (actual, direct, ebp, dse, ese) in GOLDEN_REPORT.items():
        r = rows[state]
        assert abs(r.actual_val - actual) < 0.02, (state, "actual")
        assert abs(r.EBP_est - ebp) < 0.02, (state, "ebp")
        assert abs(r.EBP_SE - ese) < 0.02, (state, "ebp_se")
        if direct is None:
            assert r.direct_est is None and r.direct_SE is None, state
        else:
            assert abs(r.direct_est - direct) < 0.02, (state, "direct")
            assert abs(r.direct_SE - dse) < 0.02, (state, "direct_se")


def test_bootstrap_equals_per_rep_loop(spark, fx):
    """The batched bootstrap (one simulation of all replicates, fits on the
    driver with one shared draw matrix) must equal, BIT FOR BIT, the
    per-replicate loop it replaces: simulate the small survey for rep b,
    fit the EM on it, score the big survey's cells with the re-fitted β.
    The truth column comes from ``simulated_truth``, which the next test
    pins against per-rep simulation."""
    import pandas as pd

    from data_integration_spark.stats import ebp
    from data_integration_spark.stats.bootstrap import (
        parametric_bootstrap,
        simulate_outcome,
        simulated_truth,
    )

    pdf_small = fx["survey_small"]
    keep = sorted(pdf_small["state"].unique())[:8]
    small = spark.createDataFrame(pdf_small[pdf_small["state"].isin(keep)]).cache()
    big_pdf = fx["survey_big"]
    big = spark.createDataFrame(big_pdf[big_pdf["state"].isin(keep)]).cache()
    beta, sigma, seed, n_reps = [0.1] * 8, 0.3, 123, 4
    em = EMEstimator(n_reps=50, tol=0.05, max_iter=5, seed=43)
    try:
        got_long, got_em = parametric_bootstrap(
            small, big, beta, sigma, n_reps=n_reps, em=em, seed=seed
        )

        cells = ebp.scoring_cells(big)
        ests, em_rows = [], []
        for b in range(1, n_reps + 1):
            sim = simulate_outcome(
                small, beta, sigma, b, seed=seed, survey_tag="small"
            )
            fit = em.fit(sim)
            em_rows.append(
                {"rep": b, "sigma": fit.sigma_hat,
                 **{f"beta{k}": v for k, v in enumerate(fit.beta_hat)}}
            )
            est = ebp.area_means(
                cells, ebp.expit(ebp.cell_x_beta(cells, fit.beta_hat))
            )
            ests.append(
                pd.DataFrame({"rep": b, "state": est.index, "est": est.to_numpy()})
            )
        truth = simulated_truth(big, beta, sigma, n_reps, seed=seed)
        want_long = pd.concat(ests).merge(truth, on=["rep", "state"])

        key = ["rep", "state"]
        got_rows = [r.asDict() for r in got_long.orderBy(*key).collect()]
        want_rows = want_long.sort_values(key)[["rep", "state", "est", "true"]]
        assert len(got_rows) == n_reps * len(keep)
        assert got_rows == want_rows.to_dict("records")
        assert got_em.to_dict("records") == em_rows
    finally:
        small.unpersist()
        big.unpersist()


@pytest.mark.parametrize(
    "call",
    ["draw_table", "simulated_truth", "parametric_bootstrap"],
)
def test_counts_below_one_raise(spark, fx, call):
    """``sequence(1, 0)`` counts down, so a count of 0 would silently draw
    replicates 1 and 0; every entry point that builds one must refuse a
    count below 1, naming the parameter."""
    import pandas as pd

    from data_integration_spark.stats.bootstrap import (
        parametric_bootstrap,
        simulated_truth,
    )
    from data_integration_spark.stats.ebp import draw_table

    small = spark.createDataFrame(fx["survey_small"].head(50))
    big = spark.createDataFrame(fx["survey_big"].head(50))
    v_hat = pd.DataFrame(
        [("S00", 0.1, 0.04)], columns=["state", "v_hat", "tau_hat_sq"]
    )
    calls = {
        "draw_table": (lambda: draw_table(v_hat, 0, 3), "n_draws"),
        "simulated_truth": (
            lambda: simulated_truth(big, [0.1] * 8, 0.3, 0), "n_reps"
        ),
        "parametric_bootstrap": (
            lambda: parametric_bootstrap(small, big, [0.1] * 8, 0.3, n_reps=0),
            "n_reps",
        ),
    }
    fn, name = calls[call]
    with pytest.raises(ValueError, match=f"{name} must be >= 1, got 0"):
        fn()


def test_simulated_truth_equals_per_rep_simulation(spark, fx):
    """The bootstrap's all-reps truth table (one aggregation over the big
    survey exploded by an int rep column) must equal, bit for bit, the
    per-rep truth built from ``simulate_outcome`` with a literal rep."""
    from data_integration_spark.stats.bootstrap import (
        simulate_outcome,
        simulated_truth,
    )

    big_pdf = fx["survey_big"]
    keep = sorted(big_pdf["state"].unique())[:8]
    big = spark.createDataFrame(big_pdf[big_pdf["state"].isin(keep)]).cache()
    beta, sigma, seed = [0.1] * 8, 0.3, 123
    try:
        got = {
            (r.rep, r.state): r.true
            for r in simulated_truth(big, beta, sigma, 3, seed=seed).itertuples()
        }
        want = {}
        for b in (1, 2, 3):
            sim = simulate_outcome(big, beta, sigma, b, seed=seed, survey_tag="big")
            per_rep = sim.groupBy("state").agg(
                (
                    F.lit(100.0) * F.sum(F.col("demvote") * F.col("weight"))
                    / F.sum("weight")
                ).alias("true")
            )
            want.update({(b, r.state): r.true for r in per_rep.collect()})
        assert len(want) == 24
        assert got == want
    finally:
        big.unpersist()


def _direct_via_spark(df):
    """The direct estimates as ``survey_mean_se`` computes them in Spark,
    by state."""
    from data_integration_spark.functions.stats import survey_mean_se

    out = survey_mean_se(
        df, "state", F.col("demvote").cast("double"), F.col("weight")
    ).collect()
    return {r.state: (r["mean"], r["se"]) for r in out}


def _assert_direct_equal(got, want):
    assert set(got["state"]) == set(want)
    for r in got.itertuples():
        mean, se = want[r.state]
        for a, b in ((r.direct, mean), (r.direct_SE, se)):
            if b is None:
                assert math.isnan(a), (r.state, a)
            else:
                assert abs(a - 100.0 * b) <= 1e-12 * abs(100.0 * b), (r.state, a, b)


def test_direct_from_cells_equals_survey_mean_se(spark, fx):
    """The direct estimates summed from the small survey's outcome cells
    equal ``survey_mean_se`` over its units, to 1e-12 relative."""
    from data_integration_spark.stats.design import outcome_cells
    from data_integration_spark.stats.ebp import direct_estimates

    df = spark.createDataFrame(fx["survey_small"])
    got = direct_estimates(outcome_cells(df))
    assert len(got) == 49
    _assert_direct_equal(got, _direct_via_spark(df))


_unit = st.fixed_dictionaries(
    {
        "state": st.sampled_from(["A", "B", "C"]),
        "demvote": st.one_of(st.none(), st.integers(0, 1)),
        "weight": st.one_of(st.none(), st.floats(0.05, 40.0)),
        "age4": st.sampled_from(["18-29", "45-64"]),
        "gender": st.sampled_from(["male", "female"]),
        "race3": st.sampled_from(["white", "black", "hispanic"]),
        "educ4": st.sampled_from(["HS", "col grad", "postgrad"]),
        "obama12": st.just(0.55),
    }
)


@settings(max_examples=10, deadline=None)
@given(
    units=st.lists(_unit, min_size=1, max_size=40),
    one=_unit,
    const=st.lists(_unit, min_size=2, max_size=6),
    const_y=st.integers(0, 1),
)
def test_direct_from_cells_keeps_survey_rules(spark, units, one, const, const_y):
    """Direct-from-cells equals ``survey_mean_se`` on surveys that hold a
    null weight, a one-unit area and a constant-y area; the last two
    have SE exactly 0."""
    from data_integration_spark.stats.design import outcome_cells
    from data_integration_spark.stats.ebp import direct_estimates

    rows = list(units) + [{**units[0], "weight": None}]
    rows.append({**one, "state": "ONE", "demvote": 1, "weight": 2.5})
    rows += [
        {**u, "state": "CONST", "demvote": const_y, "weight": u["weight"] or 1.0}
        for u in const
    ]
    df = spark.createDataFrame(
        rows,
        "state string, demvote int, weight double, age4 string, gender string, "
        "race3 string, educ4 string, obama12 double",
    )
    got = direct_estimates(outcome_cells(df))
    _assert_direct_equal(got, _direct_via_spark(df))
    se = dict(zip(got["state"], got["direct_SE"]))
    assert se["ONE"] == 0.0 and se["CONST"] == 0.0
