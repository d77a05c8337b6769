"""Model-fitting t2 queries (SURVEY.md §2.10-2.11) — the EM estimator and
GLM baseline running on a survey synthesized deterministically from the
TPC-H-ish tables (rows-only by contract: model outputs are optimizer
results, not SQL-expressible).

The REAL statistical validation lives in tests/test_stats_*.py (parameter
recovery on FIXTURES.md surveys); these entries prove the fitting paths run
end-to-end inside the driver's harness."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.functions.math import expit
from data_integration_spark.functions.rng import bernoulli
from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table

AGE4 = ["18-29", "30-44", "45-64", "65+"]
GENDER = ["female", "male"]
RACE3 = ["black", "hispanic", "white"]
EDUC4 = ["HS or less", "some col", "col grad", "postgrad"]


def synth_survey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic survey-shaped frame from ``customer``: categorical
    covariates from key arithmetic, area = nation, outcome simulated from a
    known model via hash-Bernoulli."""
    cust = Catalog(spark, sf_dir)["customer"]

    def pick(options, expr):
        arr = F.array(*[F.lit(o) for o in options])
        return F.element_at(arr, (expr % len(options) + 1).cast("int"))

    df = cust.select(
        F.col("c_custkey").alias("ID"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("state"),
        pick(AGE4, F.col("c_custkey")).alias("age4"),
        pick(GENDER, F.col("c_custkey") / 4).alias("gender"),
        pick(RACE3, F.col("c_custkey") / 8).alias("race3"),
        pick(EDUC4, F.col("c_custkey") / 24).alias("educ4"),
        (0.3 + 0.4 * (F.col("c_nationkey") / 25.0)).alias("obama12"),
        F.lit(1.0).alias("weight"),
    )
    xb = (
        F.lit(-0.3)
        + 0.5 * F.when(F.col("age4") == "45-64", 1).otherwise(0)
        + 0.3 * F.when(F.col("gender") == "female", 1).otherwise(0)
        + 0.8 * F.when(F.col("race3") == "black", 1).otherwise(0)
    )
    return df.withColumn("demvote", bernoulli(expit(xb), "ID", salt=13))


@register("q_em_fit")  # rows-only: optimizer output
def q_em_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM GLMM fit (§2.11) end-to-end on the synthesized survey; returns the
    single-row (β̂, σ̂, iterations) table."""
    from data_integration_spark.stats.em import EMEstimator

    fit = EMEstimator(n_reps=50, tol=0.05, max_iter=10, seed=5).fit(
        synth_survey(spark, sf_dir)
    )
    row = {f"beta{k}": float(b) for k, b in enumerate(fit.beta_hat)}
    row.update(sigma=float(fit.sigma_hat), n_iter=fit.n_iter)
    schema = ", ".join(f"{c} double" for c in row if c != "n_iter")
    return local_table(spark, [row], schema + ", n_iter long")


@register(
    "q_em_convergence",
    # stationarity-certificate oracle for the reference's CORE method
    # (mirroring q_glm_convergence): a converged EM fit's
    # (β̂, σ̂) must satisfy both M-step optimality conditions when the
    # E-step is re-run at the returned parameters — the σ closed-form
    # residual and the per-observation β score norm are engine-independent
    # literal 0.0 at 2 decimals (measured 1e-5…1e-7 at tol=1e-4, three to
    # five orders of magnitude of margin). n_obs pins full-survey
    # consumption; n_areas pins the per-area E-step covering every area.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_areas,
           CAST(1 AS BIGINT) AS converged,
           CAST(0.0 AS DOUBLE) AS beta_score_inf_norm,
           CAST(0.0 AS DOUBLE) AS sigma_fixed_point_resid
    FROM customer
    """,
)
def q_em_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence CERTIFICATE for the EM GLMM fit — the reference's core
    method (``Rmd:217-390``) gains an oracle-grade driver check: fit with
    a TIGHT outer tolerance (1e-4 vs q_em_fit's demo 0.05), then re-run
    one E-step at (β̂, σ̂) and evaluate both M-step fixed-point residuals
    (stats/em.py::em_stationarity_certificate — the fit's own E-step and
    β-objective in NumPy on the collected cell table, so the certificate
    checks the arithmetic the fit optimized). β̂/σ̂ themselves stay
    rows-only in q_em_fit (optimizer floats); the stationarity conditions
    they must satisfy are exactly checkable and are what this query
    hashes — an E-step drift, draw-seeding change, or optimizer
    regression breaks the driver hash loudly."""
    from data_integration_spark.stats.em import (
        EMEstimator,
        em_stationarity_certificate,
    )

    est = EMEstimator(n_reps=50, tol=1e-4, max_iter=400, seed=5)
    survey = synth_survey(spark, sf_dir)
    cert = em_stationarity_certificate(survey, est.fit(survey), est)
    return local_table(
        spark,
        [
            {
                "n_obs": cert["n_obs"],
                "n_areas": cert["n_areas"],
                "converged": cert["converged"],
                "beta_score_inf_norm": round(
                    cert["beta_score_inf_norm"], 2
                ),
                "sigma_fixed_point_resid": round(
                    cert["sigma_fixed_point_resid"], 2
                ),
            }
        ],
        (
            "n_obs long, n_areas long, converged long, beta_score_inf_norm double,"
            " sigma_fixed_point_resid double"
        ),
    )


@register("q_glm_fit")  # rows-only: optimizer output
def q_glm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial GLM baseline (§2.10 M1) on the synthesized survey, Newton-fit
    on its covariate-pattern cells."""
    from data_integration_spark.stats.glmm import FixedEffectsGLM

    glm = FixedEffectsGLM().fit(synth_survey(spark, sf_dir))
    row = {f"beta{k}": float(b) for k, b in enumerate(glm.beta_)}
    return local_table(spark, [row], ", ".join(f"{c} double" for c in row))


@register(
    "q_glm_convergence",
    # stationarity-certificate oracle (same pattern as
    # q_doc_packing_invariants' conservation laws): the fitted β of a
    # converged logistic MLE satisfies the score equations X'(y − p̂) = 0,
    # so the rounded infinity-norm of the score vector is an
    # engine-independent literal 0.0 — if the Newton fit ever stops
    # converging (regression in the fitting path, bad design matrix, data
    # drift past the optimizer's tolerance), the hash breaks loudly.
    # n_obs pins that the fit consumed the whole synthesized survey.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(8 AS BIGINT) AS n_params,
           CAST(0.0 AS DOUBLE) AS score_inf_norm
    FROM customer
    """,
)
def q_glm_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence CERTIFICATE for the GLM baseline: fit the binomial GLM
    (same path as q_glm_fit), then evaluate the score vector
    g = Σ xᵢ(yᵢ − expit(xᵢ'β̂)) as one distributed aggregation and emit
    (n_obs, n_params, round(‖g‖∞, 2)). The β̂ values themselves stay
    rows-only (optimizer floats); the FIRST-ORDER CONDITION they must
    satisfy is exactly checkable and is what this query hashes. One pass
    over the prepped survey; β̂ enters as constant-folded literals."""
    from data_integration_spark.stats.design import (
        X_COLS,
        prep_design,
        x_beta_col,
    )
    from data_integration_spark.stats.glmm import FixedEffectsGLM

    survey = synth_survey(spark, sf_dir)
    glm = FixedEffectsGLM().fit(survey)
    prepped = prep_design(survey)
    resid = F.col("y") - expit(x_beta_col(list(glm.beta_)))
    aggs = [
        F.count("*").alias("n_obs"),
        F.sum(resid).alias("g0"),
        *[
            F.sum(F.col(x) * resid).alias(f"g{k}")
            for k, x in enumerate(X_COLS, start=1)
        ],
    ]
    g = prepped.agg(*aggs)
    inf_norm = F.greatest(*[F.abs(F.col(f"g{k}")) for k in range(8)])
    return g.select(
        F.col("n_obs").cast("long").alias("n_obs"),
        F.lit(8).cast("long").alias("n_params"),
        F.round(inf_norm, 2).alias("score_inf_norm"),
    )
