"""Parametric bootstrap for MSPE (reference C3/C4,
``Method_code.Rmd:557-757``), for B replicates (the reference's
``lapply(1:B, boot_func)``, ``Rmd:729-733``) in the same Spark jobs
whatever B is:

1. simulate the small survey's outcome from the fitted model for every
   replicate in one aggregation over the survey exploded by an ``int``
   rep: v_b ~ N(0, σ̂) per (rep, area) — hash-seeded per (rep, area),
   fixing the reference's seed bug where every state and every replicate
   draws the SAME noise (``set.seed`` inside ``state_func``,
   ``Rmd:569-571``; SURVEY.md §5.3) — then demvote* ~ Bern(expit(xβ̂ + v_b))
   per unit, collected as (rep, state, x1..x7, y, m, w_sum) cells;
2. re-run the full EM loop (``Rmd:612-657``) on each replicate's cells on
   the driver; the replicates share one MC draw matrix (same areas, same
   estimator seed);
3. EBP-score the big survey with the re-fitted β (synthetic fixed-effects
   predictor, v=0 — exactly the reference's Step 4-5, ``Rmd:660-682``) in
   NumPy on the big survey's collected covariate-pattern cells — exact,
   because the cells carry the summed weights;
4. the big survey's outcome simulated under the SAME v_b ("model is true",
   ``Rmd:687-696``) → per-area weighted "true" value, for every replicate
   in one aggregation collected as (rep, state, true).

Each replicate equals the one a per-replicate loop simulates and fits. They
form ONE long (rep, state, est, true) table (not the reference's wide
cbind-of-reps) → A6 sqrt-MSPE per area in NumPy (``Rmd:744-757``).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_spark.functions.math import expit
from data_integration_spark.functions.rng import (
    bernoulli,
    replicate_numbers,
    seeded_normal,
)
from data_integration_spark.stats import ebp
from data_integration_spark.stats.design import design_cells, prep_design, x_beta_col
from data_integration_spark.stats.em import EMEstimator, draw_matrix


def simulate_outcome(
    survey: DataFrame,
    beta: Sequence[float],
    sigma: float,
    rep: int | Column,
    id_col: str = "ID",
    seed: int = 99,
    survey_tag: str = "",
) -> DataFrame:
    """Attach a simulated Bernoulli outcome under the fitted GLMM: distinct
    v_b per (rep, area), distinct Bernoulli draw per (rep, unit). ``rep`` is
    a replicate number or an ``int`` column of them.

    ``survey_tag`` enters the Bernoulli hash key so the SMALL and BIG surveys
    draw independent unit-level noise even when they share ID values — only
    the area effect v_b (keyed by (state, rep) alone) is intentionally shared
    between the two, matching the reference's independent ``rbinom`` calls
    under a common v_b (``Rmd:569-579, 687-696``)."""
    rep = rep if isinstance(rep, Column) else F.lit(rep)
    prepped = prep_design(survey, with_outcome=False)
    v_b = seeded_normal("state", rep, mean=0.0, sd=float(sigma), salt=seed)
    theta = expit(x_beta_col(beta) + v_b)
    return prepped.withColumn(
        "demvote",
        bernoulli(theta, F.lit(survey_tag), F.col(id_col), rep, salt=seed + 1),
    )


def simulated_truth(
    big_survey: DataFrame,
    beta: Sequence[float],
    sigma: float,
    n_reps: int,
    seed: int = 99,
) -> pd.DataFrame:
    """(rep, state, true) for reps 1..n_reps: the per-area weighted mean ×100
    of the big survey's outcome simulated under the fitted model
    (``Rmd:687-696``), in one aggregation."""
    reps = big_survey.withColumn("rep", replicate_numbers(n_reps, "n_reps"))
    sim = simulate_outcome(reps, beta, sigma, F.col("rep"), seed=seed, survey_tag="big")
    return (
        sim.groupBy("rep", "state")
        .agg(
            (
                F.lit(100.0) * F.sum(F.col("demvote") * F.col("weight"))
                / F.sum("weight")
            ).alias("true")
        )
        .toPandas()
    )


def parametric_bootstrap(
    small_survey: DataFrame,
    big_survey: DataFrame,
    beta_fit: Sequence[float],
    sigma_fit: float,
    n_reps: int = 10,
    em: EMEstimator | None = None,
    seed: int = 99,
    big_cells: pd.DataFrame | None = None,
) -> tuple[DataFrame, pd.DataFrame]:
    """Returns (long (rep, state, est, true) DataFrame, per-rep EM estimates
    frame — the reference stores both, ``Rmd:700-718``). ``big_cells`` is
    the big survey's ``ebp.scoring_cells`` when the caller already holds
    them (the pipeline shares EBP's); they are collected here otherwise.
    The Spark jobs are the same for any ``n_reps``."""
    em = em or EMEstimator(n_reps=200, max_iter=50)
    reps = small_survey.withColumn("rep", replicate_numbers(n_reps, "n_reps"))
    sim = simulate_outcome(
        reps, beta_fit, sigma_fit, F.col("rep"), seed=seed, survey_tag="small"
    )
    sim_cells = design_cells(prep_design(sim), by=["rep"]).toPandas()
    cells = ebp.scoring_cells(big_survey) if big_cells is None else big_cells
    # every replicate simulates the same units, so the same areas
    states = sorted(sim_cells["state"].unique())
    draws = draw_matrix(states, em.n_reps, em.seed)

    ests, em_rows = [], []
    for b, rep_cells in sim_cells.groupby("rep", sort=True):
        fit_b = em.fit(rep_cells, draws=draws)
        betas = {f"beta{k}": v for k, v in enumerate(fit_b.beta_hat)}
        em_rows.append({"rep": int(b), "sigma": fit_b.sigma_hat, **betas})
        # step 3: EBP with re-fitted β, v=0 (Rmd:660-682)
        est = ebp.area_means(cells, ebp.expit(ebp.cell_x_beta(cells, fit_b.beta_hat)))
        ests.append(
            pd.DataFrame({"rep": int(b), "state": est.index, "est": est.to_numpy()})
        )

    truth = simulated_truth(big_survey, beta_fit, sigma_fit, n_reps, seed=seed)
    long_pd = pd.concat(ests).merge(truth, on=["rep", "state"])
    long_df = ebp.area_frame(
        small_survey.sparkSession,
        long_pd[["rep", "state", "est", "true"]],
        "rep int, state string, est double, true double",
    )
    return long_df, pd.DataFrame(em_rows)


MSPE_SCHEMA = "state string, sqrt_MSPE double"


def mspe_table(boot_long: DataFrame) -> pd.DataFrame:
    """C4: per-area sqrt(mean_rep (est−true)²) (``Rmd:740-757``) as
    (state, sqrt_MSPE), computed in NumPy. ``parametric_bootstrap``'s long
    table is a local relation, so collecting it runs no Spark job."""
    long_pd = pd.DataFrame(boot_long.collect(), columns=boot_long.columns)
    d = long_pd["est"] - long_pd["true"]
    mspe = np.sqrt((d * d).groupby(long_pd["state"], sort=True).mean())
    return pd.DataFrame({"state": mspe.index, "sqrt_MSPE": mspe.to_numpy()})
