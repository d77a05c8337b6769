"""End-to-end estimation pipeline — the reference's full program
(``Method_code.Rmd``, README pipeline steps) as one orchestrated flow:

load → prep → GLM baseline → EM (adjusted ML) → EBP of area proportions on
the big survey → direct survey-weighted estimates → comparison vs actuals
(ASD/RASD/AAD) → parametric-bootstrap MSPE → final SQL report.

Driver-side Python orchestrates. Unit rows are read only inside Spark
aggregations, each collected once and none per bootstrap replicate: the
small survey's outcome cells (fit by the GLM and the EM, and summed into
the direct estimates), the big survey's scoring cells (scored by EBP and
the bootstrap), and the bootstrap's simulated cells and truth; the
actuals are collected as they are. The rest runs in NumPy/pandas on those
design-bounded tables, the hash-seeded area draws included, and the
report as SQL over local views of them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_integration_spark.stats.bootstrap import (
    MSPE_SCHEMA,
    mspe_table,
    parametric_bootstrap,
)
from data_integration_spark.stats.design import outcome_cells
from data_integration_spark.stats.ebp import (
    area_frame,
    comparison_frame,
    comparison_table,
    direct_estimates,
    draw_table,
    ebp_estimates,
    error_summary,
    final_report,
    scoring_cells,
)
from data_integration_spark.stats.em import EMEstimator, EMResult
from data_integration_spark.stats.glmm import FixedEffectsGLM


@dataclass
class PipelineResult:
    glm_beta: list
    em: EMResult
    comparison: DataFrame
    errors: pd.DataFrame
    report: DataFrame


def run_pipeline(
    spark: SparkSession,
    survey_small: DataFrame,
    survey_big: DataFrame,
    actuals: DataFrame,
    em: EMEstimator | None = None,
    ebp_draws: int = 100,
    bootstrap_reps: int = 0,
    bootstrap_em: EMEstimator | None = None,
    seed: int = 7,
) -> PipelineResult:
    """The reference's program on the three input tables. ``ebp_draws`` (≥ 1)
    is the EBP's draws per area; ``bootstrap_reps`` is the number of
    bootstrap replicates, 0 for none (the report's EBP_SE is then NULL)."""
    em = em or EMEstimator()
    small_cells = outcome_cells(survey_small)
    # 1. fixed-effects baseline (reference glmer step, Rmd:68-80)
    glm = FixedEffectsGLM().fit(small_cells)
    # 2. EM with random intercepts, initialized like the reference loop
    fit = em.fit(small_cells)
    # 3. EBP with v_tilde ~ N(v̂, τ̂) per (r, area) (Rmd:406-454, R=100), on
    # the big survey's cells, which the bootstrap scores too
    big_cells = scoring_cells(survey_big)
    ebp = ebp_estimates(
        big_cells,
        fit.beta_hat,
        draw_table(fit.v_hat, ebp_draws, seed),
        est_alias="EM_est",
    )
    # 4. direct estimates (Rmd:456-473)
    direct = direct_estimates(small_cells)
    # 5. comparison vs actuals (outer merge on state, Rmd:466-472)
    comp = comparison_table(actuals, [direct, ebp])
    errors = error_summary(comp, "actual", ["direct", "EM_est"])
    # 6. bootstrap MSPE (Rmd:557-757) + final report (Rmd:763-772)
    if bootstrap_reps > 0:
        boot_long, _ = parametric_bootstrap(
            survey_small,
            survey_big,
            fit.beta_hat,
            fit.sigma_hat,
            n_reps=bootstrap_reps,
            em=bootstrap_em,
            seed=seed + 100,
            big_cells=big_cells,
        )
        mspe = mspe_table(boot_long)
    else:
        mspe = comp[["state"]].assign(sqrt_MSPE=np.nan)
    comp_df = comparison_frame(spark, actuals, comp)
    report = final_report(spark, comp_df, area_frame(spark, mspe, MSPE_SCHEMA))
    return PipelineResult(
        glm_beta=list(glm.beta_), em=fit, comparison=comp_df, errors=errors,
        report=report,
    )
