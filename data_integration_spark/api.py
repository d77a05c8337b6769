"""User-facing facade: the reference's workflow, one method per step.

A user of ``asen123/data_integration`` drives ``Method_code.Rmd`` top to
bottom: load the 3 datasets → prepare covariates → fit glmer → run the EM
loop → EBP on the big survey → direct estimates → compare → bootstrap MSPE
→ final report. ``Engine`` exposes exactly those steps with the same
vocabulary, so the notebook translates line for line — each docstring names
the reference lines it replaces.

>>> eng = Engine(spark)
>>> eng.load(small=pew_df, big=cps_df, actuals=actual_df)   # Rmd:41-42
>>> glm = eng.fit_glm()                                     # Rmd:68-80
>>> fit = eng.fit_em(n_reps=1000)                           # Rmd:217-390
>>> comp = eng.comparison()                                 # Rmd:456-507
>>> report = eng.final_report(bootstrap_reps=10)            # Rmd:557-776
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_integration_spark.sources.local import local_table
from data_integration_spark.stats.bootstrap import (
    MSPE_SCHEMA,
    mspe_table,
    parametric_bootstrap,
)
from data_integration_spark.stats.design import outcome_cells
from data_integration_spark.stats.ebp import (
    DRAW_SCHEMA,
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


class Engine:
    """The reference pipeline as a fluent API over Spark DataFrames."""

    def __init__(self, spark: SparkSession, seed: int = 7):
        self.spark = spark
        self.seed = seed
        self.small: DataFrame | None = None
        self.big: DataFrame | None = None
        self.actuals: DataFrame | None = None
        self.glm: FixedEffectsGLM | None = None
        self.em_fit: EMResult | None = None
        self._small_cells: pd.DataFrame | None = None
        self._big_cells: pd.DataFrame | None = None
        self._ebp: pd.DataFrame | None = None
        self._direct: pd.DataFrame | None = None

    # ---------------------------------------------------------------- load
    def load(
        self, small: DataFrame, big: DataFrame, actuals: DataFrame
    ) -> "Engine":
        """The 3-dataset ingest (``readRDS``, ``Rmd:41-42``) — any Spark
        DataFrames with the survey schema (FIXTURES.md)."""
        self.small, self.big, self.actuals = small, big, actuals
        self._small_cells = self._big_cells = self._ebp = self._direct = None
        return self

    def load_parquet(self, base_dir: str) -> "Engine":
        r = self.spark.read
        return self.load(
            r.parquet(f"{base_dir}/survey_small.parquet"),
            r.parquet(f"{base_dir}/survey_big.parquet"),
            r.parquet(f"{base_dir}/actual_result.parquet"),
        )

    # --------------------------------------------------------------- models
    def _outcome_cells(self) -> pd.DataFrame:
        """The small survey's outcome cells, collected once: the GLM and
        the EM fit on them and the direct estimates sum them."""
        if self._small_cells is None:
            self._small_cells = outcome_cells(self.small)
        return self._small_cells

    def fit_glm(self) -> FixedEffectsGLM:
        """Fixed-effects logistic baseline (``glmer`` fixed part,
        ``Rmd:68-80``)."""
        self.glm = FixedEffectsGLM().fit(self._outcome_cells())
        return self.glm

    def fit_em(
        self,
        n_reps: int = 1000,
        tol: float = 0.01,
        max_iter: int = 1000,
    ) -> EMResult:
        """The adjusted-maximum-likelihood EM loop (``EM_func`` + outer
        convergence loop, ``Rmd:217-390``)."""
        self.em_fit = EMEstimator(
            n_reps=n_reps, tol=tol, max_iter=max_iter, seed=self.seed
        ).fit(self._outcome_cells())
        return self.em_fit

    # ----------------------------------------------------------- estimates
    def _draws(self, n_draws: int) -> pd.DataFrame:
        assert self.em_fit is not None, "fit_em first"
        return draw_table(self.em_fit.v_hat, n_draws, self.seed)

    def ebp_draws(self, n_draws: int = 100) -> DataFrame:
        """v_tilde ~ N(v̂, τ̂) draw table for EBP scoring (``Rmd:415``),
        made on the driver and returned as a local table."""
        return local_table(self.spark, self._draws(n_draws), DRAW_SCHEMA)

    def _scoring_cells(self) -> pd.DataFrame:
        """The big survey's covariate-pattern cells, collected once and
        scored by both EBP and the bootstrap."""
        if self._big_cells is None:
            self._big_cells = scoring_cells(self.big)
        return self._big_cells

    def ebp_estimates(self, n_draws: int = 100) -> pd.DataFrame:
        """EBP area proportions on the big survey (``Rmd:406-454``), one row
        per area: (state, EM_est)."""
        draws = self._draws(n_draws)
        self._ebp = ebp_estimates(self._scoring_cells(), self.em_fit.beta_hat, draws)
        return self._ebp

    def direct_estimates(self) -> pd.DataFrame:
        """Survey-weighted direct estimates ± SE (``Rmd:456-473``), one row
        per area: (state, direct, direct_SE), from the small survey's
        outcome cells that the fits share."""
        self._direct = direct_estimates(self._outcome_cells())
        return self._direct

    def _comparison_table(self) -> pd.DataFrame:
        if self._direct is None:
            self.direct_estimates()
        if self._ebp is None:
            self.ebp_estimates()
        return comparison_table(self.actuals, [self._direct, self._ebp])

    def comparison(self) -> DataFrame:
        """Actuals ⋈ direct ⋈ EBP full-outer comparison (``Rmd:466-472``)."""
        return comparison_frame(self.spark, self.actuals, self._comparison_table())

    def error_measures(self) -> pd.DataFrame:
        """ASD/RASD/AAD of each estimator vs actuals (``Rmd:481-507``)."""
        return error_summary(self._comparison_table(), "actual", ["direct", "EM_est"])

    # ------------------------------------------------------------- closing
    def bootstrap_mspe(
        self, n_reps: int = 10, em: EMEstimator | None = None
    ) -> pd.DataFrame:
        """Parametric-bootstrap MSPE per area (``Rmd:557-757``):
        (state, sqrt_MSPE)."""
        assert self.em_fit is not None, "fit_em first"
        long_df, _ = parametric_bootstrap(
            self.small,
            self.big,
            self.em_fit.beta_hat,
            self.em_fit.sigma_hat,
            n_reps=n_reps,
            em=em,
            seed=self.seed + 100,
            big_cells=self._scoring_cells(),
        )
        return mspe_table(long_df)

    def final_report(
        self, bootstrap_reps: int = 10, em: EMEstimator | None = None
    ) -> DataFrame:
        """The closing SQL report (``Rmd:763-776``):
        (state, name, actual_val, direct_est, EBP_est, direct_SE, EBP_SE)."""
        comp = self._comparison_table()
        if bootstrap_reps > 0:
            mspe = self.bootstrap_mspe(bootstrap_reps, em=em)
        else:
            mspe = comp[["state"]].assign(sqrt_MSPE=np.nan)
        return final_report(
            self.spark,
            comparison_frame(self.spark, self.actuals, comp),
            area_frame(self.spark, mspe, MSPE_SCHEMA),
        )

    def save_maps(self, out_dir: str, columns: tuple[str, ...] = ()) -> list[str]:
        """S4 choropleth sinks (``Rmd:513-549``: ``plot_usmap`` of actual /
        direct / EBP): one SVG tile-grid map per estimator column of the
        comparison table, written to ``out_dir``. Defaults to every non-key
        column present."""
        import os

        from data_integration_spark.viz import save_choropleth

        comp = self.comparison()
        cols = list(columns) or [c for c in comp.columns if c != "state"]
        os.makedirs(out_dir, exist_ok=True)
        return [
            save_choropleth(
                comp, os.path.join(out_dir, f"map_{c}.svg"),
                value_col=c, title=c,
            )
            for c in cols
        ]

