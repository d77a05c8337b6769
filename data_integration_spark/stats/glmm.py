"""Fixed-effects logistic baseline (reference M1/M2).

The reference fits ``glmer(demvote ~ x1..x7 + (1|state), binomial)``
(``Method_code.Rmd:68-71``) and extracts fixed effects/variance components
(``Rmd:72-80``). Spark has no GLMM; per SURVEY.md §2.10 the mapping is:
(a) fixed-effects-only baseline here — used for EM initialization and as
the glmer-vs-EM cross-check the reference prints at ``Rmd:602-607`` — and
(b) the random intercept via the EM estimator (stats/em.py) — which is
exactly what the paper built it for.

The baseline is fit on the covariate-pattern cell table (design.py), which
is bounded by the design (≤ areas × 72 rows), not by the survey size: ONE
collect brings it to the driver, then damped Newton (``optimize.newton_minimize``)
with the analytic gradient and Hessian minimizes the weighted binomial
NLL on the driver. The cell likelihood IS the unit-level likelihood, so
the fit is exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from data_integration_spark.stats.design import cell_arrays, outcome_cells
from data_integration_spark.stats.em import N_BETA, _expit, _softplus
from data_integration_spark.stats.optimize import newton_minimize


class FixedEffectsGLM:
    """Binomial/logit GLM over the reference design (intercept + x1..x7)."""

    def __init__(self, weight_col: str | None = None):
        self.weight_col = weight_col  # survey-weighted fit (svyglm analog)
        self.beta_: np.ndarray | None = None

    def fit(self, survey: DataFrame | pd.DataFrame) -> "FixedEffectsGLM":
        """Minimize Σ w·[y·softplus(−xβ) + (1−y)·softplus(xβ)] over cells;
        w = unit count, or summed ``weight_col`` for a weighted fit.
        ``survey`` may be its ``outcome_cells``, whose w_sum a weighted fit
        then reads."""
        cells = cell_arrays(
            outcome_cells(survey, self.weight_col),
            weighted=self.weight_col is not None,
        )
        X, y, w = cells.X, cells.y, cells.w

        def fgh(b: np.ndarray):
            z = X @ b
            p = _expit(z)
            f = float(w @ (y * _softplus(-z) + (1.0 - y) * _softplus(z)))
            g = X.T @ (w * (p - y))
            H = (X * (w * p * (1.0 - p))[:, None]).T @ X
            return f, g, H

        self.beta_ = newton_minimize(fgh, np.zeros(N_BETA))
        return self
