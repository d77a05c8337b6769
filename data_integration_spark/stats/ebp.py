"""EBP scoring, direct estimation, comparison & final report — the
composite pipelines of the reference (SURVEY.md §2.12, C1/C2/C5).

Every table after the EM has a size fixed by the design, not by the
number of units: the estimates have at most one row per area. So each
Spark job here is ONE aggregation to such a table, collected once, and the
combining steps run in NumPy/pandas on those area tables. Unit rows are
read only inside Spark aggregations.

- EBP (``Method_code.Rmd:406-454``): ŷ = mean_r expit(xβ + v_r,s) over R
  draws, v=0 for areas absent from the small survey; then the A1 weighted
  mean per area. On cells the unit dimension collapses: the big survey is
  collected as ≤ areas × 36 covariate-pattern cells carrying w_sum, and the
  (state, r, v_tilde) draw table of areas × R rows is made on the driver.
- Direct (``Rmd:456-473``): survey-weighted Hájek mean ± linearized SE ×100,
  in NumPy on the small survey's outcome cells, which the GLM and the EM
  fit on: no Spark job of its own.
- Comparison (``Rmd:466-507``): outer merge on state in pandas + ASD/RASD/AAD.
- Report (``Rmd:763-772``): the literal SQL left-join chain via spark.sql,
  over local DataFrames built from the area tables.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StructField, StructType

from data_integration_spark.functions.rng import replicate_normals
from data_integration_spark.sources.local import local_table
from data_integration_spark.stats.design import (
    X_COLS,
    design_cells,
    outcome_cells,
    prep_design,
)

DRAW_SCHEMA = "state string, r int, v_tilde double"


def draw_table(v_hat: pd.DataFrame, n_draws: int, seed: int) -> pd.DataFrame:
    """(state, r, v_tilde) EBP draws, v_tilde ~ N(v̂, τ̂²) per (r, area)
    (``Rmd:415``: R=100) from the EM's (state, v_hat, tau_hat_sq) table,
    for the ``int`` draw numbers r = 1..n_draws: v̂ + τ̂·z with z the
    driver's ``seeded_normal(state, r, salt=seed)``. Rows run by state,
    then r; ``DRAW_SCHEMA`` is their Spark schema."""
    states = v_hat["state"].tolist()
    z = replicate_normals(states, n_draws, seed, "n_draws")
    tau = np.sqrt(v_hat["tau_hat_sq"].to_numpy(float))
    v = v_hat["v_hat"].to_numpy(float) + tau * z
    return pd.DataFrame(
        {
            "state": np.repeat(np.asarray(states, dtype=object), n_draws),
            "r": np.tile(np.arange(1, n_draws + 1, dtype=np.int32), len(states)),
            "v_tilde": v.T.ravel(),
        }
    )


def scoring_cells(survey: DataFrame) -> pd.DataFrame:
    """The survey's (state, x1..x7, m, w_sum) covariate-pattern cells,
    collected: ≤ areas × 36 rows whatever the number of units."""
    return design_cells(
        prep_design(survey, with_outcome=False), with_outcome=False
    ).toPandas()


def cell_x_beta(cells: pd.DataFrame, beta: Sequence[float]) -> np.ndarray:
    """xβ per cell (``Rmd:245-247``)."""
    beta = np.asarray(beta, dtype=float)
    return beta[0] + cells[X_COLS].to_numpy(float) @ beta[1:]


def expit(x: np.ndarray) -> np.ndarray:
    """1/(1+exp(-x)), the formula of ``functions.math.expit``."""
    return 1.0 / (1.0 + np.exp(-x))


def area_means(cells: pd.DataFrame, y_hat: np.ndarray) -> pd.Series:
    """100 × Σ w_sum·ŷ / Σ w_sum per area (A1), indexed by state. Exact on
    cells: w_sum carries the summed unit weights of each pattern."""
    w = cells["w_sum"].to_numpy(float)
    sums = (
        pd.DataFrame({"state": cells["state"], "wy": w * y_hat, "w": w})
        .groupby("state", sort=True)
        .sum()
    )
    return 100.0 * sums["wy"] / sums["w"]


def ebp_estimates(
    big_cells: pd.DataFrame,
    beta: Sequence[float],
    v_draws: pd.DataFrame,
    est_alias: str = "EM_est",
) -> pd.DataFrame:
    """Per-area EBP (state, ``est_alias``): 100 × Σ_u w_u·ŷ_u / Σ_u w_u with
    ŷ_u = mean_r expit(xβ_u + v_r,area) (``Rmd:406-454``), scored on the
    big survey's ``scoring_cells``.

    ``v_draws`` is the long (state, r, v_tilde) table of ``draw_table`` (the
    reference reuses ``v_case_sim``, first 100 reps, ``Rmd:415``); each
    area's draws are taken in row order. Areas missing from ``v_draws``
    score with v=0 (generalized MT/SD, ``Rmd:433-435``) — no hard-coded
    states."""
    by_state = {s: g["v_tilde"].to_numpy(float) for s, g in v_draws.groupby("state")}
    xb = cell_x_beta(big_cells, beta)
    y_hat = np.empty(len(big_cells))
    for state, idx in big_cells.groupby("state").indices.items():
        v = by_state.get(state, np.zeros(1))
        y_hat[idx] = expit(xb[idx, None] + v[None, :]).mean(axis=1)
    est = area_means(big_cells, y_hat)
    return pd.DataFrame({"state": est.index, est_alias: est.to_numpy()})


def direct_estimates(small: DataFrame | pd.DataFrame) -> pd.DataFrame:
    """Per-area survey-weighted direct estimate ± SE, ×100 (``Rmd:456-473``:
    ``svyby`` + the 100× scaling) as (state, direct, direct_SE), from the
    small survey's ``outcome_cells`` (collected here when given the survey).

    ``survey_mean_se``'s Hájek mean and linearized SE, summed over cells:
    y is a cell key, so Σ_u (w_u(y_u − ŷ))² = Σ_cells (y − ŷ)²·w2_sum
    exactly. Its rules hold: units with a null y are dropped, n counts the
    units with a y and a weight, the n/(n−1) factor applies when n > 1 (so
    a one-unit area has SE 0), and an area with no weight has a null
    estimate and SE."""
    cells = outcome_cells(small)
    cells = cells[cells["y"].notna()]
    idx, states = pd.factorize(cells["state"], sort=True, use_na_sentinel=False)

    def total(values) -> np.ndarray:
        return np.bincount(idx, np.asarray(values, float), len(states))

    y = cells["y"].to_numpy(float)
    w = cells["w_sum"].fillna(0.0).to_numpy(float)
    n, sw = total(cells["w_n"]), total(w)
    with np.errstate(invalid="ignore", divide="ignore"):  # no weight: 0/0
        mean = total(w * y) / sw
        ssd = total((y - mean[idx]) ** 2 * cells["w2_sum"].fillna(0.0))
        se = np.sqrt(np.where(n > 1, n / (n - 1), 1.0) * ssd) / sw
    return pd.DataFrame(
        {"state": states, "direct": 100.0 * mean, "direct_SE": 100.0 * se}
    )


def comparison_table(
    actuals: DataFrame, estimate_tables: Sequence[pd.DataFrame]
) -> pd.DataFrame:
    """J1 full-outer fold of actuals + estimator tables on state
    (``reduce(full_join, by='state')``, ``Rmd:466-469``): actuals are
    collected once, the fold is a pandas outer merge. A missing value is
    NaN here and NULL in ``comparison_frame``."""
    act = pd.DataFrame(actuals.collect(), columns=actuals.columns, dtype=object)
    comp = reduce(
        lambda a, b: a.merge(b, on="state", how="outer"), estimate_tables, act
    )
    return comp[["state", *[c for c in comp.columns if c != "state"]]]


def area_frame(
    spark: SparkSession, table: pd.DataFrame, schema: StructType | str
) -> DataFrame:
    """A pandas area table as a local Spark DataFrame; NaN becomes a
    real NULL, as the Spark join it replaces would leave it."""
    return local_table(spark, table, schema)


def comparison_frame(
    spark: SparkSession, actuals: DataFrame, comp: pd.DataFrame
) -> DataFrame:
    """``comparison_table``'s result as a Spark DataFrame: actuals keep
    their column types, estimator columns are doubles."""
    schema = StructType(
        [
            actuals.schema[c] if c in actuals.columns else StructField(c, DoubleType())
            for c in comp.columns
        ]
    )
    return area_frame(spark, comp, schema)


def error_summary(
    comp: pd.DataFrame, actual_col: str, est_cols: Sequence[str]
) -> pd.DataFrame:
    """ASD/RASD/AAD per estimator against the actuals (``Rmd:481-507``),
    NULL-skipping like the reference's ``na.rm=TRUE``: an area missing
    either value drops out of that estimator's averages."""
    rows = []
    for est in est_cols:
        d = (comp[est].astype(float) - comp[actual_col].astype(float)).dropna()
        asd = float((d * d).mean()) if len(d) else None
        rows.append(
            {
                "estimator": est,
                "asd": asd,
                "rasd": None if asd is None else float(np.sqrt(asd)),
                "aad": float(d.abs().mean()) if len(d) else None,
            }
        )
    return pd.DataFrame(rows)


REPORT_SQL = """
SELECT a.state AS state, a.name AS name,
       ROUND(a.actual, 2) AS actual_val,
       ROUND(a.direct, 2) AS direct_est,
       ROUND(a.EM_est, 2) AS EBP_est,
       ROUND(a.direct_SE, 2) AS direct_SE,
       ROUND(b.sqrt_MSPE, 2) AS EBP_SE
FROM comp_data a
LEFT JOIN final_MSPE b ON a.state = b.state
"""


def final_report(
    spark: SparkSession,
    comp_data: DataFrame,
    final_mspe: DataFrame,
) -> DataFrame:
    """The reference's closing sqldf query (``Rmd:763-772``) — run verbatim
    as ANSI SQL over temp views of the comparison and MSPE area tables."""
    comp_data.createOrReplaceTempView("comp_data")
    final_mspe.createOrReplaceTempView("final_MSPE")
    return spark.sql(REPORT_SQL)
