"""Survey design-matrix preparation (reference ``Method_code.Rmd:222-247``).

The reference builds x1..x7 indicator/transform columns row-by-row and keeps
the unit-level table everywhere. Our engine adds the **covariate-pattern
collapse** (SURVEY.md §7.4.1): the design has ≤ 2·2·3·3 covariate patterns
per area (x7 is area-constant), so the unit-level table collapses to
weighted cells ``(state, x1..x7, y, m, w_sum)``. Every GLM/EM/EBP
computation downstream is exact on cells — a constant-factor win the
row-wise reference never exploits, and the reason the β-step scales: the
optimizer touches |cells| × R rows, not |units| × R.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_spark.functions.math import logit

X_COLS = ["x1", "x2", "x3", "x4", "x5", "x6", "x7"]


def prep_design(df: DataFrame, with_outcome: bool = True) -> DataFrame:
    """Build y, x1..x7 from the raw survey columns (``Rmd:227-234``):
    x1=[age4=45-64], x2=[gender=female], x3=[race3=black],
    x4=[race3=hispanic], x5=[educ4=col grad], x6=[educ4=postgrad],
    x7=qlogis(obama12)."""

    def ind(c: str, v: str) -> Column:
        return F.when(F.col(c) == v, 1).otherwise(0)

    out = df.withColumns(
        {
            "x1": ind("age4", "45-64"),
            "x2": ind("gender", "female"),
            "x3": ind("race3", "black"),
            "x4": ind("race3", "hispanic"),
            "x5": ind("educ4", "col grad"),
            "x6": ind("educ4", "postgrad"),
            "x7": logit("obama12"),
        }
    )
    if with_outcome:
        out = out.withColumn("y", F.col("demvote").cast("int"))
    return out


def x_beta_col(beta: Sequence[float]) -> Column:
    """Linear predictor from 8 coefficients (``Rmd:245-247``) — literals are
    constant-folded by Catalyst."""
    expr: Column = F.lit(float(beta[0]))
    for k, x in enumerate(X_COLS, start=1):
        expr = expr + F.col(x) * F.lit(float(beta[k]))
    return expr


def design_cells(
    prepped: DataFrame,
    with_outcome: bool = True,
    weight_col: str | None = "weight",
    by: Sequence[str] = (),
) -> DataFrame:
    """Collapse a prepped survey to covariate-pattern cells.

    Returns ([by..,] state, x1..x7[, y], m, w_sum, w2_sum, w_n): m = unit
    count, w_sum = summed survey weight, w2_sum = summed squared weight,
    w_n = count of non-null weights (the last three null/0 without a
    weight column); ``by`` adds leading keys (the bootstrap's rep). One
    shuffle; output is ≤ #areas × 72 rows (2·2·3·3 covariate patterns × 2
    outcomes; x7 is area-constant) per ``by`` group regardless of input size
    — THE scalability lever for the iterative layer.
    """
    keys = [*by, "state", *X_COLS] + (["y"] if with_outcome else [])
    w = F.col(weight_col) if weight_col in prepped.columns else F.lit(None)
    w = w.cast("double")
    return prepped.groupBy(*keys).agg(
        F.count("*").alias("m"),
        F.sum(w).alias("w_sum"),
        F.sum(w * w).alias("w2_sum"),
        F.count(w).alias("w_n"),
    )


def outcome_cells(
    survey: DataFrame | pd.DataFrame, weight_col: str | None = "weight"
) -> pd.DataFrame:
    """The survey's (state, x1..x7, y, m, w_sum) outcome cells, collected in
    one query: the table the GLM and the EM fit on. A pandas frame is taken
    as these cells, collected already."""
    if isinstance(survey, pd.DataFrame):
        return survey
    return design_cells(prep_design(survey), weight_col=weight_col).toPandas()


# raw survey column behind each cell column that can carry a null/NaN
# (the x1..x6 indicators map nulls to 0)
_SOURCE_COL = {"x7": "obama12", "y": "demvote"}


@dataclass(frozen=True)
class CellArrays:
    """A collected outcome cell table as NumPy arrays, one entry per cell,
    cells sorted by (state, x1..x7, y) so every fit sums in one order."""

    states: list  # sorted distinct areas
    state_idx: np.ndarray  # cell -> index into states
    X: np.ndarray  # (cells, 8): intercept, x1..x7
    y: np.ndarray
    m: np.ndarray  # unit count
    w: np.ndarray  # likelihood weight: w_sum if weighted, else m


def cell_arrays(cells: pd.DataFrame, weighted: bool = False) -> CellArrays:
    """Convert a collected ``design_cells(..., with_outcome=True)`` table.

    The cell likelihood Σ w·NLL(y, xβ) equals the unit-level one, so fits
    on these arrays are exact. Raises ``ValueError`` naming the column when
    any x1..x7, y, m or w is null or NaN — a null covariate or label would
    otherwise surface as an opaque linear-algebra failure mid-fit."""
    w_col = "w_sum" if weighted else "m"
    for c in [*X_COLS, "y", "m", w_col]:
        bad = int(cells[c].isna().sum())
        if bad:
            src = _SOURCE_COL.get(c)
            src = f" (from survey column {src!r})" if src else ""
            raise ValueError(
                f"design cell column {c!r}{src} is null or NaN in {bad} cell(s)"
            )
    cells = cells.sort_values(["state", *X_COLS, "y"])
    states = sorted(cells["state"].unique())
    s_idx = {s: i for i, s in enumerate(states)}
    return CellArrays(
        states=states,
        state_idx=cells["state"].map(s_idx).to_numpy(),
        X=np.column_stack([np.ones(len(cells)), cells[X_COLS].to_numpy(float)]),
        y=cells["y"].to_numpy(float),
        m=cells["m"].to_numpy(float),
        w=cells[w_col].to_numpy(float),
    )
