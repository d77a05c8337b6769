"""EM algorithm for the random-intercept logistic GLMM — the reference's
core method (adjusted maximum likelihood, ``Method_code.Rmd:217-390``).

Spark-first re-architecture (SURVEY.md §2.11):

- The unit-level survey collapses once to covariate-pattern **cells**
  (design.py) — every E/M step below is mathematically exact on cells.
- E1 per-area Laplace approximation: ``groupBy(state).applyInPandas`` with a
  NumPy golden-section maximizer inside (the reference loops states on the
  driver, ``Rmd:252-274``).
- E2 MC draws: ONE long (r, state) DataFrame with hash-seeded normals —
  deterministic across partitionings and cluster sizes (the reference builds
  an R list of 1000 data.frames, ``Rmd:276-296``).
- E3 σ step: closed form σ̂² = mean(n_v_sq)/(n−2), the exact optimum of the
  reference's 1-D objective (``Rmd:298-310``; same maximizer, no search).
- E4 β step: damped Newton with analytic gradient AND Hessian, each
  evaluation ONE aggregation pass over cells × draws (the reference runs
  L-BFGS-B with finite differences, re-filtering per (replicate, state)
  INSIDE the objective — O(iter·R·S·n) scans, ``Rmd:312-337``; its worst
  hotspot per BASELINE.md).

Two execution modes with identical results (same Spark-generated draws):
``driver`` — cells+draws collected once, NumPy evaluations (right when cells
fit on the driver: the reference's actual scale); ``distributed`` — Newton
evaluations as Spark aggregations over a cached cells×draws skeleton (the
100 TB path: never materializes unit-level × R anywhere).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.functions.rng import seeded_normal
from data_integration_spark.stats.design import (
    X_COLS,
    cell_arrays,
    design_cells,
    prep_design,
)
from data_integration_spark.stats.optimize import golden_max, newton_minimize

N_BETA = 8


def _softplus(z: np.ndarray) -> np.ndarray:
    return np.where(z > 30, z, np.log1p(np.exp(np.minimum(z, 30))))


def _expit(z: np.ndarray) -> np.ndarray:
    out = np.empty_like(z, dtype=float)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def laplace_one_area(
    xb: np.ndarray,
    y: np.ndarray,
    m: np.ndarray,
    sigma: float,
    v_bounds: tuple[float, float] = (-3.0, 3.0),
    tol: float = 1e-6,
) -> tuple[float, float]:
    """Maximize log g(v) = −v²/2σ² + Σ m·[y·logθ + (1−y)·log(1−θ)],
    θ = expit(xb+v) (``Rmd:253-262``, in logs for stability); returns
    (v̂, τ̂²) with τ̂² = 1/(1/σ² + Σ m·θ'(xb+v̂)) (``Rmd:264-266``)."""

    def log_g(v: float) -> float:
        z = xb + v
        nll = y * _softplus(-z) + (1.0 - y) * _softplus(z)
        return -(v * v) / (2.0 * sigma * sigma) - float(np.dot(m, nll))

    v_hat, _ = golden_max(log_g, v_bounds[0], v_bounds[1], tol=tol)
    p = _expit(xb + v_hat)
    tau_sq = 1.0 / (1.0 / (sigma * sigma) + float(np.dot(m, p * (1.0 - p))))
    return v_hat, tau_sq


@dataclass
class EMResult:
    beta_hat: np.ndarray
    sigma_hat: float
    v_hat: pd.DataFrame  # state, ni, v_hat, tau_hat_sq
    n_iter: int
    converged: bool
    history: list[dict] = field(default_factory=list)

    def v_hat_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.v_hat)


class EMEstimator:
    """Adjusted-maximum-likelihood EM for (β ∈ R⁸, σ).

    Parameters mirror the reference's constants (``Rmd:220,358,379-383``):
    R=1000 MC replicates, v ∈ [−3,3], σ² ∈ (0,100], outer tolerance 0.01 on
    all 9 parameters, max 1000 outer iterations.
    """

    def __init__(
        self,
        n_reps: int = 1000,
        tol: float = 0.01,
        max_iter: int = 1000,
        v_bounds: tuple[float, float] = (-3.0, 3.0),
        sigma_sq_bounds: tuple[float, float] = (1e-8, 100.0),
        mode: str = "auto",
        seed: int = 42,
        driver_cells_limit: int = 50_000,
    ):
        self.n_reps = n_reps
        self.tol = tol
        self.max_iter = max_iter
        self.v_bounds = v_bounds
        self.sigma_sq_bounds = sigma_sq_bounds
        self.mode = mode
        self.seed = seed
        self.driver_cells_limit = driver_cells_limit

    # ------------------------------------------------------------- fitting
    def fit(
        self,
        survey: DataFrame,
        beta_init: np.ndarray | None = None,
        sigma_init: float = 0.1,
    ) -> EMResult:
        spark = survey.sparkSession
        beta = (
            np.full(N_BETA, 0.1) if beta_init is None else np.asarray(beta_init, float)
        )
        sigma = float(sigma_init)

        # Driver metadata: both modes need (states, ni, n_total). Driver
        # mode collects the full cell table (bounded at ≤ areas×patterns by
        # the covariate collapse AND gated by driver_cells_limit); auto mode
        # decides from ONE bounded collect of limit+1 cells, which is the
        # driver table itself when it fits: no count, no cache. Distributed
        # mode caches the cells and derives the per-area totals from ONE
        # ≤areas-row aggregation — the driver never holds the cell table.
        cells_df = design_cells(prep_design(survey), with_outcome=True)
        mode = self.mode
        if mode == "auto":
            cells_pd = cells_df.limit(self.driver_cells_limit + 1).toPandas()
            mode = (
                "driver"
                if len(cells_pd) <= self.driver_cells_limit
                else "distributed"
            )
        elif mode == "driver":
            cells_pd = cells_df.toPandas()

        X = y = m = cell_state = None
        if mode == "driver":
            cells = cell_arrays(cells_pd)
            states, cell_state = cells.states, cells.state_idx
            X, y, m = cells.X, cells.y, cells.m
            s_idx = {s: i for i, s in enumerate(states)}
            ni = np.zeros(len(states))
            np.add.at(ni, cell_state, m)
            n_total = float(m.sum())
        else:
            cells_df = cells_df.cache()
            ni_pd = (
                cells_df.groupBy("state")
                .agg(F.sum("m").alias("ni"))
                .toPandas()
                .sort_values("state")
            )
            states = list(ni_pd["state"])
            s_idx = {s: i for i, s in enumerate(states)}
            ni = ni_pd["ni"].to_numpy(float)
            n_total = float(ni.sum())

        # standard-normal draw table (r, state, z): generated ONCE in Spark
        # with hash seeding → identical in both modes and any partitioning.
        # Driver mode collects it (cells fit on the driver by definition of
        # the mode); distributed mode NEVER materializes the R×S table on
        # the driver — E2/E3 moments run as Spark aggregations over the
        # cached draw table, and E4 over the cells×draws skeleton.
        draws_sp = self._draws_df(spark, states)
        skeleton = None
        if mode == "distributed":
            self._z_base = None
            draws_sp = draws_sp.cache()
            skeleton = cells_df.join(F.broadcast(draws_sp), "state").cache()
            skeleton.count()
        else:
            draws_pd = draws_sp.toPandas()
            self._z_base = np.zeros((self.n_reps, len(states)))
            self._z_base[
                draws_pd["r"].to_numpy() - 1,
                draws_pd["state"].map(s_idx).to_numpy(),
            ] = draws_pd["z"].to_numpy()

        history: list[dict] = []
        converged = False
        it = 0
        for it in range(1, self.max_iter + 1):
            # E1: per-area Laplace. Driver mode: NumPy loop over areas
            # (cells are tiny). Distributed mode: groupBy(state).applyInPandas
            # with the same NumPy optimizer inside — areas solved in parallel
            # across executors (SURVEY.md §2.11 E1).
            if mode == "distributed":
                v_hat, tau_sq = self._laplace_spark(
                    cells_df, states, beta, sigma
                )
            else:
                xb = X @ beta
                v_hat = np.zeros(len(states))
                tau_sq = np.zeros(len(states))
                for si in range(len(states)):
                    sel = cell_state == si
                    v_hat[si], tau_sq[si] = laplace_one_area(
                        xb[sel], y[sel], m[sel], sigma, self.v_bounds
                    )
            # E2: v_tilde = v̂ + τ̂·z per (r, state). The base z is FIXED
            # across outer iterations (common random numbers): unlike the
            # reference's fresh rnorm per call (Rmd:283), the MC objective is
            # then a fixed function and the outer loop converges monotonically
            # instead of rattling inside MC noise. Documented deviation.
            # E3: closed-form σ M-step (exact optimum of Rmd:301-310):
            # σ̂² = mean_r(Σ_s ni_s·v²_{r,s}) / (n−2). Driver mode: NumPy on
            # the collected z matrix. Distributed mode: ONE Spark sum over
            # the (r, state, z) draw table — v_tilde and the ni lookup are
            # map-literal expressions, nothing R×S touches the driver.
            if mode == "distributed":
                mean_nvsq = self._mean_nvsq_spark(
                    draws_sp, states, ni, v_hat, tau_sq
                )
            else:
                v_tilde = (
                    v_hat[None, :] + np.sqrt(tau_sq)[None, :] * self._z_base
                )
                mean_nvsq = float(np.mean((v_tilde * v_tilde) @ ni))
            sigma_sq = mean_nvsq / max(n_total - 2.0, 1.0)
            sigma_new = math.sqrt(
                min(max(sigma_sq, self.sigma_sq_bounds[0]), self.sigma_sq_bounds[1])
            )
            # E4: β M-step (Newton, analytic grad+Hessian)
            if mode == "driver":
                beta_new = self._beta_step_numpy(X, y, m, cell_state, v_tilde, beta)
            else:
                beta_new = self._beta_step_spark(
                    skeleton, states, v_hat, tau_sq, beta
                )

            deltas = np.abs(np.append(beta_new - beta, sigma_new - sigma))
            history.append(
                {"iter": it, "beta": beta_new.copy(), "sigma": sigma_new,
                 "max_delta": float(deltas.max())}
            )
            beta, sigma = beta_new, sigma_new
            if np.all(deltas < self.tol):
                converged = True
                break

        if skeleton is not None:
            cells_df.unpersist()
            skeleton.unpersist()
            draws_sp.unpersist()

        v_hat_pd = pd.DataFrame(
            {"state": states, "ni": ni.astype("int64"), "v_hat": v_hat,
             "tau_hat_sq": tau_sq}
        )
        return EMResult(beta, sigma, v_hat_pd, it, converged, history)

    # ------------------------------------------------------------- helpers
    def _draws_df(self, spark: SparkSession, states: list[str]) -> DataFrame:
        """(state, r, z) standard-normal skeleton, hash-seeded (R2/R3)."""
        sdf = spark.createDataFrame(pd.DataFrame({"state": states}))
        return sdf.select(
            "state",
            F.explode(F.sequence(F.lit(1), F.lit(self.n_reps))).alias("r"),
        ).withColumn("z", seeded_normal("state", "r", salt=self.seed))

    def _mean_nvsq_spark(
        self,
        draws_sp: DataFrame,
        states: list[str],
        ni: np.ndarray,
        v_hat: np.ndarray,
        tau_sq: np.ndarray,
    ) -> float:
        """E2+E3 moment as one Spark aggregation over the (r, state, z)
        draw table: mean_r Σ_s ni_s·(v̂_s + τ̂_s·z)². The per-state scalars
        ride as map literals (≤51 entries) — no join, no driver R×S table."""
        vh = F.create_map(
            *[
                x
                for i, s in enumerate(states)
                for x in (F.lit(s), F.lit(float(v_hat[i])))
            ]
        )
        th = F.create_map(
            *[
                x
                for i, s in enumerate(states)
                for x in (F.lit(s), F.lit(float(math.sqrt(tau_sq[i]))))
            ]
        )
        nim = F.create_map(
            *[
                x
                for i, s in enumerate(states)
                for x in (F.lit(s), F.lit(float(ni[i])))
            ]
        )
        v_t = vh[F.col("state")] + th[F.col("state")] * F.col("z")
        total = draws_sp.agg(
            F.sum(nim[F.col("state")] * v_t * v_t).alias("t")
        ).collect()[0]["t"]
        return float(total) / float(self.n_reps)

    def _laplace_spark(
        self,
        cells_df: DataFrame,
        states: list[str],
        beta: np.ndarray,
        sigma: float,
    ) -> tuple[np.ndarray, np.ndarray]:
        """E1 as ``groupBy(state).applyInPandas``: each area's cells arrive
        as one pandas frame; the golden-section maximizer runs inside the
        Arrow worker — ≤51 groups solved in parallel across executors."""
        from data_integration_spark.stats.design import x_beta_col

        v_bounds = self.v_bounds

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            v, t = laplace_one_area(
                pdf["xb"].to_numpy(float),
                pdf["y"].to_numpy(float),
                pdf["m"].to_numpy(float),
                sigma,
                v_bounds,
            )
            return pd.DataFrame(
                {
                    "state": [pdf["state"].iloc[0]],
                    "v_hat": [v],
                    "tau_hat_sq": [t],
                }
            )

        out = (
            cells_df.withColumn("xb", x_beta_col(beta))
            .groupBy("state")
            .applyInPandas(solve, "state string, v_hat double, tau_hat_sq double")
            .toPandas()
            .set_index("state")
        )
        v_hat = np.array([out.loc[s, "v_hat"] for s in states])
        tau_sq = np.array([out.loc[s, "tau_hat_sq"] for s in states])
        return v_hat, tau_sq

    def _beta_step_numpy(
        self,
        X: np.ndarray,
        y: np.ndarray,
        m: np.ndarray,
        cell_state: np.ndarray,
        v_tilde: np.ndarray,
        beta0: np.ndarray,
    ) -> np.ndarray:
        """h2(β) = mean_r Σ_cells m·NLL(y, xβ + v_r,state) minimized by
        Newton; one vectorized pass per evaluation (chunked over R)."""
        R = v_tilde.shape[0]
        chunk = max(1, min(R, 4_000_000 // max(len(y), 1)))

        def fgh(b: np.ndarray):
            xb = X @ b
            f = 0.0
            g = np.zeros(N_BETA)
            H = np.zeros((N_BETA, N_BETA))
            for r0 in range(0, R, chunk):
                v = v_tilde[r0 : r0 + chunk, cell_state]  # (c, cells)
                z = xb[None, :] + v
                p = _expit(z)
                nll = y[None, :] * _softplus(-z) + (1 - y[None, :]) * _softplus(z)
                w = m / R
                f += float((nll * w[None, :]).sum())
                resid = ((p - y[None, :]) * w[None, :]).sum(axis=0)  # per cell
                g += X.T @ resid
                curv = (p * (1 - p) * w[None, :]).sum(axis=0)
                H += (X * curv[:, None]).T @ X
            return f, g, H

        return newton_minimize(fgh, beta0)

    def _beta_step_spark(
        self,
        skeleton: DataFrame,
        states: list[str],
        v_hat: np.ndarray,
        tau_sq: np.ndarray,
        beta0: np.ndarray,
    ) -> np.ndarray:
        """Distributed Newton over the cached cells×draws skeleton — the
        objective/grad/Hessian evaluator is ``_fgh_spark``."""
        return newton_minimize(
            self._fgh_spark(skeleton, states, v_hat, tau_sq), beta0
        )

    def _fgh_spark(
        self,
        skeleton: DataFrame,
        states: list[str],
        v_hat: np.ndarray,
        tau_sq: np.ndarray,
    ):
        """(f, grad, Hessian) of the MC β-objective h2 as ONE agg pass over
        the cells×draws skeleton — 1+8+36 sums, all native expressions
        (SURVEY.md §2.13: objectives as agg(sum(expr))). Shared by the
        M-step Newton iterations and the stationarity certificate
        (q_em_convergence), so the certificate checks EXACTLY the
        arithmetic the fit optimized."""
        vh = F.create_map(
            *[
                x
                for i, s in enumerate(states)
                for x in (F.lit(s), F.lit(float(v_hat[i])))
            ]
        )
        th = F.create_map(
            *[
                x
                for i, s in enumerate(states)
                for x in (F.lit(s), F.lit(float(math.sqrt(tau_sq[i]))))
            ]
        )
        sk = skeleton.withColumn(
            "v_t", vh[F.col("state")] + th[F.col("state")] * F.col("z")
        )

        xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in X_COLS]
        R = float(self.n_reps)

        def fgh(b: np.ndarray):
            xb = F.lit(float(b[0]))
            for k in range(1, N_BETA):
                xb = xb + xs[k] * F.lit(float(b[k]))
            z = xb + F.col("v_t")
            sp_pos = F.when(z > 30, z).otherwise(F.log1p(F.exp(F.least(z, F.lit(30.0)))))
            sp_neg = F.when(-z > 30, -z).otherwise(
                F.log1p(F.exp(F.least(-z, F.lit(30.0))))
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w = F.col("m") / F.lit(R)
            nll = (F.col("y") * sp_neg + (1 - F.col("y")) * sp_pos) * w
            resid = (p - F.col("y")) * w
            curv = p * (F.lit(1.0) - p) * w
            aggs = [F.sum(nll).alias("f")]
            for k in range(N_BETA):
                aggs.append(F.sum(resid * xs[k]).alias(f"g{k}"))
            for j in range(N_BETA):
                for k in range(j, N_BETA):
                    aggs.append(F.sum(curv * xs[j] * xs[k]).alias(f"h{j}_{k}"))
            row = sk.agg(*aggs).collect()[0]
            f = float(row["f"])
            g = np.array([row[f"g{k}"] for k in range(N_BETA)])
            H = np.zeros((N_BETA, N_BETA))
            for j in range(N_BETA):
                for k in range(j, N_BETA):
                    H[j, k] = H[k, j] = row[f"h{j}_{k}"]
            return f, g, H

        return fgh


def em_stationarity_certificate(
    survey: DataFrame,
    result: EMResult,
    estimator: EMEstimator,
) -> dict:
    """Fixed-point residuals of a converged EM fit, evaluated as
    DISTRIBUTED aggregations — the oracle-grade check behind
    q_em_convergence (VERDICT r6 #1, mirroring q_glm_convergence's score
    certificate).

    At an EM fixed point, re-running one E-step at the returned (β̂, σ̂)
    and then evaluating both M-step optimality conditions must return
    (numerically) zero:

    - σ step (SURVEY §2.11 E3, closed form of ``Rmd:301-310``):
      σ̂² == mean_r(Σ_s ni_s·ṽ²_{r,s}) / (n−2) with ṽ from the NEW E-step
      → ``sigma_fixed_point_resid`` = |recomputed σ² − σ̂²|;
    - β step (E4, ``Rmd:312-337``): ∇h2(β̂) = 0 under the NEW E-step
      → ``beta_score_inf_norm`` = ‖∇h2(β̂)‖∞ / n (per-observation scale,
      SF-invariant).

    Both residuals are bounded by the outer tolerance times the map's
    local Lipschitz constant, so a tight fit (tol ≤ 1e-4) rounds them to
    a literal 0.0 at 2 decimals with orders of magnitude of margin; any
    fitting-path regression (E-step drift, draw-seeding change, optimizer
    break) surfaces as a loud nonzero. Everything distributed: E1 via
    ``groupBy(state).applyInPandas``, the σ moment as one agg over the
    (r, state, z) draw table, the score as one agg over the cells×draws
    skeleton — the driver holds only per-area scalars."""
    spark = survey.sparkSession
    beta = np.asarray(result.beta_hat, float)
    sigma = float(result.sigma_hat)

    cells_df = design_cells(prep_design(survey), with_outcome=True).cache()
    ni_pd = (
        cells_df.groupBy("state")
        .agg(F.sum("m").alias("ni"))
        .toPandas()
        .sort_values("state")
    )
    states = list(ni_pd["state"])
    ni = ni_pd["ni"].to_numpy(float)
    n_total = float(ni.sum())

    v_hat, tau_sq = estimator._laplace_spark(cells_df, states, beta, sigma)
    draws_sp = estimator._draws_df(spark, states).cache()
    mean_nvsq = estimator._mean_nvsq_spark(draws_sp, states, ni, v_hat, tau_sq)
    sigma_sq_star = mean_nvsq / max(n_total - 2.0, 1.0)

    skeleton = cells_df.join(F.broadcast(draws_sp), "state")
    _, g, _ = estimator._fgh_spark(skeleton, states, v_hat, tau_sq)(beta)

    cells_df.unpersist()
    draws_sp.unpersist()
    return {
        "n_obs": int(round(n_total)),
        "n_areas": len(states),
        "converged": int(result.converged),
        "beta_score_inf_norm": float(np.max(np.abs(g)) / n_total),
        "sigma_fixed_point_resid": float(abs(sigma_sq_star - sigma * sigma)),
    }
