"""EM algorithm for the random-intercept logistic GLMM — the reference's
core method (adjusted maximum likelihood, ``Method_code.Rmd:217-390``).

Spark-first re-architecture (SURVEY.md §2.11):

- The unit-level survey collapses in Spark to covariate-pattern **cells**
  (design.py): at most areas × 72 rows whatever the number of units, and
  every E/M step below is mathematically exact on cells. The fit runs
  every step in NumPy on the collected cell table.
- E1 per-area Laplace approximation: one golden-section search that runs
  every area's at once, each objective evaluation one pass over the cells
  (the reference loops ``optimize()`` over states, ``Rmd:252-274``).
- E2 MC draws: one (R, areas) matrix of hash-seeded normals keyed by
  (state, r), made on the driver by ``rng.replicate_normals`` — the same
  draws ``seeded_normal`` gives in Spark, to the last bit or two, and no
  Spark job (the reference builds an R list of 1000 data.frames,
  ``Rmd:276-296``).
- E3 σ step: closed form σ̂² = mean(n_v_sq)/(n−2), the exact optimum of the
  reference's 1-D objective (``Rmd:298-310``; same maximizer, no search).
- E4 β step: damped Newton with analytic gradient AND Hessian, each
  evaluation one vectorized pass over cells × draws (the reference runs
  L-BFGS-B with finite differences, re-filtering per (replicate, state)
  INSIDE the objective: O(iter·R·S·n) scans, ``Rmd:312-337``).

The fit and ``em_stationarity_certificate`` share ``e_step`` and
``beta_objective``, so the certificate checks exactly the arithmetic the
fit optimized.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from data_integration_spark.functions.rng import replicate_normals
from data_integration_spark.stats.design import CellArrays, cell_arrays, outcome_cells
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


def collect_cells(survey: DataFrame | pd.DataFrame) -> tuple[CellArrays, np.ndarray]:
    """The survey's ``outcome_cells`` as arrays, and the unit count ni per
    area (aligned with ``cells.states``)."""
    cells = cell_arrays(outcome_cells(survey))
    ni = np.zeros(len(cells.states))
    np.add.at(ni, cells.state_idx, cells.m)
    return cells, ni


def draw_matrix(states: list[str], n_reps: int, seed: int) -> np.ndarray:
    """(n_reps, areas) standard normals: row r−1, column s holds
    ``seeded_normal(state, r, salt=seed)`` for the ``int`` replicate
    number r, computed on the driver."""
    return replicate_normals(states, n_reps, seed, "n_reps")


def e_step(
    cells: CellArrays,
    ni: np.ndarray,
    z: np.ndarray,
    beta: np.ndarray,
    sigma: float,
    v_bounds: tuple[float, float],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """E1–E3 at (β, σ): per-area Laplace (v̂, τ̂²), the draws ṽ = v̂ + τ̂·z,
    and the closed-form σ² = mean_r(Σ_s ni_s·ṽ²_{r,s}) / (n−2) before
    clamping.

    The base z is FIXED across outer iterations (common random numbers):
    unlike the reference's fresh rnorm per call (``Rmd:283``), the MC
    objective is then a fixed function and the outer loop converges
    monotonically instead of rattling inside MC noise. Documented
    deviation."""
    xb = cells.X @ beta
    s_idx, m, y = cells.state_idx, cells.m, cells.y
    n_areas = len(cells.states)

    def log_g(v: np.ndarray) -> np.ndarray:
        """Per area, log g(v) = −v²/2σ² + Σ m·[y·logθ + (1−y)·log(1−θ)],
        θ = expit(xb+v) (``Rmd:253-262``, in logs for stability)."""
        z = xb + v[s_idx]
        nll = y * _softplus(-z) + (1.0 - y) * _softplus(z)
        return -(v * v) / (2.0 * sigma * sigma) - np.bincount(s_idx, m * nll, n_areas)

    lo, hi = (np.full(n_areas, float(b)) for b in v_bounds)
    v_hat = golden_max(log_g, lo, hi, tol=1e-6)
    # τ̂² = 1/(1/σ² + Σ m·θ'(xb+v̂)) (``Rmd:264-266``)
    p = _expit(xb + v_hat[s_idx])
    info = np.bincount(s_idx, m * (p * (1.0 - p)), n_areas)
    tau_sq = 1.0 / (1.0 / (sigma * sigma) + info)
    v_tilde = v_hat[None, :] + np.sqrt(tau_sq)[None, :] * z
    mean_nvsq = float(np.mean((v_tilde * v_tilde) @ ni))
    sigma_sq = mean_nvsq / max(float(cells.m.sum()) - 2.0, 1.0)
    return v_hat, tau_sq, v_tilde, sigma_sq


def beta_objective(cells: CellArrays, v_tilde: np.ndarray):
    """``fgh(β) -> (f, grad, Hessian)`` of the E4 MC objective
    h2(β) = mean_r Σ_cells m·NLL(y, xβ + ṽ_r,state); one vectorized pass
    per evaluation (chunked over R)."""
    X, y, m, cell_state = cells.X, cells.y, cells.m, cells.state_idx
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

    return fgh


@dataclass
class EMResult:
    beta_hat: np.ndarray
    sigma_hat: float
    v_hat: pd.DataFrame  # state, ni, v_hat, tau_hat_sq
    n_iter: int
    converged: bool
    history: list[dict] = field(default_factory=list)


class EMEstimator:
    """Adjusted-maximum-likelihood EM for (β ∈ R⁸, σ).

    Parameters mirror the reference's constants (``Rmd:220,358,379-383``):
    R=1000 MC replicates, v ∈ [−3,3], σ² ∈ (0,100], outer tolerance 0.01 on
    all 9 parameters, max 1000 outer iterations. ``fit`` keeps no state on
    the instance, so one estimator may serve concurrent fits.
    """

    def __init__(
        self,
        n_reps: int = 1000,
        tol: float = 0.01,
        max_iter: int = 1000,
        v_bounds: tuple[float, float] = (-3.0, 3.0),
        sigma_sq_bounds: tuple[float, float] = (1e-8, 100.0),
        seed: int = 42,
    ):
        for name, value in (("n_reps", n_reps), ("max_iter", max_iter)):
            if value < 1:
                raise ValueError(f"EMEstimator {name} must be >= 1, got {value}")
        self.n_reps = n_reps
        self.tol = tol
        self.max_iter = max_iter
        self.v_bounds = v_bounds
        self.sigma_sq_bounds = sigma_sq_bounds
        self.seed = seed

    def fit(
        self,
        survey: DataFrame | pd.DataFrame,
        beta_init: np.ndarray | None = None,
        sigma_init: float = 0.1,
        draws: np.ndarray | None = None,
    ) -> EMResult:
        """Fit on the survey or its ``outcome_cells``. ``draws`` is this
        estimator's ``draw_matrix`` for the cells' areas when the caller
        holds it (bootstrap replicates share one); it is computed otherwise."""
        beta = (
            np.full(N_BETA, 0.1) if beta_init is None else np.asarray(beta_init, float)
        )
        sigma = float(sigma_init)
        cells, ni = collect_cells(survey)
        if draws is None:
            draws = draw_matrix(cells.states, self.n_reps, self.seed)
        if draws.shape != (self.n_reps, len(cells.states)):
            raise ValueError(f"draws must be (n_reps, areas), got {draws.shape}")

        history: list[dict] = []
        converged = False
        for it in range(1, self.max_iter + 1):
            v_hat, tau_sq, v_tilde, sigma_sq = e_step(
                cells, ni, draws, beta, sigma, self.v_bounds
            )
            sigma_new = math.sqrt(
                min(max(sigma_sq, self.sigma_sq_bounds[0]), self.sigma_sq_bounds[1])
            )
            beta_new = newton_minimize(beta_objective(cells, v_tilde), beta)

            deltas = np.abs(np.append(beta_new - beta, sigma_new - sigma))
            history.append(
                {"iter": it, "beta": beta_new.copy(), "sigma": sigma_new,
                 "max_delta": float(deltas.max())}
            )
            beta, sigma = beta_new, sigma_new
            if np.all(deltas < self.tol):
                converged = True
                break

        v_hat_pd = pd.DataFrame(
            {"state": cells.states, "ni": ni.astype("int64"), "v_hat": v_hat,
             "tau_hat_sq": tau_sq}
        )
        return EMResult(beta, sigma, v_hat_pd, it, converged, history)


def em_stationarity_certificate(
    survey: DataFrame, result: EMResult, estimator: EMEstimator
) -> dict:
    """Fixed-point residuals of a converged EM fit — the oracle-grade
    check behind q_em_convergence, mirroring q_glm_convergence's score
    certificate.

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
    break) surfaces as a loud nonzero. Both use the fit's own ``e_step``
    and ``beta_objective``."""
    beta = np.asarray(result.beta_hat, float)
    sigma = float(result.sigma_hat)
    cells, ni = collect_cells(survey)
    z = draw_matrix(cells.states, estimator.n_reps, estimator.seed)
    _, _, v_tilde, sigma_sq_star = e_step(
        cells, ni, z, beta, sigma, estimator.v_bounds
    )
    _, g, _ = beta_objective(cells, v_tilde)(beta)
    n_total = float(ni.sum())
    return {
        "n_obs": int(round(n_total)),
        "n_areas": len(cells.states),
        "converged": int(result.converged),
        "beta_score_inf_norm": float(np.max(np.abs(g)) / n_total),
        "sigma_fixed_point_resid": float(abs(sigma_sq_star - sigma * sigma)),
    }
