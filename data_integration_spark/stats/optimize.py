"""Pure-NumPy optimizers (SciPy is not available in this environment).

- ``golden_max``: bounded 1-D maximization of many objectives at once —
  replaces R's ``optimize()`` (golden-section + parabolic in R; plain
  golden-section here, tolerance-compatible), which the reference calls
  once per area at ``Method_code.Rmd:262`` (Laplace step; here one search
  over all areas, each objective evaluation one vectorized pass) and at
  ``Rmd:308-310`` (σ step; we use the closed form).
- ``newton_minimize``: damped Newton for smooth convex objectives with
  analytic gradient+Hessian — replaces ``optimParallel`` L-BFGS-B with
  forward-difference gradients (``Rmd:337``). The β-objective is a
  logistic-regression NLL with offsets (convex), where Newton with the exact
  Hessian converges in a handful of iterations — each iteration is ONE pass
  over the data (distributed or NumPy), versus L-BFGS-B's 2·p finite
  difference evaluations per step in the reference.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np

_INVPHI = (math.sqrt(5.0) - 1.0) / 2.0


def golden_max(
    f: Callable[[np.ndarray], np.ndarray],
    lo: np.ndarray,
    hi: np.ndarray,
    tol: float = 1e-6,
) -> np.ndarray:
    """Maximize many unimodal 1-D objectives at once, one per coordinate of
    the brackets [lo, hi]: ``f(x)`` returns every coordinate's objective
    at the points ``x``. Each coordinate runs its own golden-section
    search, with the arithmetic and stopping rule of a scalar one; a
    coordinate whose bracket is within ``tol`` keeps it while the others
    go on. Returns the argmax of each."""
    a, b = np.array(lo, dtype=float), np.array(hi, dtype=float)
    c = b - _INVPHI * (b - a)
    d = a + _INVPHI * (b - a)
    fc, fd = f(c), f(d)
    active = (b - a) > tol
    while active.any():
        left = active & (fc > fd)  # the max is in [a, d]: probe a new c
        right = active & ~(fc > fd)  # the max is in [c, b]: probe a new d
        b = np.where(left, d, b)
        a = np.where(right, c, a)
        d, fd = np.where(left, c, d), np.where(left, fc, fd)
        c, fc = np.where(right, d, c), np.where(right, fd, fc)
        c = np.where(left, b - _INVPHI * (b - a), c)
        d = np.where(right, a + _INVPHI * (b - a), d)
        f_new = f(np.where(left, c, d))
        fc = np.where(left, f_new, fc)
        fd = np.where(right, f_new, fd)
        active = (b - a) > tol
    return (a + b) / 2.0


def newton_minimize(
    fgh: Callable[[np.ndarray], tuple[float, np.ndarray, np.ndarray]],
    x0: np.ndarray,
    tol: float = 1e-8,
    max_iter: int = 50,
) -> np.ndarray:
    """Damped Newton: ``fgh(x) -> (f, grad, hess)``. Step-halving line search
    guarantees descent; ridge fallback if the Hessian is near-singular."""
    x = np.asarray(x0, dtype=float).copy()
    f, g, h = fgh(x)
    for _ in range(max_iter):
        try:
            step = np.linalg.solve(h, g)
        except np.linalg.LinAlgError:
            step = None
        if (
            step is None
            or not np.all(np.isfinite(step))
            or np.linalg.norm(step) > 1e6 * (1.0 + np.linalg.norm(x))
        ):
            # Rank-deficient design (aliased/collinear columns): solve()
            # does not raise on a numerically singular Hessian — it
            # returns an enormous step along the null space, which the
            # flat objective then ACCEPTS and the iterate runs away
            # (observed: single-area survey designs). The min-norm
            # (pseudo-inverse) step zeroes the null-space component, so
            # aliased coordinates hold still — the same resolution R's
            # glm reaches by aliasing. Well-posed fits never enter this
            # branch, so their trajectories are bit-identical.
            step = np.linalg.pinv(h, rcond=1e-10) @ g
        t = 1.0
        for _ in range(30):
            x_new = x - t * step
            f_new, g_new, h_new = fgh(x_new)
            if f_new <= f + 1e-12:
                break
            t *= 0.5
        if abs(f - f_new) < tol * (1.0 + abs(f)) and np.max(np.abs(g_new)) < 1e-5:
            x, f, g, h = x_new, f_new, g_new, h_new
            break
        x, f, g, h = x_new, f_new, g_new, h_new
    return x
