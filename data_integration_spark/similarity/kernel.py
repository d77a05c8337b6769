"""The one NumPy scoring kernel behind every vectorized similarity path.

Each batch scorer in this package does the same three things over two
blocks of vectors, a row side and a column side:

1. score every (row, column) pair, one row chunk at a time so that a
   chunk's score matrix fits one memory budget (``cosine_blocks`` for
   cosine; the ADC scorers build theirs in ``pq.adc_topk`` over
   ``row_blocks``);
2. round the scores onto the decimal grid of Spark's ``F.round``
   (``_np_round_half_up``);
3. cut: each row's first k columns under the (score, id) total order
   (``topk_cut``), or every pair at or above a threshold
   (``threshold_pairs``). Self pairs (row id == column id) never survive
   either cut.

Callers differ only in where the blocks come from (an Arrow batch, a
cell's cogroup, a driver-held query set) and in how they name the output
columns. NumPy only: it runs on the driver and in Python workers alike.
"""

from __future__ import annotations

import decimal

import numpy as np

#: peak bytes of one score block. A hot cell at corpus scale can hold tens
#: of thousands of members and be probed by as many queries, so a full
#: rows x columns matrix would be GBs per task; a chunk stays one GEMM.
BLOCK_BYTES = 128 * 1024 * 1024


def _np_round_half_up(arr, decimals: int):
    """Vectorized rounding that matches Spark ``F.round`` on doubles.

    Spark rounds a double via ``BigDecimal.valueOf(x)`` — i.e. HALF_UP over
    the SHORTEST decimal representation — while ``np.round`` is half-to-even
    over the binary value and DuckDB ``ROUND`` is half-away-from-zero over
    the binary value. The three agree everywhere except within float error
    of a half-boundary, so: ``np.round`` for the bulk, and an exact
    ``Decimal(repr(x))`` HALF_UP fixup for the few boundary elements.
    Python decimal's ROUND_HALF_UP is away-from-zero, same as Java's.
    """
    out = np.round(arr, decimals)
    scaled = arr * (10.0 ** decimals)
    with np.errstate(invalid="ignore"):  # NaN/±inf fall through untouched
        frac = scaled - np.floor(scaled)
        near_half = np.abs(frac - 0.5) < 1e-8
    if near_half.any():
        quantum = decimal.Decimal(1).scaleb(-decimals)
        flat = out.reshape(-1)
        for i in np.nonzero(near_half.reshape(-1))[0]:
            flat[i] = float(
                decimal.Decimal(repr(float(arr.reshape(-1)[i]))).quantize(
                    quantum, rounding=decimal.ROUND_HALF_UP
                )
            )
    return out


def _require_nonzero_norms(norms, side: str):
    """Zero-norm vectors make cosine NaN, and NaN ordering differs between
    NumPy (sorts last / fails thresholds) and Spark SQL (NaN > any value) —
    silent divergence. Degenerate data must fail loudly instead.
    """
    bad = np.nonzero(norms.reshape(-1) == 0.0)[0]
    if bad.size:
        raise ValueError(
            f"{side} contains {bad.size} zero-norm vector(s) "
            f"(first at batch offset {int(bad[0])}): cosine is undefined — "
            "filter empty embeddings upstream"
        )


def nonzero_norm_rows(vectors) -> np.ndarray:
    """Boolean mask of the rows with a nonzero norm: the filter for
    callers that drop degenerate vectors instead of raising."""
    return np.linalg.norm(np.stack(vectors).astype(float), axis=1) != 0.0


def check_eval_order(eval_order: str) -> None:
    """The float evaluation orders of a cosine block (``cosine_blocks``)."""
    if eval_order not in ("normalized", "raw_dot"):
        raise ValueError(
            f"eval_order must be 'normalized' or 'raw_dot', got {eval_order!r}"
        )


class Vectors:
    """One side of a cosine block: float64 rows and their norms, taken
    once; unit rows on first use. Zero norms raise (``side`` names the
    side in the error)."""

    def __init__(self, vectors, side: str):
        self.x = np.ascontiguousarray(np.stack(vectors), dtype=np.float64)
        self.norms = np.linalg.norm(self.x, axis=1)
        _require_nonzero_norms(self.norms, side)
        self._unit = None

    def __len__(self) -> int:
        return len(self.x)

    @property
    def unit(self) -> np.ndarray:
        if self._unit is None:
            self._unit = self.x / self.norms[:, None]
        return self._unit


def row_blocks(n_rows: int, n_cols: int, budget: int = BLOCK_BYTES):
    """Row slices whose (rows x ``n_cols``) double block fits ``budget``
    bytes, at least one row each."""
    step = max(1, int(budget / (8 * max(1, n_cols))))
    return [slice(lo, lo + step) for lo in range(0, n_rows, step)]


def cosine_blocks(
    rows: Vectors,
    cols: Vectors,
    decimals: int = 6,
    eval_order: str = "normalized",
    budget: int = BLOCK_BYTES,
):
    """Yield ``(sl, cos)``: the cosine of ``rows[sl]`` against every
    column, rounded half up to ``decimals``, one row chunk at a time.

    ``eval_order`` fixes the float evaluation. ``"normalized"`` takes one
    GEMM of unit rows, (R/‖R‖)(C/‖C‖)ᵀ. ``"raw_dot"`` takes the raw GEMM
    and ONE division per pair, R·Cᵀ/(‖R‖‖C‖): the evaluation order of the
    SQL oracles' SUM(r·c)/(rn·cn), so a caller's only residual against
    DuckDB is the dot's reduction order. The two agree to about 1 ulp;
    callers whose oracle hashes cosine values near a threshold pass
    ``"raw_dot"``."""
    check_eval_order(eval_order)
    for sl in row_blocks(len(rows), len(cols), budget):
        if eval_order == "raw_dot":
            raw = (rows.x[sl] @ cols.x.T) / (
                rows.norms[sl, None] * cols.norms[None, :]
            )
        else:
            raw = rows.unit[sl] @ cols.unit.T
        yield sl, _np_round_half_up(raw, decimals)


def topk_cut(
    score: np.ndarray,
    row_ids: np.ndarray,
    col_ids: np.ndarray,
    k: int,
    decimals: int = 6,
    descending: bool = False,
):
    """Flat ``(ri, ci)`` index arrays: each row's first ``k`` columns
    under the (score, column id) order, score descending when asked and
    ids ascending, self pairs dropped. Rows come out in order, each
    row's entries in rank order.

    ``score`` must already sit on the ``decimals`` grid. The ranking
    rides one int64 key per entry: the high half is the grid score (the
    rounded value times 10^decimals, an exact integer), the low half the
    column's position in id order, so ids of any int64 value rank
    correctly. Keys are unique, so ``argpartition`` (O(columns) per row)
    plus a stable sort of the cut equals a per-row
    ``np.lexsort((ids, score))``."""
    n_rows, n_cols = score.shape
    grid = np.rint(score * 10.0 ** decimals)
    if descending:
        np.negative(grid, out=grid)
    if grid.size and max(grid.max(), -grid.min()) >= (1 << 31):
        raise ValueError(
            f"score exceeds the composite-key range (≥ 2^31 units of "
            f"1e-{decimals}) — raise the key width before trusting the "
            "ranking"
        )
    pos = np.empty(n_cols, dtype=np.int64)
    pos[np.argsort(col_ids, kind="stable")] = np.arange(n_cols)
    key = grid.astype(np.int64)
    key *= 1 << 32
    key += pos[None, :]
    self_pair = row_ids[:, None] == col_ids[None, :]
    key[self_pair] = np.iinfo(np.int64).max  # sorts after every real key
    cut = min(k, n_cols)
    if cut < n_cols:
        part = np.argpartition(key, cut - 1, axis=1)[:, :cut]
        order = np.argsort(
            np.take_along_axis(key, part, axis=1), axis=1, kind="stable"
        )
        top = np.take_along_axis(part, order, axis=1)
    else:
        top = np.argsort(key, axis=1, kind="stable")
    ri = np.repeat(np.arange(n_rows), cut)
    ci = top.ravel()
    keep = ~self_pair[ri, ci]
    return ri[keep], ci[keep]


def threshold_pairs(
    score: np.ndarray, row_ids: np.ndarray, col_ids: np.ndarray, tau: float
):
    """Flat ``(ri, ci)`` index arrays, row-major, of the entries with
    score ≥ ``tau``, self pairs dropped."""
    return np.nonzero((score >= tau) & (row_ids[:, None] != col_ids[None, :]))
