"""``similarity/kernel.py``: the one NumPy cosine / top-k / threshold
kernel behind every vectorized scorer in ``similarity/``.

Pins that chunked cosine blocks equal one unchunked block in both
evaluation orders, that the int64-key top-k cut equals a per-row
``np.lexsort`` reference (planted ties, self pairs, ids of any int64
value), that threshold pairs equal a brute-force reference, that zero
norms and out-of-range scores raise, that no other module in
``similarity/`` keeps its own cut or cosine GEMM, and that the PQ
codec's ADC table and L2 rerank are written once."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest

from data_integration_spark.similarity.kernel import (
    Vectors,
    _np_round_half_up,
    cosine_blocks,
    row_blocks,
    threshold_pairs,
    topk_cut,
)

SIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_integration_spark",
    "similarity",
)


def _vectors(n, d=16, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d))
    X[3] = X[1]  # planted exact copy: cosine ties across columns
    return X


def _reference_topk(score, row_ids, col_ids, k, descending):
    """Per-row ``np.lexsort((ids, score))`` with self pairs removed."""
    out = []
    for i in range(score.shape[0]):
        s = -score[i] if descending else score[i]
        order = [j for j in np.lexsort((col_ids, s)) if col_ids[j] != row_ids[i]]
        out.extend((i, j) for j in order[:k])
    return out


@pytest.mark.parametrize("eval_order", ["normalized", "raw_dot"])
def test_chunked_blocks_equal_one_block(eval_order):
    """A budget of one row gives one-row chunks; stitched together they
    equal the single unchunked block."""
    R = Vectors(_vectors(23), "rows")
    C = Vectors(_vectors(31, seed=1), "cols")
    whole = list(cosine_blocks(R, C, 6, eval_order))
    assert len(whole) == 1 and whole[0][0] == slice(0, whole[0][0].stop)
    chunks = list(cosine_blocks(R, C, 6, eval_order, budget=8 * len(C)))
    assert [sl.start for sl, _ in chunks] == list(range(23))
    assert all(cos.shape == (1, 31) for _, cos in chunks)
    np.testing.assert_array_equal(
        np.concatenate([cos for _, cos in chunks]), whole[0][1]
    )
    norms = np.outer(np.linalg.norm(R.x, axis=1), np.linalg.norm(C.x, axis=1))
    ref = _np_round_half_up((R.x @ C.x.T) / norms, 6)
    np.testing.assert_allclose(whole[0][1], ref, atol=1.01e-6)


def test_row_blocks_cover_every_row_once():
    assert row_blocks(0, 5) == []
    sls = row_blocks(10, 4, budget=8 * 4 * 3)  # three rows per block
    assert [(s.start, s.stop) for s in sls] == [(0, 3), (3, 6), (6, 9), (9, 12)]
    (only,) = row_blocks(2, 0)  # no columns: one block holds every row
    assert only.start == 0 and only.stop >= 2


@pytest.mark.parametrize("descending", [True, False])
@pytest.mark.parametrize("k", [1, 3, 7, 50])
def test_topk_cut_matches_lexsort_reference(descending, k):
    """Planted ties on the grid (many equal scores per row), unsorted
    ids, and self pairs: the cut is each row's first k entries under
    (score, id), self pairs never kept."""
    rng = np.random.default_rng(7)
    n_rows, n_cols = 9, 40
    col_ids = rng.permutation(1000)[:n_cols].astype(np.int64)
    row_ids = np.concatenate([col_ids[:5], [5000, 5001, 5002, col_ids[7]]])
    score = rng.integers(0, 6, size=(n_rows, n_cols)) / 1e6 * 3  # ties
    score = _np_round_half_up(score, 6)
    ri, ci = topk_cut(score, row_ids, col_ids, k, descending=descending)
    assert list(zip(ri.tolist(), ci.tolist())) == _reference_topk(
        score, row_ids, col_ids, k, descending
    )


def test_topk_cut_ranks_ids_of_any_int64_value():
    """Negative ids and ids ≥ 2^32 rank by value: the key's id half is
    the member's position in id order, not the id itself."""
    col_ids = np.array(
        [(1 << 40) + 3, -7, 5, -(1 << 62), (1 << 32), 0, (1 << 62), -1],
        dtype=np.int64,
    )
    row_ids = np.array([5, 11], dtype=np.int64)
    score = np.array(
        [[0.5, 0.5, 0.5, 0.5, 0.25, 0.5, 0.5, 0.5]] * 2
    )
    for descending in (True, False):
        ri, ci = topk_cut(score, row_ids, col_ids, 5, descending=descending)
        assert list(zip(ri.tolist(), ci.tolist())) == _reference_topk(
            score, row_ids, col_ids, 5, descending
        )
    ri, ci = topk_cut(score, row_ids, col_ids, 3, descending=True)
    assert col_ids[ci[ri == 0]].tolist() == [-(1 << 62), -7, -1]


def test_topk_cut_guards_the_score_half():
    with pytest.raises(ValueError, match="composite-key range"):
        topk_cut(np.array([[2200.0]]), np.array([0]), np.array([1]), 1)
    ri, ci = topk_cut(np.array([[2100.0]]), np.array([0]), np.array([1]), 1)
    assert (ri.tolist(), ci.tolist()) == ([0], [0])


def test_threshold_pairs_match_brute_force():
    X = _vectors(12)
    ids = np.arange(100, 112)
    V = Vectors(X, "x")
    (sl, cos), = cosine_blocks(V, V)
    ri, ci = threshold_pairs(cos, ids[sl], ids, 0.2)
    brute = [
        (i, j) for i in range(12) for j in range(12)
        if i != j and cos[i, j] >= 0.2
    ]
    assert list(zip(ri.tolist(), ci.tolist())) == brute
    assert (1, 3) in brute and (3, 1) in brute  # the planted copy


def test_zero_norms_raise():
    X = _vectors(5)
    X[2] = 0.0
    with pytest.raises(ValueError, match="zero-norm"):
        Vectors(X, "corpus batch")


def test_search_all_ranks_negative_and_wide_ids(spark):
    """End to end: a corpus whose ids include negatives and values
    ≥ 2^32 gives the same ``search_all`` ranking as the expression-form
    ``search``."""
    from data_integration_spark.similarity.ann import as_double_array
    from data_integration_spark.similarity.ivf import IVFIndex

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 6))
    ids = list(range(35)) + [(1 << 32) + 7, -3, -(1 << 40), (1 << 50), -1]
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, e array<double>",
    ).select("vec_id", as_double_array("e", "e"))
    idx = IVFIndex(n_cells=2, seed=5)
    idx.fit(emb, train_per_cell=None)
    a = sorted(tuple(r) for r in idx.search(emb, k=3, nprobe=2).collect())
    b = sorted(tuple(r) for r in idx.search_all(emb, k=3, nprobe=2).collect())
    assert a == b and len(a) == 3 * 40


def _mentions_norm(node) -> bool:
    return any(
        (isinstance(n, ast.Name) and "norm" in n.id.lower())
        or (isinstance(n, ast.Attribute) and "norm" in n.attr.lower())
        for n in ast.walk(node)
    )


def _strip(node):
    """``x.T`` / ``x[...]`` → ``x``."""
    while isinstance(node, (ast.Subscript, ast.Attribute)) and (
        isinstance(node, ast.Subscript) or node.attr == "T"
    ):
        node = node.value
    return node


def _is_sq_diff(node) -> bool:
    """``(x - y) ** 2`` or ``(x - y) * (x - y)``."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.left, ast.BinOp)):
        return False
    if not isinstance(node.left.op, ast.Sub):
        return False
    if isinstance(node.op, ast.Pow):
        return isinstance(node.right, ast.Constant) and node.right.value == 2
    return isinstance(node.op, ast.Mult) and ast.dump(node.left) == ast.dump(
        node.right
    )


def _kernel_copies(tree) -> dict[str, list[int]]:
    """Line numbers, by kind, of:

    - ``cut``: a top-k partition;
    - ``cosine``: a cosine normalize-and-GEMM — a matmul over rows
      divided by their norms (inline, or through a name bound to such a
      division), or a matmul divided by norms;
    - ``adc_table``: a squared-difference sum in NumPy, the per-subspace
      table ``((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)``;
    - ``l2_rerank``: a ``zip_with`` over squared differences, the exact
      L2 rerank expression."""
    normalized = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and isinstance(n.value, ast.BinOp)
        and isinstance(n.value.op, ast.Div)
        and _mentions_norm(n.value.right)
        for t in n.targets
        if isinstance(t, ast.Name)
    }

    def is_unit(node):
        node = _strip(node)
        return (isinstance(node, ast.Name) and node.id in normalized) or (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and _mentions_norm(node.right)
        )

    hits = {"cut": [], "cosine": [], "adc_table": [], "l2_rerank": []}
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and n.attr == "argpartition":
            hits["cut"].append(n.lineno)
        elif isinstance(n, ast.BinOp) and isinstance(n.op, ast.MatMult):
            if is_unit(n.left) or is_unit(n.right):
                hits["cosine"].append(n.lineno)
        elif (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Div)
            and isinstance(n.left, ast.BinOp)
            and isinstance(n.left.op, ast.MatMult)
            and _mentions_norm(n.right)
        ):
            hits["cosine"].append(n.lineno)
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            if n.func.attr == "sum" and _is_sq_diff(n.func.value):
                hits["adc_table"].append(n.lineno)
            elif n.func.attr == "zip_with" and any(
                isinstance(arg, ast.Lambda) and _is_sq_diff(arg.body)
                for arg in n.args
            ):
                hits["l2_rerank"].append(n.lineno)
    return {kind: lines for kind, lines in hits.items() if lines}


def test_cut_and_cosine_gemm_only_in_the_kernel():
    """Within ``similarity/``, ``np.argpartition`` and the cosine
    normalize-and-GEMM appear only in ``kernel.py``; the per-subspace
    squared-distance table and the ``zip_with`` L2 rerank expression
    appear exactly once each, in the PQ codec (``pq.py``)."""
    found = {}
    for f in sorted(os.listdir(SIM)):
        if f.endswith(".py"):
            with open(os.path.join(SIM, f), encoding="utf-8") as fh:
                for kind, lines in _kernel_copies(ast.parse(fh.read())).items():
                    found.setdefault(kind, {})[f] = lines
    kernel_only = {
        f for kind in ("cut", "cosine") for f in found.get(kind, {})
    }
    assert kernel_only == {"kernel.py"}, found
    for kind in ("adc_table", "l2_rerank"):
        sites = found.get(kind, {})
        assert list(sites) == ["pq.py"] and len(sites["pq.py"]) == 1, (
            kind,
            sites,
        )
