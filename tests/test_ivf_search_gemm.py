"""Pins for the r11 IVF reworks.

1. ``IVFIndex.search`` stage-1 now ranks cells per query through the same
   ``_sq_dists`` GEMM closure as ``assign`` (VERDICT r10 "what's wrong" #1:
   the crossJoin × zip_with fold + row_number window was the retired
   N·n_cells interpreted pattern). The probed (qid, cell) sets must match
   the old HOF formulation exactly, including distance TIES breaking on
   ascending cell id.
2. The centroid matrix is collected ONCE per index and cached
   (``_centroid_matrix``); replacing ``centroids`` invalidates the cache
   (ADVICE r10: assign re-collected per call).
3. ``cosine_pairs_vectorized(on_zero_norm="drop")`` preserves the
   pre-vectorization drop-the-pair semantics on zero-norm vectors instead
   of raising (ADVICE r10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import (
    as_double_array,
    cosine_pairs_vectorized,
)
from data_integration_spark.similarity.ivf import IVFIndex


def _emb_pd(n=300, d=12, seed=17):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(6, d))
    vecs = centers[np.arange(n) % 6] + 0.08 * rng.normal(size=(n, d))
    # exact duplicate vectors → centroid-distance TIES between identical
    # queries; and two queries placed EXACTLY on the midpoint of two
    # centroids would tie in cdist — the argsort stable tie-break must pick
    # the lower cell, like the old orderBy(cdist, cell) window
    vecs[40] = vecs[10]
    vecs[41] = vecs[10]
    return pd.DataFrame(
        {"vec_id": range(n), "e": [list(map(float, v)) for v in vecs]}
    )


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.createDataFrame(_emb_pd())
        .select("vec_id", as_double_array("e", "e"))
        .repartition(5)
        .cache()
    )


def _probed_hof(index, queries, nprobe):
    """The pre-r11 stage-1 formulation, verbatim: broadcast crossJoin +
    interpreted zip_with/aggregate fold + per-query row_number window."""
    q = queries.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    qc = q.crossJoin(F.broadcast(index.centroids)).withColumn(
        "cdist",
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wc = Window.partitionBy("qid").orderBy(F.col("cdist"), F.col("cell"))
    return (
        qc.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= nprobe)
        .select("qid", "cell")
    )


@pytest.mark.parametrize("nprobe", [1, 3, 7])
def test_search_stage1_gemm_matches_hof_probed_sets(spark, emb, nprobe):
    index = IVFIndex(n_cells=7, seed=5).fit(emb, train_per_cell=None)
    queries = emb.filter(F.col("vec_id") < 60)
    hof = sorted(
        tuple(r) for r in _probed_hof(index, queries, nprobe).collect()
    )
    # re-derive the GEMM probed set exactly as search() does
    C, cells = index._centroid_matrix()
    q_pd = queries.select("vec_id", "e").toPandas()
    Q = np.ascontiguousarray(np.stack(q_pd["e"].to_numpy()), dtype=np.float64)
    from data_integration_spark.similarity.ivf import _sq_dists

    order = np.argsort(_sq_dists(Q, C), axis=1, kind="stable")[:, :nprobe]
    gemm = sorted(
        (int(q_pd["vec_id"].iloc[i]), int(cells[c]))
        for i in range(len(q_pd))
        for c in order[i]
    )
    assert hof == gemm


def test_search_end_to_end_unchanged_by_stage1_rework(spark, emb):
    """The emitted neighbor table (qid, mid, cosine, rank) from the GEMM
    stage-1 must equal what stage 2 produces over the HOF probed set —
    i.e. the rework is plan-only, not result-changing (no re-sign needed
    for q_ann_ivf)."""
    index = IVFIndex(n_cells=7, seed=5).fit(emb, train_per_cell=None)
    queries = emb.filter(F.col("vec_id") < 30)
    new = sorted(
        tuple(r) for r in index.search(queries, k=5, nprobe=3).collect()
    )
    # stage 2 over the HOF probed set, verbatim from the pre-r11 search
    from data_integration_spark.similarity.ann import _dot, _norm

    probed = _probed_hof(index, queries, 3).join(
        queries.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe")),
        "qid",
    )
    cand = probed.join(index.assigned, "cell").filter(
        F.col("qid") != F.col("mid")
    )
    cos = F.round(
        _dot(F.col("qe"), F.col("me")) / (_norm(F.col("qe")) * _norm(F.col("me"))),
        6,
    )
    scored = cand.select("qid", "mid", cos.alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("mid"))
    old = sorted(
        tuple(r)
        for r in scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank") <= 5)
        .select("qid", "mid", "cosine", "rank")
        .collect()
    )
    assert new == old


def test_centroid_matrix_cached_and_invalidated(spark, emb):
    index = IVFIndex(n_cells=5, seed=3).fit(emb, train_per_cell=None)
    first = index._centroid_matrix()
    assert index._centroid_matrix() is first  # cached, no re-collect
    # assign/search reuse the cache
    index.assign(emb.limit(10)).collect()
    assert index._cent_np is first
    # replacing the centroid table invalidates
    index.centroids = index.centroids
    assert index._cent_np is None
    second = index._centroid_matrix()
    np.testing.assert_array_equal(first[0], second[0])
    np.testing.assert_array_equal(first[1], second[1])


def test_zero_norm_drop_semantics(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "e": [[1.0, 0.0], [0.0, 0.0], [1.0, 0.1], [0.0, 1.0]],
        }
    )
    corpus = spark.createDataFrame(pdf).select(
        "vec_id", as_double_array("e", "e")
    )
    # default contract: loud failure on the degenerate corpus vector
    with pytest.raises(Exception, match="zero-norm"):
        cosine_pairs_vectorized(
            pdf, corpus, threshold=-1.0
        ).collect()
    # drop: every pair touching vec 1 silently absent, others scored
    got = sorted(
        (r.qid, r.mid)
        for r in cosine_pairs_vectorized(
            pdf, corpus, threshold=-1.0, on_zero_norm="drop"
        ).collect()
    )
    expect = sorted(
        (q, m)
        for q in (0, 2, 3)
        for m in (0, 2, 3)
        if q != m
    )
    assert got == expect
    # all-degenerate query side → empty result, not an error
    zq = pd.DataFrame({"vec_id": [9], "e": [[0.0, 0.0]]})
    assert (
        cosine_pairs_vectorized(
            zq, corpus, threshold=-1.0, on_zero_norm="drop"
        ).count()
        == 0
    )


def test_sweep_emits_six_rows_when_no_pair_reaches_prefilter(spark, tmp_path):
    """ADVICE r10 #1: pairs exist but none reach cosine 0.2 → the oracle
    still emits all 6 threshold rows with n_pairs=0; the Spark side must
    too. Build a tiny sf_dir whose embeddings are pairwise near-orthogonal
    (cosine ≈ 0 < 0.2) and run the registered query on it."""
    import data_integration_spark.queries as Q

    Q.load_all()
    d = 8
    rows = []
    for i in range(4):
        v = [0.0] * d
        v[i] = 1.0
        v[(i + 4) % d] = 0.01  # not exactly orthogonal, still < 0.2
        rows.append((i, [float(x) for x in v]))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = Q.QUERIES["q_semantic_threshold_sweep"](spark, str(tmp_path))
    got = {
        float(r.threshold): (r.n_pairs, r.n_block_docs) for r in out.collect()
    }
    assert set(got) == {0.2, 0.3, 0.4, 0.5, 0.6, 0.7}
    assert all(v == (0, 3) for v in got.values())


def test_search_all_matches_search(spark, emb):
    """search_all (cogrouped per-cell GEMM + lossless partial top-k) must
    emit the identical (qid, mid, cosine, rank) table as search (row-wise
    HOF scoring + global window) — same rounding, same tie-break, same
    self-pair exclusion — including at Q = N (the self-join shape it
    exists for) and at k larger than some cells' membership."""
    index = IVFIndex(n_cells=7, seed=5).fit(emb, train_per_cell=None)
    for queries, k, nprobe in (
        (emb, 5, 3),               # Q = N self-join
        (emb.filter(F.col("vec_id") < 25), 4, 2),
        (emb, 9, 7),               # k big enough to exhaust small cells
    ):
        a = sorted(tuple(r) for r in index.search(queries, k=k, nprobe=nprobe).collect())
        b = sorted(tuple(r) for r in index.search_all(queries, k=k, nprobe=nprobe).collect())
        assert a == b


def test_near_pairs_matches_bruteforce_within_probed_cells(spark, emb):
    """near_pairs == an independently-derived reference: brute all-pairs
    rounded cosine, restricted to pairs where at least one side PROBES the
    other's cell (the IVF approximation contract), canonicalized d1<d2."""
    index = IVFIndex(n_cells=7, seed=5).fit(emb, train_per_cell=None)
    got = sorted(
        tuple(r)
        for r in index.near_pairs(threshold=0.9, nprobe=3).collect()
    )
    # reference, all in numpy off the same index state
    from data_integration_spark.similarity.kernel import _np_round_half_up
    from data_integration_spark.similarity.ivf import _sq_dists

    rows = index.assigned.select("mid", "me", "cell").collect()
    ids = np.array([r.mid for r in rows])
    X = np.stack([np.asarray(r.me) for r in rows])
    cell_of = {int(r.mid): int(r.cell) for r in rows}
    C, cells = index._centroid_matrix()
    order = np.argsort(_sq_dists(X, C), axis=1, kind="stable")[:, :3]
    probes_of = {
        int(ids[i]): {int(cells[c]) for c in order[i]} for i in range(len(ids))
    }
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = _np_round_half_up(Xn @ Xn.T, 6)
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = int(ids[i]), int(ids[j])
            if a >= b or cos[i, j] < 0.9:
                continue
            if (cell_of[b] in probes_of[a]) or (cell_of[a] in probes_of[b]):
                want.add((min(a, b), max(a, b), float(cos[i, j])))
    assert got == sorted(want)
    assert len(got) > 0  # the clustered fixture plants true near-dups


def test_search_all_edge_cases(spark):
    """Degenerate shapes the cogrouped kernel must survive: k larger than
    the whole corpus, nprobe larger than n_cells, an all-identical corpus
    (every distance tied, every cosine 1.0), and a 1-vector corpus (whose
    only candidate is its excluded self)."""
    ident = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(6)], "vec_id long, e array<double>"
    )
    index = IVFIndex(n_cells=4, seed=1).fit(ident, train_per_cell=None)
    got = index.search_all(ident, k=10, nprobe=9).collect()
    # all 6 identical vectors: each query sees the other 5, all cosine 1.0,
    # ranks break on mid ascending
    assert len(got) == 30
    by_q = {}
    for r in got:
        assert r.cosine == 1.0
        by_q.setdefault(r.qid, []).append((r.rank, r.mid))
    for qid, rows in by_q.items():
        mids = [m for _, m in sorted(rows)]
        assert mids == sorted(x for x in range(6) if x != qid)
    # parity with search() on the degenerate corpus too
    a = sorted(tuple(r) for r in index.search(ident, k=10, nprobe=9).collect())
    assert a == sorted(tuple(r) for r in got)

    solo = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0])], "vec_id long, e array<double>"
    )
    solo_index = IVFIndex(n_cells=2, seed=1).fit(solo, train_per_cell=None)
    assert solo_index.search_all(solo, k=3, nprobe=2).count() == 0


def test_near_pairs_edge_cases(spark):
    """near_pairs on an all-identical corpus emits every unordered pair
    exactly once at cosine 1.0; a threshold above 1.0 emits nothing."""
    ident = spark.createDataFrame(
        [(i, [2.0, 1.0]) for i in range(5)], "vec_id long, e array<double>"
    )
    index = IVFIndex(n_cells=3, seed=2).fit(ident, train_per_cell=None)
    got = sorted(
        (r.d1, r.d2, r.cosine)
        for r in index.near_pairs(threshold=0.5, nprobe=3).collect()
    )
    want = sorted(
        (a, b, 1.0) for a in range(5) for b in range(5) if a < b
    )
    assert got == want
    assert index.near_pairs(threshold=1.000001, nprobe=3).count() == 0
