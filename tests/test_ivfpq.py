"""IVF-PQ composed ANN semantics (similarity/ivfpq.py): residual-ADC
identity, recall vs exact L2 and its monotonicity in nprobe, residual
quantization beating raw-vector PQ at the same code budget, append/
persist frozen-boundary equality, and probe-time partition pruning."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import as_double_array
from data_integration_spark.similarity.ivfpq import IVFPQIndex
from data_integration_spark.similarity.pq import PQIndex
from data_integration_spark.similarity.persist import (
    load_ivfpq_index,
    save_ivfpq_index,
)
from data_integration_spark.sources.catalog import Catalog
from tests.test_pq import CODEBOOK_TAMPERS, tamper_meta

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        Catalog(spark, SF)["embeddings"]
        .select("vec_id", as_double_array("embedding", "e"))
        .cache()
    )


@pytest.fixture(scope="module")
def index(emb):
    return IVFPQIndex(n_cells=8, m=16, k_codes=16, seed=17).fit(emb)


@pytest.fixture(scope="module")
def corpus_np(emb):
    pdf = emb.toPandas()
    return pdf, pdf["vec_id"].to_numpy(), np.stack(pdf["e"].to_numpy())


def _exact_topk(ids, X, qids, Q, k=5):
    d = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    truth = {}
    for i, q in enumerate(qids):
        row = d[i].copy()
        row[ids == q] = np.inf
        sel = np.lexsort((ids, row))[:k]
        truth[int(q)] = set(ids[sel].tolist())
    return truth


def test_adc_equals_residual_decoded_distance(index, emb):
    """The defining IVFADC identity: ADC(q, cell, codes) ==
    ||q - (centroid + decode(codes))||² exactly — squared L2 decomposes
    over the orthogonal subspace split of the RESIDUAL, so the per-cell
    LUT gathers reproduce the reconstruction distance to the double."""
    q_pd = emb.filter(F.col("vec_id") < 10).toPandas()
    res = index.search(q_pd, k=5, nprobe=4).toPandas()
    codes_pd = index.codes.toPandas()
    row_of = {
        int(r["mid"]): (int(r["cell"]), np.asarray(r["codes"]))
        for _, r in codes_pd.iterrows()
    }
    q_of = {
        int(r["vec_id"]): np.asarray(r["e"], dtype=np.float64)
        for _, r in q_pd.iterrows()
    }
    assert len(res) > 0
    for _, r in res.iterrows():
        cell, c = row_of[int(r["mid"])]
        recon = index.decode_np(np.array([cell]), c[None, :])[0]
        exact = float(((q_of[int(r["qid"])] - recon) ** 2).sum())
        assert abs(round(exact, 6) - r["adc_dist"]) < 1e-9, r


def test_recall_floor_and_nprobe_monotonicity(index, emb, corpus_np):
    """Rerank recall@5 vs exact L2: ≥0.6 at nprobe=4 and ≥0.9 at
    nprobe=8 (all cells probed → only the R=50 shortlist bounds it);
    measured 0.73 / 0.96 under seed=17. More probes must not lose
    recall."""
    pdf, ids, X = corpus_np
    q_mask = ids < 20
    truth = _exact_topk(ids, X, ids[q_mask], X[q_mask])
    recalls = {}
    for nprobe in (4, 8):
        res = index.search_rerank(
            pdf[q_mask], emb, k=5, shortlist=50, nprobe=nprobe
        ).toPandas()
        hit = sum(
            int(r["mid"]) in truth[int(r["qid"])] for _, r in res.iterrows()
        )
        recalls[nprobe] = hit / (5 * q_mask.sum())
    assert recalls[4] >= 0.6, recalls
    assert recalls[8] >= 0.9, recalls
    assert recalls[8] >= recalls[4], recalls


def test_residual_quantization_beats_raw_pq(index, emb, corpus_np):
    """The reason IVFPQ encodes residuals: at the SAME code budget
    (m=16, k_codes=16), mean squared reconstruction error of
    centroid+decode must beat raw-vector PQ's (measured 0.286 vs 0.307
    on the test corpus — the margin grows with corpus clusteredness;
    these embeddings are near-isotropic, the hard case)."""
    pdf, ids, X = corpus_np
    by_id = {int(i): X[n] for n, i in enumerate(ids)}
    codes_pd = index.codes.toPandas()
    cells = codes_pd["cell"].to_numpy()
    C = np.stack(codes_pd["codes"].to_numpy())
    Xo = np.stack([by_id[int(m)] for m in codes_pd["mid"]])
    err_ivfpq = float(((Xo - index.decode_np(cells, C)) ** 2).sum(1).mean())

    pq = PQIndex(m=16, k_codes=16, seed=17).fit(emb)
    pq_pd = pq.codes.toPandas()
    Cp = np.stack(pq_pd["codes"].to_numpy())
    Xp = np.stack([by_id[int(m)] for m in pq_pd["mid"]])
    err_pq = float(((Xp - pq.decode_np(Cp)) ** 2).sum(1).mean())
    assert err_ivfpq < err_pq, (err_ivfpq, err_pq)


def test_append_and_load_reproduce_codes(spark, emb, tmp_path):
    """Frozen-boundary contract: fit on part of the corpus, append the
    rest — every appended row's (cell, codes) must equal what a
    SAVE/LOAD round-tripped index's assign_encode produces for the same
    vectors, and the full index conserves one row per vector."""
    old = emb.filter(F.col("vec_id") >= 100)
    new = emb.filter(F.col("vec_id") < 100)
    index = IVFPQIndex(n_cells=8, m=16, k_codes=16, seed=17).fit(old)
    path = str(tmp_path / "ivfpq")
    save_ivfpq_index(index, path)

    index.append(new)
    assert index.codes.count() == emb.count()
    assert index.codes.select("mid").distinct().count() == emb.count()

    loaded = load_ivfpq_index(spark, path)
    re_new = loaded.assign_encode(new)
    mismatch = (
        index.codes.filter(F.col("mid") < 100)
        .select("mid", F.col("cell").alias("cell_a"), F.col("codes").alias("ca"))
        .join(
            re_new.select(
                "mid", F.col("cell").alias("cell_b"), F.col("codes").alias("cb")
            ),
            "mid",
            "full",
        )
        .filter(
            F.col("ca").isNull()
            | F.col("cb").isNull()
            | (F.col("cell_a") != F.col("cell_b"))
            | (F.col("ca") != F.col("cb"))
        )
        .count()
    )
    assert mismatch == 0


def test_probe_filter_prunes_partitions_on_persisted_codes(spark, emb, tmp_path):
    """The 100-TB probe path: the persisted codes table is
    partitionBy("cell") parquet (r9) and search filters it with a STATIC
    probed-cell IN-list, so on a loaded index the predicate lands in the
    scan's PartitionFilters — only probed cells' directories are READ
    (strictly stronger than the pre-r9 row-level PushedFilters)."""
    from data_integration_spark.plans.explain import partition_filters

    index = IVFPQIndex(n_cells=8, m=16, k_codes=16, seed=17).fit(emb)
    path = str(tmp_path / "ivfpq_scan")
    save_ivfpq_index(index, path)
    loaded = load_ivfpq_index(spark, path)
    q_pd = emb.filter(F.col("vec_id") < 5).toPandas()
    pfs = partition_filters(loaded.search(q_pd, k=5, nprobe=2))
    assert any("cell" in pf and "IN" in pf for pf in pfs), (
        f"probed-cell filter did not become partition pruning: {pfs}"
    )


def test_search_all_matches_search_at_q_equals_n(index, corpus_np):
    """The cogrouped corpus-scale ADC self-join (search_all, r11) must
    reproduce the driver-LUT search at Q = N: same (qid, mid, rank)
    triples, distances equal to 1e-6 (both round HALF-UP through the
    shared kernel; the half-boundary case is pinned by
    test_search_rounds_half_up_like_search_all)."""
    pdf, _ids, _X = corpus_np
    ref = {
        (r["qid"], r["rank"]): (r["mid"], r["adc_dist"])
        for r in index.search(pdf, k=5, nprobe=3).collect()
    }
    from data_integration_spark.sources.catalog import Catalog  # noqa: F401

    got = {
        (r["qid"], r["rank"]): (r["mid"], r["adc_dist"])
        for r in index.search_all(
            index.ivf.assigned.select(
                F.col("mid").alias("vec_id"), F.col("me").alias("e")
            ),
            k=5,
            nprobe=3,
        ).collect()
    }
    assert set(ref) == set(got)
    for key, (mid, dist) in ref.items():
        gmid, gdist = got[key]
        assert gmid == mid, (key, mid, gmid)
        assert abs(gdist - dist) <= 1e-6


def test_search_all_degenerate_shapes(spark, index):
    """Cells with probes but no members / members but no probes, and an
    empty query frame: the cogrouped kernel must emit nothing (not
    crash) for one-sided groups."""
    empty = spark.createDataFrame([], "vec_id long, e array<double>")
    assert index.search_all(empty, k=3, nprobe=2).count() == 0


def test_search_rounds_half_up_like_search_all(spark):
    """A planted half-boundary ADC distance. Query (1/16, 1/16) against an
    all-zero centroid and codebook gives exactly 1/128 = 0.0078125, which
    half-to-even rounding takes to 0.007812 and Spark's ``F.round`` to
    0.007813. ``IVFPQIndex.search``, ``IVFPQIndex.search_all`` and
    ``PQIndex.search`` must all emit Spark's value."""
    from data_integration_spark.sources.local import local_table

    expected = spark.range(1).select(F.round(F.lit(0.0078125), 6)).first()[0]
    assert expected == 0.007813
    q = [(0, [1 / 16, 1 / 16])]
    q_pd = pd.DataFrame({"vec_id": [0], "e": [q[0][1]]})
    q_df = local_table(spark, q, "vec_id long, e array<double>")

    idx = IVFPQIndex(n_cells=1, m=1, k_codes=1, seed=0)
    idx.ivf.centroids = local_table(
        spark, [(0, [0.0, 0.0])], "cell int, ce array<double>"
    )
    idx.centroids_np = np.zeros((1, 2))
    idx.codebooks = np.zeros((1, 1, 2))
    idx.codes = local_table(
        spark, [(1, 0, [0]), (2, 0, [0])], "mid long, cell int, codes array<bigint>"
    )
    pq = PQIndex(m=1, k_codes=1)
    pq.codebooks = np.zeros((1, 1, 2))
    pq.codes = local_table(spark, [(1, [0]), (2, [0])], "mid long, codes array<bigint>")

    def ranked(df):
        return [(r.mid, r.adc_dist) for r in df.orderBy("rank").collect()]

    want = [(1, expected), (2, expected)]
    assert ranked(idx.search(q_pd, k=5, nprobe=1)) == want
    assert ranked(idx.search_all(q_df, k=5, nprobe=1)) == want
    assert ranked(pq.search(q_pd, k=5)) == want


def _halve_dsub(meta):
    """(16, kc, 2) codebooks against 64-dim centroids: encode would read
    only the first 32 residual dims."""
    meta["codebooks"] = [
        [row[: len(row) // 2] for row in book] for book in meta["codebooks"]
    ]


@pytest.fixture(scope="module")
def saved_index(index, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq_saved") / "index")
    save_ivfpq_index(index, path)
    return path


@pytest.mark.parametrize(
    "tamper, match",
    CODEBOOK_TAMPERS + [(_halve_dsub, "centroids have dim 64")],
)
def test_load_rejects_tampered_codebooks(spark, saved_index, tmp_path, tamper, match):
    """A ``meta.json`` whose residual codebooks disagree with its declared
    (m, k_codes) or with the centroid dim must fail to load."""
    import shutil

    path = str(tmp_path / "index")
    shutil.copytree(saved_index, path)
    tamper_meta(path, tamper)
    with pytest.raises(ValueError, match=match):
        load_ivfpq_index(spark, path)
