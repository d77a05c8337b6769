"""Product-quantization ANN semantics (similarity/pq.py): ADC identity,
recall vs exact L2, persist round-trip, partition invariance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import as_double_array
from data_integration_spark.similarity.pq import PQIndex
from data_integration_spark.sources.catalog import Catalog

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
    return PQIndex(m=8, k_codes=16, seed=13).fit(emb)


def test_adc_equals_decoded_distance(index, emb):
    """The defining PQ identity: ADC(q, codes) == ||q - decode(codes)||²
    exactly (the LUT holds exact per-subspace distances, and squared L2
    decomposes over the orthogonal subspace split)."""
    q_pd = emb.filter(F.col("vec_id") < 10).toPandas()
    res = index.search(q_pd, k=5).toPandas()
    codes_pd = index.codes.toPandas()
    code_of = {int(r["mid"]): np.asarray(r["codes"]) for _, r in codes_pd.iterrows()}
    q_of = {
        int(r["vec_id"]): np.asarray(r["e"], dtype=np.float64)
        for _, r in q_pd.iterrows()
    }
    assert len(res) > 0
    for _, r in res.iterrows():
        recon = index.decode_np(code_of[int(r["mid"])][None, :])[0]
        exact = float(((q_of[int(r["qid"])] - recon) ** 2).sum())
        assert abs(round(exact, 6) - r["adc_dist"]) < 1e-9, r


def test_pq_rerank_recall_vs_exact_l2(spark, emb):
    """The registered shape (ADC shortlist R=50 + exact rerank) must
    retain nearly all of the exact L2 top-5: recall equals shortlist
    containment (measured 0.99 with m=16, k_codes=64 on this corpus;
    floor 0.85 leaves drift margin). Plain ADC top-5 recall is also
    floored, lower — quantized ranking on unstructured gaussian
    embeddings is inherently noisy; that is exactly why the production
    shape reranks."""
    index16 = PQIndex(m=16, k_codes=64, seed=13).fit(emb)
    q_pd = emb.filter(F.col("vec_id") < 20).toPandas()
    rerank = index16.search_rerank(q_pd, emb, k=5, shortlist=50).toPandas()
    adc = index16.search(q_pd, k=5).toPandas()
    corpus_pd = emb.toPandas()
    M = np.stack(corpus_pd["e"].to_numpy()).astype(np.float64)
    mids = corpus_pd["vec_id"].to_numpy()
    hits_r = hits_a = total = 0
    for _, qr in q_pd.iterrows():
        q = np.asarray(qr["e"], dtype=np.float64)
        d = ((M - q[None, :]) ** 2).sum(axis=1)
        d[mids == qr["vec_id"]] = np.inf
        exact_top = set(mids[np.lexsort((mids, d))[:5]].tolist())
        got_r = set(rerank[rerank["qid"] == qr["vec_id"]]["mid"].astype(int))
        got_a = set(adc[adc["qid"] == qr["vec_id"]]["mid"].astype(int))
        hits_r += len(exact_top & got_r)
        hits_a += len(exact_top & got_a)
        total += len(exact_top)
    assert total > 0
    assert hits_r / total >= 0.85, f"rerank recall {hits_r}/{total}"
    assert hits_a / total >= 0.3, f"adc recall {hits_a}/{total}"


def test_pq_persist_roundtrip_reproduces_codes_and_search(spark, index, emb):
    from data_integration_spark.similarity.persist import (
        load_pq_index,
        save_pq_index,
    )

    path = "/root/repo/.scratch/test_pq_index"
    save_pq_index(index, path)
    loaded = load_pq_index(spark, path)
    np.testing.assert_array_equal(loaded.codebooks, index.codebooks)
    q_pd = emb.filter(F.col("vec_id") < 10).toPandas()
    a = sorted(map(tuple, index.search(q_pd, k=5).collect()))
    b = sorted(map(tuple, loaded.search(q_pd, k=5).collect()))
    assert a == b


def test_pq_encode_partition_invariant(index, emb):
    """Codes are a pure function of (vector, codebooks): an adversarial
    repartition must not change a single code."""
    a = {r["mid"]: tuple(r["codes"]) for r in index.encode(emb).collect()}
    b = {
        r["mid"]: tuple(r["codes"])
        for r in index.encode(emb.repartition(13, F.col("vec_id") % 5)).collect()
    }
    assert a == b


def test_pq_rejects_indivisible_dim(spark):
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, e array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        PQIndex(m=2, k_codes=2, seed=1).fit(bad, train_per_code=None)


def _flatten_books(meta):
    meta["codebooks"] = [row for book in meta["codebooks"] for row in book]


def _drop_book(meta):
    meta["codebooks"] = meta["codebooks"][:-1]


def _shrink_k_codes(meta):
    meta["k_codes"] = len(meta["codebooks"][0]) - 1


#: (edit of a saved ``meta.json``, the load error it must raise) — shared
#: with the IVF-PQ loader test
CODEBOOK_TAMPERS = [
    (_flatten_books, "3-d"),
    (_drop_book, "shape mismatch"),
    (_shrink_k_codes, "shape mismatch"),
]


def tamper_meta(path: str, tamper) -> None:
    import json

    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    tamper(meta)
    with open(f"{path}/meta.json", "w") as f:
        json.dump(meta, f)


@pytest.mark.parametrize("tamper, match", CODEBOOK_TAMPERS)
def test_pq_load_rejects_tampered_codebooks(spark, index, tmp_path, tamper, match):
    """A ``meta.json`` whose codebooks disagree with its declared (m,
    k_codes) must fail to load, not encode with a wrong subspace split."""
    from data_integration_spark.similarity.persist import (
        load_pq_index,
        save_pq_index,
    )

    path = str(tmp_path / "pq")
    save_pq_index(index, path)
    tamper_meta(path, tamper)
    with pytest.raises(ValueError, match=match):
        load_pq_index(spark, path)
