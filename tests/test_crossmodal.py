"""Laws for the cross-modal retrieval op (similarity/crossmodal.py,
staged q_crossmodal_dedup):

1. the pinned projection is the exact modular-formula integer grid;
2. the feature→projection path is INTEGER-exact against a pure-Python
   recomputation (unpack bits → ±1 → fᵀW in plain int arithmetic);
3. planted recovery at sf0.001: every planted caption is retrieved by
   its own image at cosine 1.0, every emitted match is a within-group
   image (the pHash fixture's groups of 4 differ by ≤3 sign bits, so
   group siblings legitimately cross the 0.98 threshold), and NO
   natural text embedding crosses it — the margin between natural and
   planted cosines is pinned, not assumed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_integration_spark.similarity.crossmodal import (
    N_FEATURES,
    N_OUT,
    pinned_projection,
    project_hashes,
    project_phash_features,
)

SF = "/root/testdata/sf0.001"


def test_pinned_projection_matches_modular_formula():
    W = pinned_projection()
    assert W.shape == (N_FEATURES, N_OUT) and W.dtype == np.int64
    for k, j in ((0, 0), (5, 17), (62, 63), (31, 1)):
        want = (((k * 64 + j + 1) * 2654435761) % 1000003) % 201 - 100
        assert int(W[k, j]) == want
    assert int(W.min()) >= -100 and int(W.max()) <= 100


def test_projection_is_integer_exact(spark):
    hashes = [(1, 0), (2, (1 << 63) - 1), (3, 0x5A5A5A5A5A5A5A5), (4, 12345)]
    df = spark.createDataFrame(hashes, "item_id long, phash long")
    got = {
        r["item_id"]: np.array(r["y"])
        for r in project_phash_features(df).collect()
    }
    W = pinned_projection()
    for item_id, h in hashes:
        f = np.array(
            [1 if (h >> k) & 1 else -1 for k in range(N_FEATURES)],
            dtype=np.int64,
        )
        want = f @ W
        assert np.array_equal(got[item_id], want.astype(np.float64)), item_id
        # the emitted doubles are integer-valued (exact by range)
        assert np.all(got[item_id] == np.rint(got[item_id]))


def test_driver_projection_equals_the_spark_op(spark):
    """``project_hashes`` on the driver (q_crossmodal_dedup's path) gives
    the same bits as the distributed op."""
    hashes = [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 63) - 1)) for i in range(50)]
    df = spark.createDataFrame(hashes, "item_id long, phash long")
    got = {r["item_id"]: np.array(r["y"]) for r in project_phash_features(df).collect()}
    want = project_hashes(np.array([h for _, h in hashes]), pinned_projection())
    assert want.dtype == np.float64
    for (item_id, _h), row in zip(hashes, want):
        assert np.array_equal(got[item_id], row), item_id


def test_planted_recovery_and_natural_margin(spark):
    from data_integration_spark.queries import QUERIES, load_all

    load_all()
    fn = QUERIES["q_crossmodal_dedup"]  # LIVE since the r14 flip
    rows = fn(spark, SF).collect()
    got = {(r["doc_id"], r["vec_id"]): r["cosine"] for r in rows}
    planted = {d for d in range(300) if d % 29 == 5}
    # every planted caption is retrieved by its OWN image at cosine 1.0
    for d in planted:
        assert got.get((d, 1_000_000_000 + d)) == 1.0, d
    for (d, vec_id), cos in got.items():
        # nothing natural crosses the threshold...
        assert vec_id >= 1_000_000_000, (d, vec_id)
        # ...and every match is a group sibling of the caption's doc
        # (pHash groups of 4: siblings differ by <= 3 sign bits)
        assert d // 4 == (vec_id - 1_000_000_000) // 4, (d, vec_id)

    # pin the natural-vs-planted margin instead of assuming it: the
    # hottest NATURAL cosine over the same query block sits far below
    # the 0.98 threshold
    from data_integration_spark.multimodal.binary_ops import image_phash
    from data_integration_spark.queries.multimodal_queries import (
        _phash_bmp_payload_df,
    )
    from data_integration_spark.similarity.ann import (
        as_double_array,
        cosine_pairs,
    )
    from data_integration_spark.sources.catalog import Catalog

    proj = project_phash_features(
        image_phash(_phash_bmp_payload_df(spark, SF, max_doc_id=300)).filter(
            F.col("ok")
        )
    )
    queries = proj.select(
        (F.col("item_id") + 2_000_000_000).alias("vec_id"),
        F.col("y").alias("e"),
    )
    emb = Catalog(spark, SF)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    top_natural = (
        cosine_pairs(queries, emb, threshold=-2.0)
        .agg(F.max("cosine").alias("m"))
        .collect()[0]["m"]
    )
    assert top_natural < 0.9, top_natural
