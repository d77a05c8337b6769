"""IVF-PQ composed approximate nearest neighbour — the FAISS-standard
big-index design, composing this package's two scale paths:

- the IVF coarse quantizer (ivf.py) prunes WHICH vectors a query touches
  (nprobe of n_cells inverted lists — compute pruning);
- product quantization (pq.py) compresses WHAT each list stores — but
  over the RESIDUAL (vector − its cell centroid), not the raw vector
  (the same codec functions as ``PQIndex``, applied to residuals):
  residuals concentrate around 0 with far lower variance than the
  corpus, so the same code budget quantizes them much more precisely
  (the core IVFADC insight of Jégou/Douze/Schmid, "Product Quantization
  for Nearest Neighbor Search", TPAMI 2011).

At 100 TB this is THE deployable shape: the index is an (id, cell,
m-byte codes) table — cells give partition pruning (store it
partitioned by cell), codes make the scanned fraction memory-resident.
A query probes nprobe cells, builds one exact (m × k_codes) LUT per
probed cell over the query's residual IN that cell, and every candidate
distance is m table gathers — no float vector is read until the
optional exact rerank of a bounded shortlist.

Exactness spine (what the invariants certificate pins): with centroid c
and decoded residual r̂, squared L2 decomposes over the orthogonal
subspace split, so ADC(q, cell, codes) == ‖(q − c) − r̂‖² EXACTLY —
engine-independent algebra even though centroid/codebook VALUES are
sample-dependent (hence q_ann_ivfpq is rows-only and
q_ann_ivfpq_invariants is the full-oracle certificate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import _rank_topk
from data_integration_spark.similarity.ivf import (
    IVFIndex,
    _score_cells,
    _sq_dists,
    training_sample,
)
from data_integration_spark.similarity.pq import (
    adc_topk,
    decode,
    encode,
    rerank_l2,
    train_codebooks,
)


class IVFPQIndex:
    """Fit once per corpus release; ``search`` probes cells and scans
    codes; ``assign_encode`` appends new vectors without a refit.

    Parameters a release persists (``similarity/persist.py::
    save_ivfpq_index``): the coarse centroids (tiny parquet) + the
    residual codebooks (m × k_codes × dsub doubles, JSON) + the codes
    table (corpus-sized parquet, partition by ``cell`` at scale)."""

    def __init__(
        self, n_cells: int = 8, m: int = 16, k_codes: int = 16, seed: int = 17
    ):
        self.ivf = IVFIndex(n_cells=n_cells, seed=seed)
        self.n_cells = n_cells
        self.m = m
        self.k_codes = k_codes
        self.seed = seed
        self.codebooks: np.ndarray | None = None  # (m, k_codes, dsub)
        self.centroids_np: np.ndarray | None = None  # (n_cells, d)
        self.codes: DataFrame | None = None  # (mid, cell, codes)

    # ------------------------------------------------------------------ fit
    def fit(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "e",
        train_per_code: int | None = 64,
        n_rows: int | None = None,
    ) -> "IVFPQIndex":
        """Coarse quantizer via ``IVFIndex.fit`` (bounded-sample driver
        Lloyd, FAISS-style), then residual codebooks (``train_codebooks``)
        on a bounded deterministic sample of the assigned corpus, then ONE
        distributed pass encoding the full corpus.

        Both training sets come from ``ivf.training_sample``
        (pure-function-of-id subsamples collected SORTED), so refits
        reproduce on any partitioning and stay a few MB at any corpus
        size. ``n_rows``: the corpus count when the caller already has
        it; one count serves the coarse fit and the residual sample
        bound."""
        n = corpus.count() if n_rows is None else n_rows
        self.ivf.fit(corpus, id_col=id_col, vec_col=vec_col, n_rows=n)
        self._pull_centroids()
        assigned = self.ivf.assigned  # (mid, me, cell)
        X, sample_pd = training_sample(
            assigned, "mid", "me", self.k_codes * (train_per_code or 256),
            n_rows=n, sample=train_per_code is not None, extra_cols=("cell",),
        )
        R = X - self.centroids_np[sample_pd["cell"].to_numpy()]
        self.codebooks = train_codebooks(R, self.m, self.k_codes, self.seed)
        self.codes = self._encode_assigned(assigned)
        return self

    def _pull_centroids(self) -> None:
        # ride the IVFIndex's once-per-index matrix cache instead of a
        # second toPandas of the same table (zero jobs when the cache was
        # seeded driver-side — fit and the pinned fixtures both do)
        C, cells = self.ivf._centroid_matrix()
        if list(cells) != list(range(len(cells))):
            raise ValueError("centroid cell ids must be dense 0..n-1")
        self.centroids_np = np.ascontiguousarray(C, dtype=np.float64)

    # --------------------------------------------------------------- encode
    def _encode_assigned(self, assigned: DataFrame) -> DataFrame:
        """(mid, cell, codes) from an already-assigned (mid, me, cell)
        frame: ``encode`` of the residual me − centroid[cell]. One
        vectorized ``mapInPandas`` pass; centroids + codebooks ride the
        closure (KBs)."""
        assert self.codebooks is not None, "fit or load first"
        cb, cent = self.codebooks, self.centroids_np

        def enc(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["me"].to_numpy()).astype(np.float64)
                cells = pdf["cell"].to_numpy()
                yield pd.DataFrame(
                    {
                        "mid": pdf["mid"].to_numpy(),
                        "cell": cells,
                        "codes": list(encode(X - cent[cells], cb)),
                    }
                )

        return assigned.select("mid", "me", "cell").mapInPandas(
            enc, "mid long, cell int, codes array<bigint>"
        )

    def assign_encode(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "e"
    ) -> DataFrame:
        """Assign cells with the INDEX's own metric (``IVFIndex.assign``
        — the one assignment arithmetic fit/append/load all share), then
        encode residuals — the incremental-append path (daily embedding
        batches join a released index; centroids and codebooks frozen)."""
        return self._encode_assigned(
            self.ivf.assign(vectors, id_col=id_col, vec_col=vec_col)
        )

    def append(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "e"
    ) -> "IVFPQIndex":
        assert self.codes is not None, "fit or load first"
        self.codes = self.codes.unionByName(
            self.assign_encode(vectors, id_col=id_col, vec_col=vec_col)
        )
        return self

    # --------------------------------------------------------------- decode
    def decode_np(self, cells: np.ndarray, codes: np.ndarray) -> np.ndarray:
        """Reconstruct (n, d) vectors: cell centroid + decoded residual.
        NumPy helper for certificates/tests."""
        assert self.codebooks is not None and self.centroids_np is not None
        return self.centroids_np[cells] + decode(codes, self.codebooks)

    # --------------------------------------------------------------- search
    def search(
        self,
        queries_pd: pd.DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "e",
        round_decimals: int = 6,
    ) -> DataFrame:
        """ADC top-k per query over the probed cells' codes: (qid, mid,
        adc_dist, rank), ascending distance, (dist, mid) tie-break.

        ``queries_pd`` is BOUNDED (callers guard size as in the other
        vectorized ANN paths) and rides the closure with each query's
        nprobe nearest cells, ranked on the driver against the
        (n_cells × d) centroid matrix with a (distance, cell) tie-break.
        The codes table is FILTERED to the probed cell set before the
        scan (a static IN-list: partition pruning when stored partitioned
        by cell) and streams through ``mapInPandas``. Each batch is
        scored per cell, as in ``search_all``: the cell's members against
        the residuals of the queries that probe it, through ``adc_topk``.
        Only per-(query, cell) batch-local top-k survivors reach the
        ranking shuffle — never nq·|corpus| rows."""
        assert self.codes is not None, "fit first"
        cb, cent = self.codebooks, self.centroids_np
        q_ids = queries_pd[id_col].to_numpy()
        Q = np.stack(queries_pd[vec_col].to_numpy()).astype(np.float64)
        probes = np.argsort(_sq_dists(Q, cent), axis=1, kind="stable")[
            :, : min(nprobe, cent.shape[0])
        ]  # (nq, nprobe) cell ids
        probed_cells = sorted({int(c) for c in probes.ravel()})

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.stack(pdf["codes"].to_numpy())  # (nb, m)
                cells = pdf["cell"].to_numpy()
                mids = pdf["mid"].to_numpy()
                for cell in np.unique(cells):
                    qs = (probes == cell).any(axis=1)
                    mask = cells == cell
                    yield from adc_topk(
                        Q[qs] - cent[cell], cb, C[mask], q_ids[qs], mids[mask],
                        k, round_decimals,
                    )

        pairs = (
            self.codes.filter(F.col("cell").isin(probed_cells))
            .mapInPandas(score, "qid long, mid long, adc_dist double")
        )
        return _rank_topk(pairs, "adc_dist", k)

    def search_all(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "e",
        round_decimals: int = 6,
    ) -> DataFrame:
        """Corpus-scale ADC search — ``search`` semantics (top-k by
        squared ADC distance within the nprobe nearest cells, ties on
        rounded distance then id, self-pairs excluded) built for Q ≈ N:
        the IVFADC self-join a SemDeDup-over-compressed-codes pipeline
        runs (``IVFIndex.search_all``'s sibling on the PQ-compressed
        index — same cogrouped shape, ADC gathers instead of a cosine
        GEMM).

        ``search`` holds the query set on the driver — bounded queries
        only. Here stage 1 is the shared ``IVFIndex._probe`` GEMM
        (queries keep their float vectors only until the LUT is built),
        and stage 2 is a COGROUPED ``applyInPandas`` on the cell id: each
        cell scores its members against its probing queries' residuals
        through ``adc_topk`` (m table GATHERS per candidate, never
        decoding a member vector) and emits only per-query partial top-k.
        The global pass ranks ≤ nprobe·k survivors per query. The cut is
        lossless (a member lives in exactly one cell — the
        ``IVFIndex.search_all`` batch-cut argument).

        Scale shape: one shuffle of probes + codes on the cell id (the
        layout a persisted index already has on disk), LUT work
        nq_cell·m·k_codes·dsub per cell, member work m gathers per
        candidate — the code table is never decoded and no pair-space
        rows materialize below the per-cell top-k."""
        assert self.codes is not None, "fit or load first"
        cb, cent = self.codebooks, self.centroids_np
        assert cb is not None and cent is not None, "fit or load first"
        probed = self.ivf._probe(queries, nprobe, id_col, vec_col)
        qid_type = probed.schema["qid"].dataType.simpleString()

        def score_cell(probes: pd.DataFrame, members: pd.DataFrame):
            cell = int(probes["cell"].iloc[0])
            Q = np.ascontiguousarray(
                np.stack(probes["qe"].to_numpy()), dtype=np.float64
            )
            return adc_topk(
                Q - cent[cell][None, :],
                cb,
                np.stack(members["codes"].to_numpy()).astype(np.int64),
                probes["qid"].to_numpy().astype(np.int64),
                members["mid"].to_numpy().astype(np.int64),
                k,
                round_decimals,
            )

        partials = _score_cells(
            probed, self.codes, score_cell,
            f"qid {qid_type}, mid {qid_type}, adc_dist double",
        )
        return _rank_topk(partials, "adc_dist", k)

    def search_rerank(
        self,
        queries_pd: pd.DataFrame,
        corpus: DataFrame,
        k: int = 5,
        shortlist: int = 50,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "e",
    ) -> DataFrame:
        """The production IVFADC pipeline: probed-cell ADC SHORTLIST +
        exact L2 rerank (``pq.rerank_l2``) — only the nq×shortlist
        candidates' float vectors are ever read. Returns (qid, mid,
        l2_dist, rank), ascending exact distance, (dist, mid)
        tie-break."""
        short = self.search(
            queries_pd, k=shortlist, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
        return rerank_l2(short, queries_pd, corpus, k, id_col, vec_col)
