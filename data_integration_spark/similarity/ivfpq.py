"""IVF-PQ composed approximate nearest neighbour — the FAISS-standard
big-index design, composing this package's two scale paths:

- the IVF coarse quantizer (ivf.py) prunes WHICH vectors a query touches
  (nprobe of n_cells inverted lists — compute pruning);
- product quantization (pq.py) compresses WHAT each list stores — but
  over the RESIDUAL (vector − its cell centroid), not the raw vector:
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
    _lloyd,
    _score_cells,
    _sq_dists,
)
from data_integration_spark.similarity.kernel import (
    _np_round_half_up,
    row_blocks,
    topk_cut,
)
from data_integration_spark.sources.local import local_table


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
        Lloyd — the r7 FAISS-style shape), then residual codebooks on a
        bounded deterministic residual sample, then ONE distributed pass
        encoding the full corpus.

        Both training sets are pure-function-of-id subsamples
        (``pmod(xxhash64(id), 1e6)``), collected SORTED, so refits
        reproduce on any partitioning and stay a few MB at any corpus
        size."""
        # n_rows: caller-supplied corpus count (r15 — one count serves the
        # coarse fit, the residual sample bound, and nothing else; callers
        # over a whole catalog table pass the parquet-footer count)
        n = corpus.count() if n_rows is None else n_rows
        self.ivf.fit(corpus, id_col=id_col, vec_col=vec_col, n_rows=n)
        self._pull_centroids()
        assigned = self.ivf.assigned  # (mid, me, cell)

        target = self.k_codes * (train_per_code or 256)
        train = assigned
        if train_per_code is not None and n > target:
            frac_ppm = int(target * 1_000_000 / n)
            train = assigned.filter(
                F.pmod(F.xxhash64(F.col("mid")), F.lit(1_000_000)) < frac_ppm
            )
        sample_pd = (
            train.select("mid", "me", "cell").orderBy("mid").limit(target * 4)
        ).toPandas()
        X = np.stack(sample_pd["me"].to_numpy()).astype(np.float64)
        cells = sample_pd["cell"].to_numpy()
        R = X - self.centroids_np[cells]  # residual training matrix
        d = X.shape[1]
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        dsub = d // self.m
        self.codebooks = np.stack(
            [
                _lloyd(
                    R[:, j * dsub : (j + 1) * dsub],
                    self.k_codes,
                    self.seed + 101 * j,
                )
                for j in range(self.m)
            ]
        )
        self.codes = self._encode_assigned(assigned)
        return self

    def _pull_centroids(self) -> None:
        # r15: ride the IVFIndex's once-per-index matrix cache instead of
        # a second toPandas of the same table (zero jobs when the cache
        # was seeded driver-side — fit and the pinned fixtures both do)
        C, cells = self.ivf._centroid_matrix()
        if list(cells) != list(range(len(cells))):
            raise ValueError("centroid cell ids must be dense 0..n-1")
        self.centroids_np = np.ascontiguousarray(C, dtype=np.float64)

    # --------------------------------------------------------------- encode
    def _encode_assigned(self, assigned: DataFrame) -> DataFrame:
        """(mid, cell, codes) from an already-assigned (mid, me, cell)
        frame: residual = me − centroid[cell], per-subspace argmin with
        the lowest-code tie-break (np.argmin). One vectorized
        ``mapInPandas`` pass; centroids + codebooks ride the closure
        (KBs)."""
        assert self.codebooks is not None, "fit or load first"
        cb, cent = self.codebooks, self.centroids_np
        m, dsub = cb.shape[0], cb.shape[2]

        def enc(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["me"].to_numpy()).astype(np.float64)
                cells = pdf["cell"].to_numpy()
                R = X - cent[cells]
                codes = np.empty((len(X), m), dtype=np.int64)
                for j in range(m):
                    sub = R[:, j * dsub : (j + 1) * dsub]
                    dist = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                    codes[:, j] = dist.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "mid": pdf["mid"].to_numpy(),
                        "cell": cells,
                        "codes": list(codes),
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
        """Reconstruct (n, d) vectors: cell centroid + concatenated
        per-subspace residual codewords. NumPy helper for
        certificates/tests."""
        assert self.codebooks is not None and self.centroids_np is not None
        recon = np.concatenate(
            [self.codebooks[j][codes[:, j]] for j in range(self.m)], axis=1
        )
        return self.centroids_np[cells] + recon

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
        vectorized ANN paths). Driver work is tiny and exact: rank cells
        per query against the (n_cells × d) centroid matrix, then build
        one (m × k_codes) LUT per (query, probed cell) over the query's
        residual in that cell — nq·nprobe·m·k_codes doubles in the
        closure. The codes table is FILTERED to the probed cell set
        before the scan (partition pruning when stored partitioned by
        cell), streams through ``mapInPandas``, and only batch-local
        top-k survivors reach the ranking shuffle — nq·k·n_batches rows,
        never nq·|corpus|. Distances round HALF-UP and rank through the
        shared kernel (``similarity/kernel.py``), as in ``search_all``."""
        assert self.codes is not None, "fit first"
        cb, cent = self.codebooks, self.centroids_np
        m, kc, dsub = cb.shape
        q_ids = queries_pd[id_col].to_numpy()
        Q = np.stack(queries_pd[vec_col].to_numpy()).astype(np.float64)

        cd = _sq_dists(Q, cent)  # (nq, n_cells)
        probed: dict[int, np.ndarray] = {}
        luts: dict[tuple[int, int], np.ndarray] = {}
        for qi in range(len(q_ids)):
            order = np.lexsort((np.arange(cent.shape[0]), cd[qi]))
            cells = order[: min(nprobe, cent.shape[0])]
            probed[qi] = cells
            for cell in cells:
                r = Q[qi] - cent[cell]  # query residual in this cell
                luts[(qi, int(cell))] = np.stack(
                    [
                        (
                            (r[j * dsub : (j + 1) * dsub][None, :] - cb[j])
                            ** 2
                        ).sum(-1)
                        for j in range(m)
                    ]
                )  # (m, kc)

        probed_cells = sorted({int(c) for cs in probed.values() for c in cs})

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.stack(pdf["codes"].to_numpy())  # (nb, m)
                cells = pdf["cell"].to_numpy()
                mids = pdf["mid"].to_numpy()
                out_q, out_m, out_d = [], [], []
                for qi in range(len(q_ids)):
                    d_parts, m_parts = [], []
                    for cell in probed[qi]:
                        mask = cells == cell
                        if not mask.any():
                            continue
                        lut = luts[(qi, int(cell))]
                        Cc = C[mask]
                        dist = np.zeros(len(Cc))
                        for j in range(m):
                            dist += lut[j, Cc[:, j]]
                        d_parts.append(_np_round_half_up(dist, round_decimals))
                        m_parts.append(mids[mask])
                    if not d_parts:
                        continue
                    dall = np.concatenate(d_parts)[None, :]
                    mall = np.concatenate(m_parts)
                    _, sel = topk_cut(dall, q_ids[qi : qi + 1], mall, k, round_decimals)
                    out_q.append(np.full(len(sel), q_ids[qi]))
                    out_m.append(mall[sel])
                    out_d.append(dall[0, sel])
                if not out_q:
                    continue
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "mid": np.concatenate(out_m),
                        "adc_dist": np.concatenate(out_d),
                    }
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

        ``search`` holds per-(query, cell) LUTs on the driver — bounded
        queries only. Here stage 1 is the shared ``IVFIndex._probe``
        GEMM (queries keep their float vectors only until the LUT is
        built), and stage 2 is a COGROUPED ``applyInPandas`` on the
        cell id: each cell builds the (nq_cell, m, k_codes) LUT tensor
        over its probing queries' residuals, scores every member with m
        table GATHERS (never decoding a member vector), and emits only
        per-query partial top-k. The global pass ranks ≤ nprobe·k
        survivors per query. The cut is lossless (a member lives in
        exactly one cell — the ``IVFIndex.search_all`` batch-cut
        argument). Rounding is HALF-UP (``_np_round_half_up``) so a SQL
        oracle's ROUND can restate the emitted distances; ranking is the
        shared kernel's exact integer key (``kernel.topk_cut``; distances
        must stay < 2^31 millionths, a loud guard).

        Scale shape: one shuffle of probes + codes on the cell id (the
        layout a persisted index already has on disk), LUT work
        nq_cell·m·k_codes·dsub per cell, member work m gathers per
        candidate — the code table is never decoded and no pair-space
        rows materialize below the per-cell top-k."""
        assert self.codes is not None, "fit or load first"
        cb, cent = self.codebooks, self.centroids_np
        assert cb is not None and cent is not None, "fit or load first"
        m, kc, dsub = cb.shape
        probed = self.ivf._probe(queries, nprobe, id_col, vec_col)
        qid_type = probed.schema["qid"].dataType.simpleString()

        def score_cell(probes: pd.DataFrame, members: pd.DataFrame):
            cell = int(probes["cell"].iloc[0])
            C = np.stack(members["codes"].to_numpy()).astype(np.int64)
            mids = members["mid"].to_numpy().astype(np.int64)
            qids = probes["qid"].to_numpy().astype(np.int64)
            Q = np.ascontiguousarray(
                np.stack(probes["qe"].to_numpy()), dtype=np.float64
            )
            for sl in row_blocks(len(qids), len(mids)):
                R = Q[sl] - cent[cell][None, :]
                dist = np.zeros((len(R), len(mids)))
                for j in range(m):
                    sub = R[:, j * dsub : (j + 1) * dsub]
                    # direct (x−c)² form, matching the encode kernel and
                    # a SQL oracle's SUM((r−b)²) arithmetic shape
                    lut = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(
                        -1
                    )  # (nq_c, kc)
                    dist += lut[:, C[:, j]]
                dist = _np_round_half_up(dist, round_decimals)
                qi, mi = topk_cut(dist, qids[sl], mids, k, round_decimals)
                yield pd.DataFrame(
                    {"qid": qids[sl][qi], "mid": mids[mi], "adc_dist": dist[qi, mi]}
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
        exact L2 rerank — only the nq×shortlist candidates' float
        vectors are ever read. Returns (qid, mid, l2_dist, rank),
        ascending exact distance, (dist, mid) tie-break."""
        spark = corpus.sparkSession
        short = self.search(
            queries_pd, k=shortlist, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        ).select("qid", "mid")
        cand = short.join(
            corpus.select(
                F.col(id_col).alias("mid"), F.col(vec_col).alias("me")
            ),
            "mid",
        )
        qdf = local_table(
            spark,
            [
                (int(q), [float(x) for x in v])
                for q, v in zip(queries_pd[id_col], queries_pd[vec_col])
            ],
            "qid long, qe array<double>",
        )
        dist = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("qe"), F.col("me"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        scored = cand.join(F.broadcast(qdf), "qid").select(
            "qid", "mid", dist.alias("l2_dist")
        )
        return _rank_topk(scored, "l2_dist", k)
