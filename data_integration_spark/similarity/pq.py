"""Product quantization (PQ) approximate nearest neighbour — the
memory-bound ANN path.

IVF (ivf.py) prunes WHICH vectors a query touches; PQ compresses WHAT is
stored per vector: the d-dim embedding splits into ``m`` subvectors, each
quantized to one of ``k_codes`` per-subspace centroids, so a vector is
``m`` small integers (8 bytes at m=8) instead of ``d`` floats (512 bytes
at d=64 double) — the representation that lets a 100 TB embedding corpus'
index fit in cluster memory. Search uses asymmetric distance computation
(ADC): per query, an m×k_codes lookup table of exact
query-subvector↔centroid squared distances is built once, and each
corpus vector's approximate distance is ``m`` table gathers summed —
no float vector is ever read at query time.

Spark-first shape (mirrors ann.py's vectorized scorers):

- codebooks train DRIVER-SIDE on a bounded deterministic sample
  (``ivf._lloyd`` per subspace — the same FAISS-style bounded-sample
  argument as the IVF coarse quantizer);
- encoding is one distributed ``mapInPandas`` pass (argmin over
  broadcast codebooks per Arrow batch, vectorized);
- search streams the CODES table through ``mapInPandas`` with the query
  LUT tensor in the closure: per batch, distances are NumPy gathers +
  sum, the batch-local top-k per query is cut under the exact global
  total order, and an engine-side window merges survivors — the ranking
  shuffle receives nq·k·n_batches rows, never nq·|corpus|.

The ADC identity — ADC(q, codes) == ‖q − decode(codes)‖² exactly — is
the family's oracle certificate (q_ann_pq_invariants): quantization
VALUES are seed/sample-dependent (rows-only), the algebra is not.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import _rank_topk
from data_integration_spark.similarity.ivf import _lloyd
from data_integration_spark.similarity.kernel import _np_round_half_up, topk_cut
from data_integration_spark.sources.local import local_table


class PQIndex:
    """Train once over a corpus (vec col must be ``array<double>``),
    ``encode`` any vectors to codes, ``search`` with a bounded query set.

    ``codebooks``: (m, k_codes, dsub) ndarray — the index parameters a
    release persists (``similarity/persist.py::save_pq_index``)."""

    def __init__(self, m: int = 8, k_codes: int = 16, seed: int = 13):
        self.m = m
        self.k_codes = k_codes
        self.seed = seed
        self.codebooks: np.ndarray | None = None
        self.codes: DataFrame | None = None

    # ------------------------------------------------------------------ fit
    def fit(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "e",
        train_per_code: int | None = 64,
        n_rows: int | None = None,
    ) -> "PQIndex":
        """Train m per-subspace codebooks on a bounded deterministic
        sample, then encode the FULL corpus (one distributed pass).

        The sample predicate is a pure function of the id
        (``pmod(xxhash64(id), 1e6)``) so refits reproduce on any
        partitioning; the sample is collected SORTED by id so the
        k-means result is partition-order independent."""
        target = self.k_codes * (train_per_code or 256)
        # n_rows: caller-supplied corpus count (saves a redundant count
        # job when the caller already ran one)
        n = corpus.count() if n_rows is None else n_rows
        train = corpus
        if train_per_code is not None and n > target:
            frac_ppm = int(target * 1_000_000 / n)
            train = corpus.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < frac_ppm
            )
        sample_pd = (
            train.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"))
            .orderBy("_id")
            .limit(target * 4)
            .toPandas()
        )
        X = np.stack(sample_pd["_e"].to_numpy()).astype(np.float64)
        d = X.shape[1]
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        dsub = d // self.m
        self.codebooks = np.stack(
            [
                _lloyd(
                    X[:, j * dsub : (j + 1) * dsub],
                    self.k_codes,
                    self.seed + 101 * j,
                )
                for j in range(self.m)
            ]
        )  # (m, k_codes, dsub)
        self.codes = self.encode(corpus, id_col, vec_col)
        return self

    # --------------------------------------------------------------- encode
    def encode(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "e"
    ) -> DataFrame:
        """(mid, codes array<int>) — nearest per-subspace centroid, plain
        squared distance with lowest-code tie-break (np.argmin). One
        vectorized ``mapInPandas`` pass; codebooks broadcast via closure
        (m·k_codes·dsub doubles — KBs)."""
        assert self.codebooks is not None, "fit or load first"
        cb = self.codebooks
        m, dsub = cb.shape[0], cb.shape[2]

        def enc(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = np.empty((len(X), m), dtype=np.int64)
                for j in range(m):
                    sub = X[:, j * dsub : (j + 1) * dsub]
                    dists = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                    codes[:, j] = dists.argmin(axis=1)
                yield pd.DataFrame(
                    {"mid": pdf[id_col].to_numpy(), "codes": list(codes)}
                )

        return vectors.select(id_col, vec_col).mapInPandas(
            enc, "mid long, codes array<bigint>"
        )

    # --------------------------------------------------------------- decode
    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        """Reconstruct (n, d) vectors from (n, m) codes — concatenated
        per-subspace centroids. NumPy helper for certificates/tests."""
        assert self.codebooks is not None
        return np.concatenate(
            [self.codebooks[j][codes[:, j]] for j in range(self.codebooks.shape[0])],
            axis=1,
        )

    # --------------------------------------------------------------- search
    def search(
        self,
        queries_pd: pd.DataFrame,
        k: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "e",
        round_decimals: int = 6,
    ) -> DataFrame:
        """ADC top-k per query over the encoded corpus: (qid, mid,
        adc_dist, rank), ascending distance, (dist, mid) tie-break.

        ``queries_pd`` is a BOUNDED pandas frame (the caller guards size,
        as in the cosine vectorized path): its m×k_codes LUT tensor rides
        the closure; the CODES table — not the float corpus — streams
        through in batches. Distances round HALF-UP, like Spark's
        ``F.round``, and each batch keeps its per-query top-k through the
        shared kernel (``similarity/kernel.py``), self-pairs excluded."""
        assert self.codes is not None, "fit first"
        cb = self.codebooks
        m, kc, dsub = cb.shape
        q_ids = queries_pd[id_col].to_numpy()
        Q = np.stack(queries_pd[vec_col].to_numpy()).astype(np.float64)
        # LUT[q, j, c] = ||q_sub_j − codebook[j][c]||², exact doubles
        lut = np.stack(
            [
                ((Q[:, j * dsub : (j + 1) * dsub][:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                for j in range(m)
            ],
            axis=1,
        )  # (nq, m, kc)

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.stack(pdf["codes"].to_numpy())  # (nm, m)
                mids = pdf["mid"].to_numpy()
                # gather-and-sum: dist[q, v] = Σ_j LUT[q, j, C[v, j]]
                dist = np.zeros((len(q_ids), len(C)))
                for j in range(m):
                    dist += lut[:, j, C[:, j]]
                dist = _np_round_half_up(dist, round_decimals)
                qi, mi = topk_cut(dist, q_ids, mids, k, round_decimals)
                yield pd.DataFrame(
                    {"qid": q_ids[qi], "mid": mids[mi], "adc_dist": dist[qi, mi]}
                )

        pairs = self.codes.mapInPandas(
            score, "qid long, mid long, adc_dist double"
        )
        return _rank_topk(pairs, "adc_dist", k)

    def search_rerank(
        self,
        queries_pd: pd.DataFrame,
        corpus: DataFrame,
        k: int = 5,
        shortlist: int = 50,
        id_col: str = "vec_id",
        vec_col: str = "e",
    ) -> DataFrame:
        """The production PQ shape — ADC SHORTLIST + exact rerank: the
        memory-bound code scan retrieves ``shortlist`` candidates per
        query (approximate, cheap — no float vector touched), then ONLY
        those nq×shortlist candidates' float vectors are read for an
        exact L2 rerank to top-k. Recall@k equals the shortlist's
        containment rate (measured 0.92 at R=20 / 0.99 at R=50 with
        m=16, k_codes=64 on the test corpus) while the full corpus is
        only ever scanned as codes. Returns (qid, mid, l2_dist, rank),
        ascending exact distance, (dist, mid) tie-break."""
        spark = corpus.sparkSession
        short = self.search(
            queries_pd, k=shortlist, id_col=id_col, vec_col=vec_col
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
                F.zip_with(F.col("qe"), F.col("me"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        scored = cand.join(F.broadcast(qdf), "qid").select(
            "qid", "mid", dist.alias("l2_dist")
        )
        return _rank_topk(scored, "l2_dist", k)
