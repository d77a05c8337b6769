"""IVF (inverted-file) approximate nearest neighbour over embeddings.

The classic two-stage ANN: a k-means coarse quantizer (seeded NumPy
k-means++ + Lloyd on a bounded driver-side sample — ``_lloyd``, r7)
partitions the corpus into nlist cells; queries probe only the nprobe
nearest cells. Recall/latency trades on nprobe exactly
as in FAISS-style IVF-Flat.

Scale shape: the corpus is scanned once to assign cells (narrow map after
broadcast of nlist×dim centroids), then searched per (query, probed-cell)
via a join on cell id — candidate volume is |corpus|·nprobe/nlist instead
of |corpus| per query. Centroids are tiny and always broadcast.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import _dot, _norm, _rank_topk
from data_integration_spark.similarity.kernel import (
    Vectors,
    cosine_blocks,
    threshold_pairs,
    topk_cut,
)
from data_integration_spark.sources.local import local_table


def _sq_dists(
    X: np.ndarray, C: np.ndarray, xx: np.ndarray | None = None
) -> np.ndarray:
    """(n, k) squared distances via the BLAS path (‖x‖²+‖c‖²−2x·c) —
    one GEMM instead of an (n, k, d) broadcast allocation; negatives
    from float cancellation clip to 0.

    r15b: in-place update chain — each element is still computed as
    ``(xx + cc) - 2·(x·c)`` in exactly that order, so values are
    BIT-IDENTICAL to the previous expression form; the rewrite only
    drops two (n, k) temporaries (the allocations dominated the call at
    Lloyd-loop sizes). ``xx`` optionally passes the precomputed row
    norms (identical values every iteration — the caller's loop was
    recomputing them per call)."""
    if xx is None:
        xx = (X * X).sum(axis=1)
    d = xx[:, None] + (C * C).sum(axis=1)[None, :]
    t = X @ C.T
    t *= 2.0
    d -= t
    return np.maximum(d, 0.0, out=d)


def _lloyd(X: np.ndarray, k: int, seed: int, n_iter: int = 25,
           tol: float = 1e-9) -> np.ndarray:
    """k-means on an in-memory sample: k-means++ seeding + Lloyd, all
    NumPy, deterministic under ``seed``. The coarse quantizer's training
    set is BOUNDED (n_cells × train_per_cell vectors — a few MB at any
    corpus size), so training belongs on the driver: FAISS trains IVF
    exactly this way, and the alternative (distributed Lloyd) costs a
    full cluster job per iteration to move a matrix that fits in L2
    cache. The full corpus is still assigned distributed (``assign``).
    The ++ init keeps a RUNNING min-distance array (O(n·k·d) total, not
    O(n·k²·d)); per-iteration distances ride one GEMM (``_sq_dists``)."""
    rng = np.random.RandomState(seed)
    X = np.ascontiguousarray(X, dtype=np.float64)
    n = len(X)
    k = min(k, n)
    # k-means++ init with incremental min-distance updates; ‖x‖² is
    # precomputed ONCE and each step is a single GEMV (at k = √N cells —
    # the r10 scale-derived knob — the init runs k sequential steps over
    # the whole sample, so recomputing the norms per step was ~half the
    # init cost at k≈450)
    xx = (X * X).sum(axis=1)
    first = X[rng.randint(n)]
    centroids = [first]
    best_d2 = np.maximum(xx + (first * first).sum() - 2.0 * (X @ first), 0.0)
    for _ in range(1, k):
        total = best_d2.sum()
        if total <= 0:  # all remaining points coincide with a centroid
            centroids.append(centroids[0])
            continue
        c = X[rng.choice(n, p=best_d2 / total)]
        centroids.append(c)
        best_d2 = np.minimum(
            best_d2, np.maximum(xx + (c * c).sum() - 2.0 * (X @ c), 0.0)
        )
    C = np.asarray(centroids, dtype=np.float64)
    for _ in range(n_iter):
        a = _sq_dists(X, C, xx).argmin(axis=1)
        # grouped mean via sort + add.reduceat (one C-speed pass) — the
        # per-cell boolean-mask loop was O(n·k) python/numpy scans per
        # iteration and dominated the whole fit at k≈450 (measured 31.6 s
        # of a 68 s sf10 q_ann_ivf before this rework); empty cells keep
        # their previous centroid, as before
        counts = np.bincount(a, minlength=k)
        nonempty = np.flatnonzero(counts)
        starts = np.zeros(len(nonempty), dtype=np.int64)
        starts[1:] = np.cumsum(counts[nonempty])[:-1]
        sums = np.add.reduceat(X[np.argsort(a, kind="stable")], starts, axis=0)
        new_c = C.copy()
        new_c[nonempty] = sums / counts[nonempty][:, None]
        if np.max(np.abs(new_c - C)) < tol:
            C = new_c
            break
        C = new_c
    return C


def training_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    target: int,
    n_rows: int | None = None,
    sample: bool = True,
    extra_cols: tuple[str, ...] = (),
):
    """The bounded deterministic training set every quantizer in this
    package fits on: a content-keyed ``pmod(xxhash64(id), 1e6) < frac``
    subsample of about ``target`` rows (reproducible on any
    partitioning), collected SORTED by id (so the fit is partition-order
    independent) and capped at ``target * 4`` rows, so it stays a few MB
    at ANY corpus size. ``sample=False`` keeps the whole (small) corpus
    up to that cap. ``n_rows``: the corpus row count when the caller
    already has it (saves re-counting the same frame).

    Returns ``(X, pdf)``: the (n, dim) float64 training matrix and the
    collected frame, whose ``extra_cols`` ride along (IVF-PQ takes each
    row's ``cell``)."""
    train = corpus
    n = corpus.count() if sample and n_rows is None else n_rows
    if sample and n > target:
        frac_ppm = int(target * 1_000_000 / n)
        train = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < frac_ppm
        )
    pdf = (
        train.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"), *extra_cols
        )
        .orderBy("_id")
        .limit(target * 4)
        .toPandas()
    )
    return np.stack(pdf["_e"].to_numpy()).astype(np.float64), pdf


def train_centroids(
    corpus: DataFrame,
    n_cells: int,
    seed: int,
    id_col: str = "vec_id",
    vec_col: str = "e",
    train_per_cell: int | None = 256,
    n_rows: int | None = None,
) -> np.ndarray:
    """The quantizer-training leg of ``IVFIndex.fit``, shared with
    non-IVF consumers (SemDeDup's trained-K production path): driver-side
    Lloyd (``_lloyd``) on ``training_sample``'s bounded set of
    ~``n_cells * train_per_cell`` rows. Returns the (n_cells, dim)
    float64 centroid matrix."""
    X, _ = training_sample(
        corpus, id_col, vec_col, n_cells * (train_per_cell or 4096),
        n_rows=n_rows, sample=train_per_cell is not None,
    )
    return _lloyd(X, n_cells, seed)


class IVFIndex:
    """Build once over a corpus (vec col must be array<double>), then
    ``search`` with any query subset."""

    def __init__(self, n_cells: int = 16, seed: int = 11):
        self.n_cells = n_cells
        self.seed = seed
        self.assigned: DataFrame | None = None
        self._centroids: DataFrame | None = None
        self._cent_np: tuple[np.ndarray, np.ndarray] | None = None

    @property
    def centroids(self) -> DataFrame | None:
        return self._centroids

    @centroids.setter
    def centroids(self, df: DataFrame | None) -> None:
        """Setting the centroid table (fit, load_ivf_index, pinned-fixture
        queries) invalidates the cached driver-side matrix."""
        self._centroids = df
        self._cent_np = None

    def _centroid_matrix(self) -> tuple[np.ndarray, np.ndarray]:
        """The (C, cells) NumPy form of the centroid table, collected ONCE
        per index and cached on the instance (ADVICE r10: ``assign`` used
        to re-collect per call, making fit→append→search chains
        driver-blocking N times for the same ≤4096×dim table). The setter
        above invalidates on any centroid replacement."""
        assert self._centroids is not None, "fit or load first"
        if self._cent_np is None:
            cent = self._centroids.orderBy("cell").collect()  # bounded
            C = np.ascontiguousarray([r.ce for r in cent], dtype=np.float64)
            cells = np.asarray([r.cell for r in cent], dtype=np.int64)
            self._cent_np = (C, cells)
        return self._cent_np

    def fit(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "e",
        train_per_cell: int | None = 256,
        n_rows: int | None = None,
    ):
        """Train the coarse quantizer, then assign the FULL corpus.

        ``n_rows``: the corpus row count when the caller already has it
        (r15 — callers that size ``n_cells`` off a count always do;
        passing it through saves one redundant count job per fit).

        ``train_per_cell``: the quantizer is trained on a bounded,
        DETERMINISTIC content-keyed subsample of ~``n_cells *
        train_per_cell`` vectors (FAISS trains IVF the same way) — k-means
        over the entire corpus would be a full multi-pass job per release
        at 100 TB, while centroid quality saturates at a few hundred
        training points per cell. The sample predicate is
        ``pmod(xxhash64(id), 1e6) < frac`` — a pure function of the id,
        so refits are reproducible on any partitioning. ``None`` keeps
        the whole (small) corpus as the training set.

        The Lloyd iterations run DRIVER-SIDE on the collected sample
        (``_lloyd``, r7): the training matrix is bounded by construction
        (n_cells × train_per_cell × dim doubles — a few MB at ANY corpus
        size), so iterating it distributed paid ~20 cluster jobs to move
        data that fits in cache (the r6 bench's q_ann_ivf cost was
        exactly this distributed-trainer per-iteration overhead; the
        pre-r7 implementation used a cluster-side k-means). The sample is
        collected SORTED by id so centroids are partition-order
        independent; the full corpus is still scanned ONCE, distributed,
        for the inverted-list assignment (``assign``, broadcast
        centroids, narrow map)."""
        spark = corpus.sparkSession
        centers = train_centroids(
            corpus, self.n_cells, self.seed, id_col, vec_col, train_per_cell,
            n_rows=n_rows,
        )
        self.centroids = local_table(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "cell int, ce array<double>",
        )
        # r15: seed the driver-side matrix cache directly from the trainer
        # output instead of collecting the just-uploaded table back
        # (one round-trip job per fit saved). Bit-identical to the
        # collect path: rows were built as float() of these values in
        # cell order, and float64 round-trips Python floats exactly.
        # MUST come after the `centroids` setter (which nulls the cache).
        self._cent_np = (
            np.ascontiguousarray(centers, dtype=np.float64),
            np.arange(len(centers), dtype=np.int64),
        )
        # assign the corpus with the INDEX's own arithmetic (assign()),
        # never the trainer's internal distance path: a different distance
        # formulation can disagree with plain sum((a-b)^2) within float
        # error near a cell boundary, which would break the
        # append/load/fit cell-for-cell contract (ADVICE r5). One
        # assignment metric everywhere: fit, append, and post-load appends
        # all produce byte-identical cell choices.
        self.assigned = self.assign(corpus, id_col, vec_col)
        return self

    def assign(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "e"
    ) -> DataFrame:
        """Nearest-centroid cell assignment using the EXISTING centroids
        (no refit) — plain squared-Euclidean with a (distance, cell)
        tie-break. This is THE index's assignment metric: ``fit`` routes
        its own corpus through it too, so fitted, appended, and
        loaded-then-appended vectors can never disagree on a near-boundary
        cell choice (the trainer's own distance path only ITERATES the
        centroids, never builds inverted lists).

        Execution (r10 rework): a VECTORIZED mapInPandas — the centroid
        matrix is bounded by construction (n_cells ≤ 4096 × dim doubles ≈
        2 MB, the same bound that lets it broadcast) so it rides the task
        closure, and each Arrow batch computes all |batch| × n_cells
        distances as ONE BLAS GEMM (``_sq_dists``). The pre-r10 form —
        broadcast crossJoin × n_cells + zip_with fold + struct-min
        groupBy — evaluated the fold INTERPRETED (HOF lambdas sit outside
        whole-stage codegen, the r8 minhash lesson) and scaled as
        N·n_cells interpreted rows: fine at the old pinned n_cells=8,
        but with scale-derived n_cells = √N the assign stage is N^1.5
        and became THE bottleneck the moment the knob was fixed
        (measured at sf10/n_cells=447: 174 s end-to-end; the GEMM form
        cuts the assignment scan to numpy speed and needs no shuffle at
        all — one narrow map, output |vectors| rows). numpy argmin takes
        the FIRST minimum = lowest cell id, bit-matching the struct-min
        (cdist, cell) tie-break; cross-formulation float-disagreement is
        bounded by reduction-order noise (~1e-13), eight orders under
        the pinned decision margins (tests/test_index_persist.py), and the
        invariants certificate re-checks every emitted cell against an
        independently written argmin every round."""
        import pandas as pd

        C, cells = self._centroid_matrix()

        def assign_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.ascontiguousarray(
                    np.stack(pdf["me"].to_numpy()), dtype=np.float64
                )
                a = _sq_dists(X, C).argmin(axis=1)  # first-min = lowest cell
                yield pd.DataFrame(
                    {"mid": pdf["mid"], "me": pdf["me"], "cell": cells[a]}
                )

        v = vectors.select(F.col(id_col).alias("mid"), F.col(vec_col).alias("me"))
        mid_type = v.schema["mid"].dataType.simpleString()
        return v.mapInPandas(
            assign_batches, f"mid {mid_type}, me array<double>, cell int"
        )

    def append(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "e",
        extra_cols: dict | None = None,
    ) -> "IVFIndex":
        """Append new vectors to the inverted lists (assign-only, centroids
        frozen) — the index grows without a refit, so search results over
        old vectors are unchanged and reproducibility across jobs holds.
        Re-fit deliberately stays a separate, explicit operation: centroid
        drift is a corpus-release decision, not a side effect.

        ``extra_cols``: optional {name: Column} annotations stamped onto
        the appended inverted-list rows before the union — batch
        provenance (which release/crawl contributed a row) travels ON the
        index rather than being re-derived after the fact. When the
        existing ``assigned`` table carries annotation columns, every
        append must supply the same ones (unionByName resolves by name
        and fails loudly on a mismatch, never silently NULL-fills).
        Annotation names must not collide with the inverted-list schema
        ({'mid', 'me', 'cell'}): withColumn would silently OVERWRITE the
        id/vector/cell columns and corrupt the index (ADVICE r9)."""
        assert self.assigned is not None, "fit or load first"
        reserved = {"mid", "me", "cell"} & set(extra_cols or {})
        if reserved:
            raise ValueError(
                f"extra_cols would overwrite inverted-list columns: "
                f"{sorted(reserved)} (reserved: mid, me, cell)"
            )
        add = self.assign(vectors, id_col, vec_col)
        for name, col in (extra_cols or {}).items():
            add = add.withColumn(name, col)
        self.assigned = self.assigned.unionByName(add)
        return self

    def _probe(
        self,
        queries: DataFrame,
        nprobe: int,
        id_col: str = "vec_id",
        vec_col: str = "e",
    ) -> DataFrame:
        """Stage 1 of every search/pairing path: rank cells per query and
        emit one ``(qid, qe, cell)`` row per probed cell, through the SAME
        GEMM closure as ``assign`` (r11 rework) — one ``_sq_dists`` call
        per Arrow batch, stable argsort rows, take the first nprobe
        columns. The pre-r11 form — crossJoin(broadcast(centroids)) ×
        zip_with/aggregate fold + a per-query row_number window —
        evaluated Q·n_cells INTERPRETED rows plus a shuffle for the
        window: bounded at the online-query shape (Q=100), but exactly
        the N·√N interpreted pattern that cost assign 174 s at sf10 once
        Q≈N. The GEMM form is a narrow map: no crossJoin rows, no window
        shuffle, output Q·nprobe rows. Tie-break parity: C is collected
        sorted by cell, and a STABLE argsort breaks distance ties by
        column index = ascending cell id — bit-matching the old
        orderBy(cdist, cell) window (pinned by
        tests/test_ivf_search_gemm.py against an HOF re-derivation).
        Shared verbatim by ``search``, ``search_all`` and ``near_pairs``
        so the three paths can never drift on probing semantics."""
        import pandas as pd

        C, cells = self._centroid_matrix()
        npb = int(min(nprobe, len(cells)))
        q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))

        def probe_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.ascontiguousarray(
                    np.stack(pdf["qe"].to_numpy()), dtype=np.float64
                )
                order = np.argsort(
                    _sq_dists(Q, C), axis=1, kind="stable"
                )[:, :npb]
                idx = np.repeat(np.arange(len(pdf)), npb)
                yield pd.DataFrame(
                    {
                        "qid": pdf["qid"].to_numpy()[idx],
                        "qe": pdf["qe"].to_numpy()[idx],
                        "cell": cells[order.ravel()],
                    }
                )

        qid_type = q.schema["qid"].dataType.simpleString()
        return q.mapInPandas(
            probe_batches, f"qid {qid_type}, qe array<double>, cell int"
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "e",
    ) -> DataFrame:
        """Top-k per query among the nprobe nearest cells (cosine,
        deterministic tie-break on rounded cosine then id)."""
        assert self.assigned is not None, "fit first"
        probed = self._probe(queries, nprobe, id_col, vec_col)
        # stage 2: exact cosine within probed cells only
        cand = probed.join(self.assigned, "cell").filter(F.col("qid") != F.col("mid"))
        cos = F.round(
            _dot(F.col("qe"), F.col("me"))
            / (_norm(F.col("qe")) * _norm(F.col("me"))),
            6,
        )
        scored = cand.select("qid", "mid", cos.alias("cosine"))
        return _rank_topk(scored, "cosine", k, descending=True)

    def search_all(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "e",
    ) -> DataFrame:
        """Corpus-scale search — same semantics as ``search`` (top-k
        cosine within the nprobe nearest cells, ties on rounded cosine
        then id, self-pairs excluded) but built for Q ≈ N (ANN self-join:
        the SemDeDup / semantic-dedup candidate-generation shape).

        ``search`` materializes every (query, candidate) pair as a ROW
        and scores it with an interpreted HOF cosine — Q·N·nprobe/n_cells
        interpreted rows (measured: 19.5 s at sf0.1 for Q=N=2000). Here
        stage 2 is a COGROUPED applyInPandas on the cell id: each cell
        gets its probing queries and its members as two NumPy matrices,
        scores them with the shared kernel's chunked GEMM
        (``similarity/kernel.py``), and emits only its per-query partial
        top-k (≤ k rows per (query, probed cell)). The global pass then
        ranks ≤ nprobe·k survivors per query — a window over Q·nprobe·k
        rows instead of the full candidate space. The cut is LOSSLESS:
        every candidate lives in exactly one cell, so a global top-k
        member necessarily ranks ≤ k inside its own cell under the same
        total order (the ``cosine_topk_vectorized`` batch-cut argument,
        per cell instead of per batch). Rounding (``_np_round_half_up``)
        and tie-break (rounded cosine, then id) match ``search``
        bit-for-bit — pinned by
        tests/test_ivf_search_gemm.py::test_search_all_matches_search.

        Scale shape: one shuffle of corpus + probes on the cell id (the
        inverted-list layout a persisted index already has on disk),
        BLAS inside the task, output Q·nprobe·k rows before the final
        tiny window. No pair-space row materialization anywhere."""
        assert self.assigned is not None, "fit first"
        import pandas as pd

        probed = self._probe(queries, nprobe, id_col, vec_col)
        qid_type = probed.schema["qid"].dataType.simpleString()

        def score_cell(probes, members):
            M = Vectors(members["me"].to_numpy(), "cell members")
            Q = Vectors(probes["qe"].to_numpy(), "probing queries")
            mids = members["mid"].to_numpy().astype(np.int64)
            qids = probes["qid"].to_numpy().astype(np.int64)
            for sl, cos in cosine_blocks(Q, M):
                qi, mi = topk_cut(cos, qids[sl], mids, k, descending=True)
                yield pd.DataFrame(
                    {"qid": qids[sl][qi], "mid": mids[mi], "cosine": cos[qi, mi]}
                )

        partials = _score_cells(
            probed, self.assigned, score_cell,
            f"qid {qid_type}, mid {qid_type}, cosine double",
        )
        return _rank_topk(partials, "cosine", k, descending=True)

    def near_pairs(self, threshold: float, nprobe: int = 4) -> DataFrame:
        """ALL near-duplicate pairs of the indexed corpus at ``cosine >=
        threshold`` within each vector's nprobe nearest cells — the
        SemDeDup candidate stage (``search_all``'s sibling: threshold
        semantics instead of top-k, for dedup where EVERY pair above the
        operating point matters, not just the k best).

        Same cogrouped per-cell chunked-GEMM execution as ``search_all``
        (one shuffle on the cell id, BLAS inside the task, no pair-space
        row materialization below the threshold); output volume tracks
        true near-dup density. Pairs are canonicalized to (d1 < d2) —
        asymmetric probing (a probes b's cell but not vice versa) would
        otherwise lose the pair to the orientation filter — and
        de-duplicated (both orientations can be found). Approximate by
        construction: a pair whose two vectors never co-occur in a
        probed cell is missed, the standard IVF recall trade governed by
        nprobe; the registered query's oracle recomputes the SAME
        approximation, so the contract is exact."""
        assert self.assigned is not None, "fit first"
        import pandas as pd

        mid_type = self.assigned.schema["mid"].dataType.simpleString()
        probed = self._probe(
            self.assigned, nprobe, id_col="mid", vec_col="me"
        )

        def score_cell(probes, members):
            M = Vectors(members["me"].to_numpy(), "cell members")
            Q = Vectors(probes["qe"].to_numpy(), "probing vectors")
            mids = members["mid"].to_numpy().astype(np.int64)
            qids = probes["qid"].to_numpy().astype(np.int64)
            for sl, cos in cosine_blocks(Q, M):
                qi, mi = threshold_pairs(cos, qids[sl], mids, threshold)
                a, b = qids[sl][qi], mids[mi]
                yield pd.DataFrame(
                    {
                        "d1": np.minimum(a, b),
                        "d2": np.maximum(a, b),
                        "cosine": cos[qi, mi],
                    }
                )

        pairs = _score_cells(
            probed, self.assigned, score_cell,
            f"d1 {mid_type}, d2 {mid_type}, cosine double",
        )
        # both orientations (and nothing else) can surface the same pair —
        # the distinct is over at most 2 rows per true pair
        return pairs.distinct()


def _score_cells(
    probed: DataFrame, members: DataFrame, score_cell, schema: str
) -> DataFrame:
    """Stage 2 of the corpus-scale paths: cogroup the probe rows and the
    inverted lists on the cell id and concatenate the frames that
    ``score_cell(probes, members)`` yields for every cell holding both.
    A one-sided cell (probes but no members, or members nobody probes)
    emits nothing."""
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]

    def run(probes, members):
        if len(probes) and len(members):
            parts = list(score_cell(probes, members))
            if parts:
                return pd.concat(parts, ignore_index=True)
        return pd.DataFrame({n: [] for n in names})

    return (
        probed.groupBy("cell")
        .cogroup(members.groupBy("cell"))
        .applyInPandas(run, schema)
    )
