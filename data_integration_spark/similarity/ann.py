"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k with native array expressions
(``zip_with`` + ``aggregate`` — JVM-side, no Python in the dot product).
Scale path: random-hyperplane LSH bucketing — candidates only meet inside a
bucket, turning the O(N·M) cross join into a per-bucket join. At 100 TB the
bucket join shuffles on ``bucket`` (hash-partitioned, AQE handles skew);
brute force stays available for the (small-query-set × big-corpus) shape
where the query side is broadcast.

All math is promoted to double before accumulation: float32 dot products
accumulate ~1e-6 error which breaks cross-engine comparisons and ranking
stability.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_integration_spark.dedup.components import _truncate_lineage
from data_integration_spark.similarity.kernel import (
    Vectors,
    _np_round_half_up,
    check_eval_order,
    cosine_blocks,
    nonzero_norm_rows,
    threshold_pairs,
    topk_cut,
)
from data_integration_spark.sources.local import local_table


def as_double_array(col: Column | str, alias: str | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.transform(c, lambda x: x.cast("double"))
    return out.alias(alias) if alias else out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(df: DataFrame, vec: str = "e", norm: str = "nrm") -> DataFrame:
    return df.withColumn(norm, _norm(F.col(vec)))


#: Brute force materializes |queries|·|corpus| pairs before ranking — the
#: exact baseline is only sane for a bounded query side. Beyond this, use
#: lsh_topk / ivf_topk (candidate generation bounds the pair space).
MAX_BRUTE_FORCE_QUERIES = 10_000


def _guard_query_side(
    queries: DataFrame, max_queries: int | None, fn_name: str
) -> None:
    """Refuse (ValueError) a query side above ``max_queries`` rows: the
    brute-force paths BROADCAST the query side and materialize
    |Q|×|corpus| pairs, so an unbounded Q is an executor-OOM at scale.
    One bounded ``limit(max+1).count()`` job; ``max_queries=None``
    disables the guard for deliberate offline exact sweeps."""
    if max_queries is None:
        return
    n_q = queries.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"{fn_name} query side exceeds {max_queries} rows; "
            "brute force would broadcast Q and materialize |Q|x|corpus| "
            "pairs - use lsh_topk/ivf_topk, or pass max_queries=None "
            "deliberately"
        )


def _rank_topk(
    pairs: DataFrame, score: str, k: int, descending: bool = False
) -> DataFrame:
    """The engine-side cut every top-k path ends with: rank each query's
    pairs by (score, mid), score descending for similarities and ascending
    for distances, and keep ranks 1..k as (qid, mid, score, rank)."""
    order = F.col(score).desc() if descending else F.col(score)
    w = Window.partitionBy("qid").orderBy(order, F.col("mid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "mid", score, "rank")
    )


def cosine_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.25,
    round_decimals: int = 6,
    max_queries: int | None = MAX_BRUTE_FORCE_QUERIES,
) -> DataFrame:
    """All (query, corpus) pairs with cosine ≥ threshold (self-pairs excluded).

    The query side is broadcast — the corpus never shuffles. Cosine is
    rounded before thresholding so the emitted set is stable across engines
    and run-to-run reduction orders.

    Guarded like ``cosine_topk``: refuses a query side above
    ``max_queries`` (the broadcast would be unbounded); pass
    ``max_queries=None`` for deliberate offline sweeps.
    """
    _guard_query_side(queries, max_queries, "cosine_pairs")
    q = with_norm(queries, vec_col, "qn").select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), "qn"
    )
    m = with_norm(corpus, vec_col, "mn").select(
        F.col(id_col).alias("mid"), F.col(vec_col).alias("me"), "mn"
    )
    cos = F.round(
        _dot(F.col("qe"), F.col("me")) / (F.col("qn") * F.col("mn")), round_decimals
    )
    return (
        m.join(F.broadcast(q), F.col("qid") != F.col("mid"))
        .select("qid", "mid", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "e",
    round_decimals: int = 6,
    max_queries: int = MAX_BRUTE_FORCE_QUERIES,
) -> DataFrame:
    """Brute-force cosine top-k per query with a deterministic tie-break
    (rounded cosine desc, then corpus id).

    Refuses (ValueError) when the query side exceeds ``max_queries`` —
    N·M pair materialization on an unbounded query side is the scale
    failure the LSH/IVF paths exist to avoid. ``max_queries=None``
    disables the guard for deliberate offline exact sweeps."""
    _guard_query_side(queries, max_queries, "cosine_topk")
    pairs = cosine_pairs(
        queries, corpus, id_col=id_col, vec_col=vec_col, threshold=-2.0,
        round_decimals=round_decimals, max_queries=None,  # guarded above
    )
    return _rank_topk(pairs, "cosine", k, descending=True)


def cosine_topk_vectorized(
    queries_pd,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "e",
    round_decimals: int = 6,
) -> DataFrame:
    """Brute-force top-k with the query block as a NumPy matrix inside a
    ``mapInPandas`` closure: each Arrow batch of the corpus computes ALL
    query cosines as one matrix multiply (BLAS), keeps only the batch-local
    top-k per query (exact partial top-k — every global top-k element is by
    definition inside its own batch's top-k), and the engine-side window
    merges the per-batch survivors.

    This is the scale shape for (small query set × huge corpus): the query
    matrix broadcasts via closure capture, the corpus streams through in
    batches, Python cost is one GEMM per batch, and the ranking shuffle
    receives nq×k×n_batches rows instead of nq×|corpus| — the map-side
    combine that keeps the final exchange constant-sized as the corpus
    grows. Results are bit-identical to ``cosine_topk`` (double math, same
    rounding, same (−cosine, mid) tie-break). Scoring and the cut are the
    shared kernel's (``similarity/kernel.py``); self-pairs lose before the
    cut, so a query's own vector never evicts a genuine candidate.

    ``queries_pd``: pandas DataFrame with columns (id_col, vec_col).
    """
    import pandas as pd

    q_ids = queries_pd[id_col].to_numpy()
    Q = Vectors(queries_pd[vec_col].to_numpy(), "query side")

    def score(batches):
        for pdf in batches:
            M = Vectors(pdf[vec_col].to_numpy(), "corpus batch")
            mids = pdf[id_col].to_numpy()
            # corpus rows × query columns: a transposed GEMM can differ in
            # the last bit, so the block keeps this orientation and the
            # cut reads it transposed
            for sl, cos in cosine_blocks(M, Q, round_decimals):
                qi, mi = topk_cut(
                    cos.T, q_ids, mids[sl], k, round_decimals, descending=True
                )
                yield pd.DataFrame(
                    {"qid": q_ids[qi], "mid": mids[sl][mi], "cosine": cos[mi, qi]}
                )

    pairs = corpus.select(id_col, vec_col).mapInPandas(
        score, "qid long, mid long, cosine double"
    )
    return _rank_topk(pairs, "cosine", k, descending=True)


def cosine_pairs_vectorized(
    queries_pd,
    corpus: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "e",
    round_decimals: int = 6,
    on_zero_norm: str = "raise",
    eval_order: str = "normalized",
) -> DataFrame:
    """Thresholded cosine pairs with the query block as a NumPy matrix
    inside ``mapInPandas`` — the vectorized sibling of ``cosine_pairs``
    (same rounding, same self-pair exclusion, same emitted set). One GEMM
    per Arrow batch replaces |Q| higher-order-function dot products per
    corpus row; only pairs meeting the threshold leave Python, so the
    operator's output — not its pair space — sizes the downstream plan.

    Scale shape: identical to ``cosine_topk_vectorized`` — the bounded
    query matrix rides the closure, the corpus streams through in batches
    and never shuffles.

    ``queries_pd``: pandas DataFrame with columns (id_col, vec_col).

    ``on_zero_norm``: cosine is undefined for a zero-norm vector. The
    default ``"raise"`` keeps the library's loud-failure contract (NaN
    ordering silently diverges between NumPy and Spark SQL). ``"drop"``
    instead excludes zero-norm vectors from BOTH sides before scoring —
    i.e. every pair touching one is silently absent, matching the
    expression form (NULL cosine → pair excluded) and the SQL-oracle
    semantics (NULL/NaN fails every threshold comparison). Pass ``"drop"``
    when the caller's contract is "score what's scorable on dirty data"
    rather than "certify the corpus is clean".

    ``eval_order``: float-evaluation order of the cosine, ``"normalized"``
    (default) or ``"raw_dot"`` — see ``kernel.cosine_blocks``. Callers
    whose oracle hash-matches cosine VALUES near the threshold
    (q_crossmodal_dedup) pass ``"raw_dot"``.
    """
    import pandas as pd

    if on_zero_norm not in ("raise", "drop"):
        raise ValueError(f"on_zero_norm must be 'raise' or 'drop', got {on_zero_norm!r}")
    check_eval_order(eval_order)
    q_ids = queries_pd[id_col].to_numpy()
    q_vecs = queries_pd[vec_col].to_numpy()
    if on_zero_norm == "drop":
        keep_q = nonzero_norm_rows(q_vecs)
        q_ids, q_vecs = q_ids[keep_q], q_vecs[keep_q]
        if not len(q_ids):  # every query was degenerate: no pairs exist
            return local_table(
                corpus.sparkSession,
                [], "qid long, mid long, cosine double"
            )
    Q = Vectors(q_vecs, "query side")

    def score(batches):
        for pdf in batches:
            if on_zero_norm == "drop":
                pdf = pdf[nonzero_norm_rows(pdf[vec_col].to_numpy())]
                if not len(pdf):
                    continue
            M = Vectors(pdf[vec_col].to_numpy(), "corpus batch")
            mids = pdf[id_col].to_numpy()
            for sl, cos in cosine_blocks(M, Q, round_decimals, eval_order):
                mi, qi = threshold_pairs(cos, mids[sl], q_ids, threshold)
                yield pd.DataFrame(
                    {"qid": q_ids[qi], "mid": mids[sl][mi], "cosine": cos[mi, qi]}
                )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, "qid long, mid long, cosine double"
    )


def cosine_score_pair_frame(
    pairs: DataFrame,
    q_col: str = "qe",
    m_col: str = "me",
    round_decimals: int = 6,
) -> DataFrame:
    """Vectorized cosine over an ALREADY-FORMED candidate pair frame —
    the batch-kernel sibling of the per-row expression form
    ``F.round(_dot(qe, me) / (_norm(qe) * _norm(me)), d)``: each Arrow
    batch becomes two NumPy matrices and ONE fused ``einsum`` row-dot
    scores the whole batch, where the pair list — not a cell cogroup —
    is the unit of work. Emits every input column except the two
    vectors, plus ``cosine``.

    Numerics match the expression form: ``_np_round_half_up`` is the
    NumPy restatement of ``F.round``'s HALF_UP, and both paths take the
    plain sequential-equivalent float64 dot (equivalence pinned across
    the gate in tests/test_streaming_semantic_planted.py). Zero-norm
    vectors fail loudly (the library contract).

    Scale shape: a narrow ``mapInPandas`` over the joined pair frame —
    no shuffle beyond the joins that built it; Python cost is one
    vectorized pass per Arrow batch instead of an interpreted HOF fold
    per row, which is what makes corpus-sized micro-batches affordable."""
    if "cosine" in pairs.columns:
        raise ValueError(
            "cosine_score_pair_frame emits its result as 'cosine' — the "
            "input pair frame already has that column; rename it first"
        )
    keep_fields = [f for f in pairs.schema.fields if f.name not in (q_col, m_col)]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in keep_fields]
        + ["cosine double"]
    )
    keep_names = [f.name for f in keep_fields]

    def score(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            Q = Vectors(pdf[q_col].to_numpy(), "pair-frame query side")
            M = Vectors(pdf[m_col].to_numpy(), "pair-frame member side")
            cos = _np_round_half_up(
                np.einsum("ij,ij->i", Q.x, M.x) / (Q.norms * M.norms),
                round_decimals,
            )
            out = pdf[keep_names].copy()
            out["cosine"] = cos
            yield out

    return pairs.mapInPandas(score, out_schema)


def make_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Seeded random hyperplanes (driver-side, tiny). Exposed so an LSH
    index spec can be PERSISTED as explicit coefficients and reloaded in a
    later session without depending on RNG reproducibility across Python
    versions (similarity/persist.py)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "e",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: sign-pattern bucket id per vector.

    Planes are generated driver-side from a seeded RNG (deterministic, tiny)
    — or passed explicitly from a persisted index spec — and folded into one
    native expression: the executors see only literal coefficients, so
    bucketing is a narrow map (no shuffle, no Python). Vectors sharing a
    bucket are near-duplicates candidates; join on ``bucket`` for the
    candidate pairs.
    """
    if planes is None:
        planes = make_planes(dim, n_planes, seed)
    # the SQL-string form below interpolates vec_col verbatim: accept
    # exactly the (possibly dotted) identifier paths the previous
    # F.col(vec_col) resolved, and fail LOUDLY on anything the parser
    # would mangle (spaces, operators, backticks)
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*", vec_col):
        raise ValueError(
            f"vec_col {vec_col!r} is not a plain (dotted) identifier; "
            "rename the column before bucketing"
        )
    if not planes:
        # degenerate single-bucket LSH: the retired fold started from
        # lit(0) and added nothing
        return df.select(
            F.col(id_col), F.col(vec_col), F.lit(0).cast("long").alias("bucket")
        )
    # r15b: the whole sign-pattern bucket as ONE parsed SQL string — the
    # Column form cost ~n_planes·dim py4j round-trips per call (measured
    # 3.6-6 s of DRIVER build time per q_ann_lsh pass at 4 tables ×
    # 8 planes × dim 64, vs 0.5 s of execution; same build-chatter fix
    # as the minhash/simhash signatures). Bit-identical: repr() is the
    # shortest decimal that round-trips each IEEE double and Spark's
    # parser converts it correctly-rounded, the 'D' suffix types it
    # DOUBLE exactly like F.lit(float), the fold is the same 3-arg
    # aggregate over the same zip_with, and the original's `proj >= 0`
    # int comparand was cast to 0.0D anyway.
    # backtick-quote each dotted segment (r16, ADVICE r15): reserved-word
    # column names ('order', 'select') pass the identifier gate but fail
    # bare-interpolated parsing where the old F.col resolved them
    vec_sql = ".".join(f"`{seg}`" for seg in vec_col.split("."))
    terms = []
    for p, plane in enumerate(planes):
        # float(c) (r16, ADVICE r15): numpy scalars repr as
        # 'np.float64(...)' under numpy>=2 and would fail parsing where
        # the old F.lit accepted them
        arr = ", ".join(f"{float(c)!r}D" for c in plane)
        proj = (
            f"aggregate(zip_with({vec_sql}, array({arr}),"
            f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"if({proj} >= 0.0D, {1 << p}L, 0L)")
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(" + ".join(terms)).cast("long").alias("bucket"),
    )


def lsh_cosine_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "e",
    seed: int = 7,
    n_tables: int = 1,
) -> DataFrame:
    """ANN pairs: bucket with random hyperplanes, join within bucket, verify
    with exact (double) cosine.

    ``n_tables`` > 1 is the OR-construction (multi-probe): independent
    seeded plane sets, each an (table, bucket) partition of the corpus; a
    pair is a candidate if it collides in ANY table — the same band
    structure ``dedup/minhash.py`` uses for Jaccard. Recall after L tables
    with p = 1 − θ/π per plane is 1 − (1 − p^k)^L, so 4×8-plane tables
    recover most of what a single 8-plane table misses, while the per-table
    bucket join keeps candidate generation bucketed (never all-pairs) and
    dense buckets stay split k-bits fine. Pair dedup happens BEFORE the
    exact-cosine verify so each candidate is scored once."""
    tables = []
    for t in range(n_tables):
        b = hyperplane_lsh_buckets(
            df, dim, n_planes, seed + 7919 * t, id_col, vec_col
        )
        tables.append(b.withColumn("tbl", F.lit(t)))
    allb = tables[0]
    for b in tables[1:]:
        allb = allb.unionByName(b)
    # r15: materialize the multi-table bucket index once — the self-join
    # otherwise re-buckets the corpus on BOTH sides (2 × n_tables scans);
    # this is the same table a persisted-spec search job rebuilds once
    # per release. Fresh per invocation (localCheckpoint never caches).
    allb = _truncate_lineage(allb)
    left = allb.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), "tbl", "bucket"
    )
    right = allb.select(
        F.col(id_col).alias("mid"), F.col(vec_col).alias("me"), "tbl", "bucket"
    )
    cand = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("qid") < F.col("mid"))
        .dropDuplicates(["qid", "mid"])  # collapse multi-table collisions
    )
    qn, mn = _norm(F.col("qe")), _norm(F.col("me"))
    cos = F.round(_dot(F.col("qe"), F.col("me")) / (qn * mn), 6)
    return (
        cand.select("qid", "mid", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "e",
    seed: int = 7,
    round_decimals: int = 6,
    planes_tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k search: queries and corpus are bucketed by the SAME
    multi-table hyperplane LSH (OR-construction); a query only scores
    corpus vectors sharing a bucket in ≥1 table, then an exact-cosine
    window takes the top-k of the probed set.

    This is the query-time shape of the multi-probe index: per table the
    probe is a bucket-equi-join (shuffle on (tbl, bucket), AQE-skew-safe),
    candidates dedup on (qid, mid) before scoring, and the final window
    partitions by query. Corpus vectors never cross-join queries. Ranks are
    relative to the PROBED set — recall vs the exact top-k is the measured
    trade (tests/test_operators.py pins it ≥0.8 with 4 tables on clustered
    data).

    ``planes_tables`` (one plane list per table) overrides seed-derived
    planes — the persisted-index path (similarity/persist.py): search must
    bucket with the EXACT planes the index was built with, not planes
    re-derived from a seed by a possibly-different RNG."""
    if planes_tables is None:
        planes_tables = [
            make_planes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)
        ]
    q_b, c_b = [], []
    for t, planes in enumerate(planes_tables):
        qb = hyperplane_lsh_buckets(
            queries, dim, n_planes, seed, id_col, vec_col, planes=planes
        ).withColumn("tbl", F.lit(t))
        cb = hyperplane_lsh_buckets(
            corpus, dim, n_planes, seed, id_col, vec_col, planes=planes
        ).withColumn("tbl", F.lit(t))
        q_b.append(qb)
        c_b.append(cb)
    qall, call = q_b[0], c_b[0]
    for b in q_b[1:]:
        qall = qall.unionByName(b)
    for b in c_b[1:]:
        call = call.unionByName(b)
    # r15: materialize the corpus-side multi-table bucket index once per
    # run — downstream consumption would otherwise re-bucket the corpus
    # per consumer (the lsh_cosine_pairs fix; the query side is a bounded
    # probe block and stays lazy)
    call = _truncate_lineage(call)
    left = qall.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), "tbl", "bucket"
    )
    right = call.select(
        F.col(id_col).alias("mid"), F.col(vec_col).alias("me"), "tbl", "bucket"
    )
    cand = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("qid") != F.col("mid"))
        .dropDuplicates(["qid", "mid"])
    )
    qn, mn = _norm(F.col("qe")), _norm(F.col("me"))
    cos = F.round(
        _dot(F.col("qe"), F.col("me")) / (qn * mn), round_decimals
    )
    scored = cand.select("qid", "mid", cos.alias("cosine"))
    return _rank_topk(scored, "cosine", k, descending=True)
