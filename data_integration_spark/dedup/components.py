"""Connected components over near-duplicate pair edges — the clustering
step between pair generation (exact / MinHash / SimHash / cosine) and
canonical-document selection in a dedup pipeline.

Algorithm: iterative minimum-label propagation (the Pregel-style
"hash-to-min" style loop): every node starts labeled with itself; each
round a node adopts the minimum label among itself and its neighbors;
fixpoint = components labeled by their minimum member. Each round is ONE
shuffle (join edges→labels + min-aggregate); the driver only sees a
changed-row COUNT per round, never the data. Label lineage is truncated
with ``localCheckpoint`` so the plan doesn't deepen with iterations —
without it round i replays rounds 1..i−1.

Rounds needed = graph diameter (≤ log n for the small dense clusters dedup
produces; near-dup components are overwhelmingly tiny cliques, so 3-5
rounds is typical). ``max_iter`` bounds pathological chains.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: When a capture list is installed (see ``capture_truncated_subtrees``),
#: every ``_truncate_lineage`` call appends its PRE-truncation DataFrame
#: here. Checkpointed subtrees vanish from final query plans, so the
#: registry-wide plan lints (CartesianProduct / unbounded-window walkers)
#: would be blind inside them; the lints run inside this capture and
#: walk each subtree plan too.
_SUBTREE_CAPTURE: list[DataFrame] | None = None


@contextmanager
def capture_truncated_subtrees():
    """Collect the pre-truncation DataFrame of every lineage cut made
    while the context is active (lint/observability hook — does not
    change what ``_truncate_lineage`` returns or materializes)."""
    global _SUBTREE_CAPTURE
    prev, _SUBTREE_CAPTURE = _SUBTREE_CAPTURE, []
    try:
        yield _SUBTREE_CAPTURE
    finally:
        _SUBTREE_CAPTURE = prev


def _truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut the iterative plan's lineage. Prefers a RELIABLE ``checkpoint()``
    when the context has a checkpoint dir configured (cluster setting:
    ``localCheckpoint`` blocks are executor-local, so an executor loss
    mid-loop kills the job); falls back to ``localCheckpoint`` otherwise
    (local mode / tests, where there is no executor to lose).

    ``eager=False`` (r15 optimization, guide §1.2 "don't compute things
    you throw away") applies to the LOCAL branch only: a lazy
    localCheckpoint's RDD is persisted at first compute and read back
    like the eager form, so laziness only moves the materialization out
    of its own dedicated job and into the consumer's first action. Opt
    in ONLY where the next action's DAG references the checkpoint
    exactly once (the iterative trainers' per-round tables): there it
    deletes one scheduled job per checkpoint, and a checkpoint that is
    never consumed (train_bpe's final-rank table in q_bpe_train, which
    returns only the merge list) is never computed at all. Keep the
    eager default where several branches of ONE downstream job read the
    checkpoint (triangle/pagerank shapes): un-materialized, those
    branches' stages can compute the shared subtree CONCURRENTLY before
    the first partition lands in the block store — measured +18% on
    q_triangle_count when this was tried lazily. Values are unchanged
    either way: the subtrees are deterministic and a partition is
    persisted the first time it is computed.

    The RELIABLE branch is ALWAYS eager, regardless of the flag: a lazy
    ``checkpoint(eager=False)`` never persists the RDD and Spark's
    doCheckpoint stops at the first checkpoint-marked descendant
    (``spark.checkpoint.checkpointAllMarkedAncestors`` defaults false),
    so the checkpoint file is simply never written and every consumer
    silently recomputes the full lineage — verified empirically (r15
    review finding). The one-job saving is a local-mode win only."""
    if _SUBTREE_CAPTURE is not None:
        _SUBTREE_CAPTURE.append(df)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Label every node of the undirected edge set with its component's
    minimum node id. Returns (node, cluster). Isolated nodes (absent from
    ``edges``) are the caller's concern — a dedup pipeline left-joins the
    result back and coalesces to the node's own id.

    Convergence is verified: if the label fixpoint is not reached within
    ``max_iter`` rounds (graph diameter > max_iter — a pathological chain),
    ``strict=True`` raises rather than silently returning split clusters;
    ``strict=False`` downgrades to a warning (mirrors the EM estimator's
    converged-flag contract)."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # materialize the edge list ONCE (r15, guide §1.2): every round's job
    # joins against `sym`, and an un-materialized sym re-runs the whole
    # upstream pair-generation pipeline (banded LSH, IVF pruning, n-gram
    # Jaccard — whatever produced the edges) inside every round. The
    # checkpoint is |edges|-sized — the same near-dup-density magnitude a
    # single round already shuffles. Lazy: the labels-init job below is
    # its first (single-reference) consumer and materializes it (on the
    # reliable branch the helper forces eager — see its docstring).
    sym = _truncate_lineage(sym, eager=False)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = _truncate_lineage(nodes.withColumn("label", F.col("node")))
    converged = False
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        # lazy: the `changed` count below references new_labels ONCE and
        # materializes the checkpoint inside its own job — an eager
        # checkpoint here was a second scheduled job per round
        new_labels = _truncate_lineage(new_labels, eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the bound); labels would be "
            "split clusters. Raise max_iter."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("node", F.col("label").alias("cluster"))


def dedup_clusters(
    docs: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
    d1: str = "d1",
    d2: str = "d2",
) -> DataFrame:
    """Assign every document a duplicate-cluster id: connected components
    over the near-dup pairs; docs in no pair form singleton clusters
    (cluster = own id). The canonical representative of each cluster is its
    minimum doc id — ``filter(doc_id == cluster)`` keeps one doc per
    cluster, the standard keep-first dedup policy."""
    comp = connected_components(pair_df, src=d1, dst=d2)
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("cluster"), F.col("node")).alias("cluster"),
        )
    )
