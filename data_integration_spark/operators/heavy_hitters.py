"""Misra-Gries mergeable heavy-hitters summary (Misra & Gries 1982;
mergeability per Agarwal, Cormode, Huang, Phillips, Wei, Yi,
"Mergeable Summaries", PODS 2012 §3.1).

The deterministic counterpart of count-min for the frequent-items
question a 100 TB token pipeline asks per shard ("which tokens dominate
this source?"): a summary of at most ``k`` counters such that for every
item x

    true(x) − n/(k+1)  ≤  est(x)  ≤  true(x)

(est(x) = 0 for items not in the summary), so every item with
true(x) > n/(k+1) is GUARANTEED present. Unlike count-min the estimate
never overcounts, needs no hash functions, and the summary is ≤ k
(token, count) rows — but the exact counter values depend on the
arrival/partition order, so cross-engine checks pin the THEOREM
(bounds + guaranteed presence), not the counter values (the
q_countmin_sketch md5 trick has no analogue here).

Scale shape: one ``mapInPandas`` pass emits each partition's ≤ k-counter
summary (bounded memory per task at ANY partition size), one driver
fold merges the ≤ partitions·k rows (the PODS-2012 merge: add counters,
subtract the (k+1)-th largest, drop non-positives — error stays
≤ n/(k+1) through ANY merge tree, which is exactly why per-shard
summaries can roll up a 1000-executor run without a second corpus
pass). No shuffle at all; the only collect is the bounded summary.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.sources.local import local_table


def _mg_stream(tokens, k: int) -> dict[str, int]:
    """Textbook Misra-Gries over an iterable of items: ≤ k counters."""
    counters: dict[str, int] = {}
    for tok in tokens:
        if tok in counters:
            counters[tok] += 1
        elif len(counters) < k:
            counters[tok] = 1
        else:
            # decrement-all step, amortized via batch subtraction of 1
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters


def mg_merge(a: dict[str, int], b: dict[str, int], k: int) -> dict[str, int]:
    """PODS-2012 merge of two MG summaries at the same ``k``: add
    counters; if more than ``k`` survive, subtract the (k+1)-th largest
    combined count from every counter and drop non-positives. The
    combined summary's error bound is the SUM of the inputs' bounds,
    i.e. (n_a + n_b)/(k+1) — associative, so any merge tree works."""
    merged = dict(a)
    for key, c in b.items():
        merged[key] = merged.get(key, 0) + c
    if len(merged) > k:
        d = heapq.nlargest(k + 1, merged.values())[-1]
        merged = {key: c - d for key, c in merged.items() if c - d > 0}
    return merged


def misra_gries_summary(
    tokens: DataFrame, k: int, tok_col: str = "tok"
) -> tuple[dict[str, int], int]:
    """Distributed MG: per-partition summaries via ``mapInPandas``
    (≤ k counters per task regardless of partition size), merged on the
    driver with ``mg_merge`` over the bounded ≤ partitions·k rows.
    Returns ``(summary, n)`` — the stream length rides the SAME pass as
    a per-partition tok-NULL row, so the caller's error threshold
    n/(k+1) costs no second corpus scan. Partition boundaries only MOVE
    estimates within the theorem's band; the guarantee (presence of
    every item above n/(k+1), and the two-sided bound) holds on any
    partitioning — pinned in tests/test_heavy_hitters.py."""
    import pandas as pd

    def partial(batches):
        counters: dict[str, int] = {}
        pid = None
        n_seen = 0
        for pdf in batches:
            # fold the whole partition through one counter set: Arrow
            # batches are sub-partition, so the task-level dict is the
            # partition's true MG summary
            if pid is None and len(pdf):
                pid = int(pdf["pid"].iloc[0])
            for tok in pdf[tok_col]:
                if tok is None:
                    continue
                n_seen += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = [key for key in counters if counters[key] == 1]
                    for key in counters:
                        counters[key] -= 1
                    for key in dead:
                        del counters[key]
        if n_seen:
            yield pd.DataFrame(
                {
                    "pid": [pid] * (len(counters) + 1),
                    tok_col: list(counters) + [None],
                    "c": list(counters.values()) + [n_seen],
                }
            )

    rows = (
        tokens.select(tok_col)
        .withColumn("pid", F.spark_partition_id())
        .mapInPandas(partial, f"pid int, {tok_col} string, c long")
        .collect()
    )  # bounded: ≤ k+1 rows per partition
    # regroup into the per-partition summaries and merge them AS UNITS —
    # the PODS-2012 bound composes over summaries of the original
    # partition streams, so boundaries must be respected
    by_pid: dict[int, dict[str, int]] = {}
    n = 0
    for r in rows:
        if r[tok_col] is None:
            n += int(r["c"])
            continue
        by_pid.setdefault(int(r["pid"]), {})[r[tok_col]] = int(r["c"])
    summary: dict[str, int] = {}
    for pid in sorted(by_pid):
        summary = mg_merge(summary, by_pid[pid], k)
    return summary, n


def mg_certificate_rows(
    spark,
    toks: DataFrame,
    summary: dict[str, int],
    n: int,
    k: int,
    tok_col: str = "tok",
    top: int = 15,
) -> DataFrame:
    """Shared audit/certificate builder for the batch AND streaming MG
    queries (they share one oracle, so they must share this code — a
    fix applied to one that missed the other would silently
    desynchronize the certificates): exact top-``top`` tokens by one
    map-side-combined groupBy, plus the theorem booleans — presence
    when above n/(k+1), the two-sided bound, and the summary-size cap."""
    thr = n / (k + 1)
    top_rows = (
        toks.groupBy(tok_col)
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col(tok_col))
        .limit(top)
        .collect()
    )  # bounded: `top` rows
    ok_k = int(len(summary) <= k)
    rows = []
    for r in top_rows:
        est = summary.get(r[tok_col], 0)
        exact = int(r["exact_count"])
        ok = int(
            (exact <= thr or est > 0)
            and est <= exact
            and est >= exact - thr
        )
        rows.append(
            {
                "token": r[tok_col],
                "exact_count": exact,
                "n_tokens": int(n),
                "guarantee_ok": ok,
                "summary_within_k": ok_k,
            }
        )
    return local_table(
        spark,
        rows,
        "token string, exact_count long, n_tokens long,"
        " guarantee_ok long, summary_within_k long",
    )
