"""The registry walk: build each registered query once, lint its
physical plans, and check it against its DuckDB oracle (row count, schema
and order-insensitive values) on the same DataFrame.

The battery reads one walk through the ``registry_walk`` fixture
(tests/conftest.py). Standalone, it prints oracle parity per query:
    python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the testdata tables. DuckDB shares this process
    with the Spark driver's collects, so it gets a quarter of physical
    memory (its default is 80%, which the sf0.1 sweep outgrew) and the
    cores Spark is told to use."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    threads = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    con = duckdb.connect(
        config={"memory_limit": f"{ram // 4 // 2**20}MB", "threads": int(threads)}
    )
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata is a flat file per table; locally generated
        # rehearsal data (tools/gen_scaled_testdata.py) is a Spark output
        # DIRECTORY of part files — support both so oracle parity can be
        # checked at rehearsal scale too
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and representation noise below round-trip level
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _row_multiset(rows, col_order):
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in col_order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


_DUCK_TO_SPARK_TYPE = {
    "INTEGER": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
    "HUGEINT": "decimal(38,0)",
}


def _duck_schema(con, sql: str) -> dict[str, str]:
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    out = {}
    for r in rows:
        t = r[1].upper()
        if t.endswith("[]"):  # list type → spark array<...>
            inner = _DUCK_TO_SPARK_TYPE.get(t[:-2], t[:-2].lower())
            out[r[0].lower()] = f"array<{inner}>"
        else:
            out[r[0].lower()] = _DUCK_TO_SPARK_TYPE.get(t, t.lower())
    return out


def compare(spark_df, con, sql: str, name: str) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    errors: list[str] = []
    s_cols = [c.lower() for c in spark_df.columns]
    s_types = {c.lower(): t for c, t in spark_df.dtypes}
    s_rows = [tuple(r) for r in spark_df.collect()]
    d = con.execute(sql)
    d_cols = [c[0].lower() for c in d.description]
    d_rows = d.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        errors.append(f"{name}: column mismatch spark={s_cols} duck={d_cols}")
        return errors
    # declared-type parity (the driver checks schema, not just values)
    d_types = _duck_schema(con, sql)
    for c in s_cols:
        if s_types[c] != d_types.get(c):
            errors.append(
                f"{name}: type mismatch on '{c}': spark={s_types[c]} "
                f"duck={d_types.get(c)}"
            )
    if errors:
        return errors
    if len(s_rows) != len(d_rows):
        errors.append(f"{name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
        return errors

    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [d_cols.index(c) for c in sorted(d_cols)]
    sm = _row_multiset(s_rows, s_order)
    dm = _row_multiset(d_rows, d_order)
    if sm != dm:
        n_bad = sum(1 for a, b in zip(sm, dm) if a != b)
        for a, b in list(zip(sm, dm))[:2000]:
            if a != b:
                errors.append(f"{name}: first diff spark={a} duck={b} ({n_bad} rows differ)")
                break
        else:
            errors.append(f"{name}: multiset mismatch (structural)")
    return errors


#: Queries allowed to plan a BroadcastNestedLoopJoin, each mapped to the
#: number of its plans (the final plan plus its checkpointed subtrees)
#: that may carry one. Each has a bounded build side by construction
#: (1-row scalar aggregates, a 4-row static bucket table, an explicit
#: doc_id<15 pair bound, bounded probe blocks). A BNLJ anywhere else, or
#: in more plans than counted, or any CartesianProduct, is an all-pairs
#: scale bug.
_BNLJ_ALLOWED = {
    "q_hard_negatives": 1,  # bounded query block × corpus (vectorized ANN shape)
    "q_bm25": 1,  # 1-row avgdl scalar cross
    "q_ks_test": 1,  # 1-row (n_a, n_b) totals aggregate cross
    "q_levenshtein": 1,  # all-pairs on an explicit doc_id<15 bound
    "q_range_join": 1,  # 4-row static interval table
    "q_tpch_q11": 1,  # 1-row threshold aggregate cross
    "q_tpch_q20": 1,  # 1-row half-avg aggregate cross
    "q_tpch_q22": 1,  # 1-row avg-acctbal scalar cross
    "q_anova": 1,  # 1-row grand-mean/SSB/SSW scalar crosses
    "q_triangle_count": 1,  # 1-row census × 1-row triangle-count cross
    "q_ann_recall_certificate": 1,  # 1-row truth-agg × 1-row hit-agg cross
    "q_gini": 1,  # 1-row (n, total) scalar cross onto the rank frame
    "q_association_rules": 1,  # 1-row order-count scalar cross
    "q_dau_wau": 1,  # 1-row max-day bounds scalar cross
    "q_welch_ttest": 1,  # 1-row-per-group scalar cross (n/mean/var algebra)
    "q_target_encoding": 1,  # 1-row global-prior scalar cross
    "q_zorder_pruning": 1,  # 1-row files-touched scalar crosses
    "q_ndcg": 1,  # 1-row DCG x ideal-curve x grade-count crosses
    "q_deletion_cascade": 1,  # 1-row cascade-count scalar crosses
    # bounded 20-query block x corpus scoring (the guarded cosine_topk
    # brute path x2)
    "q_mrl_truncation_recall": 1,
    "q_quality_nb_filter": 1,  # 1-row vocab-totals + 1-row prior scalar crosses
    # bounded 200-vector slice brute cosine pair stage (qid != mid
    # broadcast) feeding components; it plans inside the checkpointed
    # edge list's subtree, not in the final plan
    "q_semantic_dedup_clusters": 1,
    "q_survey_covmat": 1,  # |domains|² matrix assembly + 1-row n cross
    # inherits the NB filter's two scalar crosses + a 7-row literal
    # threshold-grid cross (the sweep frame is bounded by construction)
    "q_quality_calibration": 1,
}


#: Not linted. Each returns a re-read of the sink that a full file-replay
#: streaming job wrote while the query was built, so its plan says
#: nothing about the streaming plan; their plan and runtime behavior is
#: covered by the streaming tests and their batch siblings.
_PLAN_LINT_EXCLUDED = {
    "q_streaming_tumbling",
    "q_session_window",
    "q_sliding_window",
    "q_streaming_dedup",
    "q_stream_stream_join",
    "q_stream_static_join",
    "q_stateful_stream",
    "q_streaming_upsert",
    "q_transform_with_state",
    "q_streaming_minhash_dedup",
    "q_streaming_index_append",
    "q_streaming_pq_encode",
    "q_streaming_late_drop",
}


#: Queries whose UNPARTITIONED windows run over frames that are bounded
#: by the DOMAIN of a post-aggregation group key — provably small at any
#: corpus scale, but not detectable by `unbounded_global_windows`'s
#: automatic rule (which only proves boundedness from an explicit
#: limit-shaped operator below the window). Each entry documents the
#: bounding argument; anything NOT listed here that
#: windows an unaggregated or corpus-keyed frame without partitionBy
#: fails the registry plan lint.
_GLOBAL_WINDOW_BOUNDED = {
    # total-sum window over the 9-row leading-digit aggregate
    "q_benford",
    # row_number over the per-DAY event aggregate (calendar-granularity)
    "q_changepoint",
    # margin/total windows over the |event_type|×7 contingency cells
    "q_chi_square",
    # at-risk prefix window over DISTINCT event durations (the KM grid)
    "q_kaplan_meier",
    # lag window over the per-MONTH revenue aggregate
    "q_mom_growth",
    # centered moving average over the per-DAY revenue aggregate
    "q_seasonal_decompose",
    # total-sum window over the |sources|-row token-count aggregate
    "q_temperature_mix",
}


def lint_plans(name: str, df, subtrees) -> dict[str, list[str]]:
    """Both registry plan lints over the final plan of query ``name`` AND
    every checkpointed subtree's pre-truncation plan (a lineage cut hides
    its input from the final plan):

    - all-pairs join: a CartesianProduct anywhere, or a
      BroadcastNestedLoopJoin in more plans than ``_BNLJ_ALLOWED`` counts,
      is an all-pairs scale bug waiting for 100×;
    - unbounded global window: an unpartitioned window over a frame that
      is neither post-limit (TakeOrderedAndProject / GlobalLimit below
      it) nor domain-bounded (``_GLOBAL_WINDOW_BOUNDED``) is a single-task
      funnel at 100 TB; the first such window is reported."""
    from data_integration_spark.plans.explain import (
        formatted_plan,
        unbounded_global_windows,
    )

    pairs, bnlj, windows = [], [], []
    labelled = [(name, df)]
    labelled += [(f"{name} [subtree {i}]", sub) for i, sub in enumerate(subtrees)]
    for label, plan_df in labelled:
        plan = formatted_plan(plan_df)
        if "CartesianProduct" in plan:
            pairs.append(f"{label}: CartesianProduct")
        elif "BroadcastNestedLoopJoin" in plan:
            bnlj.append(label)
        if name not in _GLOBAL_WINDOW_BOUNDED:
            windows += [f"{label}: {h[:120]}" for h in unbounded_global_windows(plan_df)]
    allowed = _BNLJ_ALLOWED.get(name, 0)
    if len(bnlj) > allowed:
        pairs.append(
            f"{name}: BroadcastNestedLoopJoin in {len(bnlj)} plans, "
            f"{allowed} allowlisted: {bnlj}"
        )
    return {"all-pairs join": pairs, "unbounded global window": windows[:1]}


def walk(spark, sf_dir: str, queries, con):
    """Build each ``(name, fn)`` of ``queries`` once under
    ``capture_truncated_subtrees()``, run ``lint_plans`` on it unless it is
    in ``_PLAN_LINT_EXCLUDED``, then ``compare`` the same DataFrame with
    its oracle on ``con`` (a query without one, or every query when ``con``
    is None, must count its rows and have columns).

    Returns three maps: the oracle mismatches per query, the lint
    failures per lint, and the queries whose builder or lints raised.
    Such a query also fails its oracle check, and an un-lintable plan
    must be a visible, deliberate decision, so the lint tests fail on it
    by name too. Only strings are kept: each query's DataFrames are
    dropped before the next query is built, so Spark can free their
    checkpoint blocks as the walk goes."""
    from data_integration_spark.dedup.components import capture_truncated_subtrees
    from data_integration_spark.queries import ORACLES

    oracle: dict[str, list[str]] = {}
    lints: dict[str, list[str]] = {"all-pairs join": [], "unbounded global window": []}
    errored: dict[str, str] = {}
    for name, fn in queries:
        try:
            with capture_truncated_subtrees() as subtrees:
                df = fn(spark, sf_dir)
            if name not in _PLAN_LINT_EXCLUDED:
                for lint, hits in lint_plans(name, df, subtrees).items():
                    lints[lint] += hits
        except Exception as exc:  # noqa: BLE001 — reported by name, not swallowed
            errored[name] = f"{type(exc).__name__}: {exc}"[:200]
            oracle[name] = [f"{name}: EXCEPTION {type(exc).__name__}: {exc}"]
            continue
        try:
            if con is not None and name in ORACLES:
                oracle[name] = compare(df, con, ORACLES[name], name)
            else:
                oracle[name] = [] if df.count() >= 0 else [f"{name}: count failed"]
                oracle[name] += [] if len(df.columns) > 0 else [f"{name}: no cols"]
        except Exception as exc:  # noqa: BLE001
            oracle[name] = [f"{name}: EXCEPTION {type(exc).__name__}: {exc}"]
        df = subtrees = None
    return oracle, lints, errored


if __name__ == "__main__":
    from data_integration_spark.queries import QUERIES, load_all
    from data_integration_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    load_all()
    queries = [(name, QUERIES[name]) for name in sys.argv[2:] or sorted(QUERIES)]
    spark = get_spark(app_name="oracle_harness", shuffle_partitions=8)
    res = walk(spark, sf, queries, duck_connection(sf))[0]
    n_fail = 0
    for name in sorted(res):
        errs = res[name]
        status = "PASS" if not errs else "FAIL"
        if errs:
            n_fail += 1
        print(f"[{status}] {name}")
        for e in errs:
            print(f"    {e[:500]}")
    print(f"\n{len(res) - n_fail}/{len(res)} pass")
    sys.exit(1 if n_fail else 0)
