"""The benchmark's workloads.

A workload registers its inputs on a session, then runs passes. A pass
issues the workload's operations one after another (a closed loop with
one client thread); each operation has a build phase (the Python call
that returns a DataFrame, running any eager jobs the engine needs) and an
execute phase (the action that materializes it).

- ``survey_pipeline``: the paper's program, ``stats.pipeline.run_pipeline``
  on the golden-test synthetic surveys, ending in the collected SQL report.
- ``queries``: relational queries (scan, shuffle, join, window) on the
  sf0.1 tables, plus the curation queries whose build runs the iterative
  trainers and index fits (BPE, unigram LM, MinHash LSH, IVF) on the
  sf0.01 tables; each is written to the noop sink.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# relational queries of bench.py's headline set with the most executor
# work (the others are left out to keep a run short); they run on the
# sf0.1 tables
RELATIONAL = ["q_report_final", "q_bind_via_join", "q_asof_join", "q_window_tumbling"]
# curation queries that train or fit while the DataFrame is built (BPE
# merges, unigram-LM EM, MinHash LSH, the IVF quantizer); their cost is
# mostly a fixed number of small Spark jobs, nearly the same at sf0.01 as
# at sf0.1, so they run on the sf0.01 tables to keep a run short
CURATION = ["q_dedup_minhash", "q_ann_ivf", "q_bpe_train", "q_unigram_train"]
# tables each half reads; registering them is part of set-up
RELATIONAL_TABLES = ("nation", "customer", "orders", "lineitem", "events", "part",
                     "supplier", "region")
CURATION_TABLES = ("documents", "embeddings")


@dataclass
class Outcome:
    rows: int
    schema: str
    problems: list[str]


class QueriesWorkload:
    name = "queries"
    pass_estimate_s = 40.0  # a cold pass; sizes the number of passes to --seconds

    def __init__(self, data_dir: str, small_dir: str):
        """``data_dir`` holds the sf0.1 tables, ``small_dir`` the sf0.01
        tables (the curation queries' input and the oracle checks')."""
        self.data_dir = data_dir
        self.small_dir = small_dir
        self.ops = RELATIONAL + CURATION

    def input_dir(self, op: str) -> str:
        return self.small_dir if op in CURATION else self.data_dir

    def register(self, spark, seed: int) -> None:
        from data_integration_spark.sources.catalog import Catalog

        for d, tables in (
            (self.data_dir, RELATIONAL_TABLES), (self.small_dir, CURATION_TABLES)
        ):
            cat = Catalog(spark, d)
            for t in tables:
                cat[t].schema  # noqa: B018 — resolves the scan once per session

    def order(self, seed: int, pass_no: int) -> list[str]:
        ops = list(self.ops)
        random.Random(seed * 1000 + pass_no).shuffle(ops)
        return ops

    def build(self, spark, op: str):
        from data_integration_spark.queries import QUERIES

        return QUERIES[op](spark, self.input_dir(op))

    def execute(self, spark, op: str, df) -> Outcome:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"rows_{op}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        return Outcome(int(obs.get["rows"]), df.schema.simpleString(), [])

    def final_checks(self, spark, outcomes: dict[str, list[Outcome]]) -> dict[str, list[str]]:
        """Compare every oracle-backed operation against DuckDB on the
        sf0.01 tables, and require each operation's row count and schema
        to be the same in every pass."""
        from oracle_harness import compare, duck_connection

        from data_integration_spark.queries import ORACLES, QUERIES

        problems: dict[str, list[str]] = {}
        con = duck_connection(self.small_dir)
        for op in self.ops:
            errs = []
            seen = {(o.rows, o.schema) for o in outcomes.get(op, ())}
            if len(seen) > 1:
                errs.append(f"{op}: rows/schema differ between passes: {sorted(seen)}")
            if op in ORACLES:
                errs += compare(QUERIES[op](spark, self.small_dir), con, ORACLES[op], op)
            if errs:
                problems[op] = errs
        con.close()
        return problems


class SurveyWorkload:
    """The paper's program on the golden-test surveys (``make_fixtures``'
    seed 42, FIXTURES.md sizes) with the golden-test estimator seeds.
    ``--seed`` permutes the rows of the three input tables. Fixtures and
    estimator seeds stay fixed because the work depends on them: the
    GLM's IRLS iterations, the per-area Laplace solves and the Newton
    steps inside each EM iteration made the pass time vary by 20-60%
    between seeds. EM runs a fixed number of iterations (tol=0) for the
    same reason; the other estimator settings are those of the
    registered q_survey_pipeline query."""

    name = "survey_pipeline"
    ops = ["pipeline"]
    pass_estimate_s = 20.0  # a cold pass; sizes the number of passes to --seconds
    fixture_seed = 42
    em_iters = 4
    bootstrap_em_iters = 3
    ebp_draws = 100
    bootstrap_reps = 1

    def register(self, spark, seed: int) -> None:
        from data_integration_spark.stats.fixtures import make_fixtures

        self.fx = make_fixtures(self.fixture_seed)
        self.frames = {}
        for k in ("survey_small", "survey_big", "actual_result"):
            rows = self.fx[k].sample(frac=1.0, random_state=seed % 2**32)
            df = spark.createDataFrame(rows).cache()
            df.count()
            self.frames[k] = df

    def order(self, seed: int, pass_no: int) -> list[str]:
        return self.ops

    def build(self, spark, op: str):
        from data_integration_spark.stats.em import EMEstimator
        from data_integration_spark.stats.pipeline import run_pipeline

        f = self.frames
        return run_pipeline(
            spark,
            f["survey_small"],
            f["survey_big"],
            f["actual_result"],
            em=EMEstimator(n_reps=200, tol=0.0, max_iter=self.em_iters, seed=42),
            ebp_draws=self.ebp_draws,
            bootstrap_reps=self.bootstrap_reps,
            bootstrap_em=EMEstimator(
                n_reps=80, tol=0.0, max_iter=self.bootstrap_em_iters, seed=43
            ),
        )

    def execute(self, spark, op: str, res) -> Outcome:
        rows = res.report.collect()
        return Outcome(len(rows), res.report.schema.simpleString(), self._check(res, rows))

    def _check(self, res, rows) -> list[str]:
        """The invariants of the golden pipeline test: one report row per
        area, a null direct estimate exactly for the areas missing from
        the small survey, an EBP estimate in [0, 100] and an SE for every
        area, and EBP better than direct on RASD and AAD."""
        errs = []
        absent = set(self.fx["truth"]["absent_states"])
        if len(rows) != 51:
            errs.append(f"report has {len(rows)} rows, want 51")
        for r in rows:
            if (r.direct_est is None) != (r.state in absent):
                errs.append(f"{r.state}: direct_est={r.direct_est} absent={r.state in absent}")
            if r.EBP_est is None or not 0.0 <= r.EBP_est <= 100.0:
                errs.append(f"{r.state}: EBP_est={r.EBP_est}")
            if r.EBP_SE is None or not r.EBP_SE >= 0.0:
                errs.append(f"{r.state}: EBP_SE={r.EBP_SE}")
        err = res.errors.set_index("estimator")
        self.last_errors = {
            f"{est}_{m}": float(err.loc[est, m])
            for est in ("EM_est", "direct") for m in ("rasd", "aad")
        }
        for metric in ("rasd", "aad"):
            if not err.loc["EM_est", metric] < err.loc["direct", metric]:
                errs.append(
                    f"EBP not better than direct on {metric}: "
                    f"{err.loc['EM_est', metric]} vs {err.loc['direct', metric]}"
                )
        return errs

    def final_checks(self, spark, outcomes) -> dict[str, list[str]]:
        return {}
