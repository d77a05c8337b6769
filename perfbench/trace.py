"""Traced runs: timing wrappers around the engine's public layer
functions, and the per-layer report built from spans and the Spark event
log.

Wrappers are installed at the name each caller looks up (see
``measure.install_wrapper``); the engine's code is not modified.
"""

from __future__ import annotations

import glob
import json
import os
from statistics import median

from perfbench.eventlog import Counters, covered_ms, first_in, parse
from perfbench.measure import SpanRecorder, self_times

# (module, attribute, span name); dotted attributes are methods
WRAPPED = [
    ("data_integration_spark.stats.glmm", "FixedEffectsGLM.fit", "stats.glm_fit"),
    ("data_integration_spark.stats.em", "EMEstimator.fit", "stats.em_fit"),
    ("data_integration_spark.stats.ebp", "ebp_estimates", "stats.ebp"),
    ("data_integration_spark.stats.ebp", "direct_estimates", "stats.ebp"),
    ("data_integration_spark.stats.ebp", "comparison_table", "stats.ebp"),
    ("data_integration_spark.stats.ebp", "error_summary", "stats.ebp"),
    ("data_integration_spark.stats.bootstrap", "parametric_bootstrap", "stats.bootstrap"),
    ("data_integration_spark.stats.bootstrap", "mspe_table", "stats.report"),
    ("data_integration_spark.stats.ebp", "final_report", "stats.report"),
    ("data_integration_spark.operators.bpe", "train_bpe", "operators.bpe_train"),
    ("data_integration_spark.operators.unigram_lm", "em_train", "operators.unigram_em"),
    ("data_integration_spark.dedup.minhash", "minhash_lsh_pairs", "dedup.minhash"),
    ("data_integration_spark.similarity.ivf", "IVFIndex.fit", "similarity.ivf"),
    ("data_integration_spark.similarity.ivf", "IVFIndex.search", "similarity.ivf"),
    ("data_integration_spark.similarity.ivf", "IVFIndex.search_all", "similarity.ivf"),
    ("data_integration_spark.similarity.ivf", "IVFIndex.near_pairs", "similarity.ivf"),
]


def _em_iters(result) -> dict:
    return {"iters": getattr(result, "n_iter", 0)}


def install(recorder: SpanRecorder) -> None:
    import importlib

    from perfbench.measure import install_wrapper

    for module, attr, span in WRAPPED:
        importlib.import_module(module)
        on_result = _em_iters if span == "stats.em_fit" else None
        install_wrapper(
            module, attr, lambda fn, s=span, r=on_result: recorder.wrap(s, fn, r)
        )


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_id(workload: str, op: str, pass_no: int, phase: str) -> str:
    return f"{workload}|{op}|{pass_no}|{phase}"


def _ancestors(spans, i):
    p = spans[i].parent
    while p is not None:
        yield spans[p]
        p = spans[p].parent


def layer_report(
    spans, log_path: str, workload: str, passes: list[int], cores: int,
    setup: dict[str, float],
) -> dict[str, float]:
    """Per-layer metrics of each of ``passes``; returns their medians."""
    log = parse(log_path)
    selfs = self_times(spans)
    job_times = [
        (a, b) for c in log.groups.values() for a, b in c.job_spans_ms if a is not None
    ]

    def jobs_in(span) -> int:
        lo, hi = span.start * 1000, span.end * 1000
        return sum(1 for a, _ in job_times if lo <= a <= hi)

    per_pass = []
    for p in passes:
        def in_pass(g, p=p):
            parts = g.split("|")
            return len(parts) == 4 and parts[0] == workload and parts[2] == str(p)

        total = log.total(in_pass)
        build = log.total(lambda g: in_pass(g) and g.endswith("|build"))
        execute = log.total(lambda g: in_pass(g) and g.endswith("|exec"))
        idx = [i for i, s in enumerate(spans) if s.attrs.get("pass") == p]
        pass_spans = [spans[i] for i in idx]

        def phase_s(name):
            return sum(s.duration for s in pass_spans if s.name == name)

        def layer(name):
            """Spans of ``name`` in this pass that are not nested in another."""
            return [
                i for i in idx
                if spans[i].name == name
                and not any(a.name == name for a in _ancestors(spans, i))
            ]

        build_s = phase_s("phase.build")
        # Catalyst's share of the action: from the start of the exec phase
        # to the first SQL execution it starts, which Spark posts once the
        # physical plan is made
        plan_s = 0.0
        for s in pass_spans:
            if s.name == "phase.exec":
                first = first_in(log.sql_starts_ms, s.start * 1000, s.end * 1000)
                if first is not None:
                    plan_s += (first - s.start * 1000) / 1000
        exec_s = phase_s("phase.exec") - plan_s
        build_cover = sum(
            covered_ms(build.job_spans_ms, s.start * 1000, s.end * 1000)
            for s in pass_spans if s.name == "phase.build"
        ) / 1000
        em_main = [
            i for i in layer("stats.em_fit")
            if not any(a.name == "stats.bootstrap" for a in _ancestors(spans, i))
        ]
        em_boot = [
            i for i in layer("stats.em_fit")
            if any(a.name == "stats.bootstrap" for a in _ancestors(spans, i))
        ]

        def dur(ids):
            return sum(spans[i].duration for i in ids)

        m = {
            "queries.build_s": build_s,
            "queries.build_jobs": build.jobs,
            "queries.build_self_s": build_s - build_cover,
            "spark.plan_s": plan_s,
            "spark.exec_s": exec_s,
            **_spark_metrics(total, execute, exec_s, cores),
            "stats.glm_fit_s": dur(layer("stats.glm_fit")),
            "stats.em_fit_s": dur(em_main),
            "stats.em_iters": sum(spans[i].attrs.get("iters", 0) for i in em_main),
            "stats.em_jobs": sum(jobs_in(spans[i]) for i in em_main),
            "stats.ebp_s": dur(layer("stats.ebp")),
            "stats.bootstrap_s": dur(layer("stats.bootstrap")),
            "stats.bootstrap_em_iters": sum(spans[i].attrs.get("iters", 0) for i in em_boot),
            "stats.report_s": dur(layer("stats.report")) + (
                phase_s("phase.exec") if workload == "survey_pipeline" else 0.0
            ),
            "operators.bpe_train_s": dur(layer("operators.bpe_train")),
            "operators.bpe_jobs": sum(jobs_in(spans[i]) for i in layer("operators.bpe_train")),
            "operators.unigram_em_s": dur(layer("operators.unigram_em")),
            "operators.unigram_jobs": sum(
                jobs_in(spans[i]) for i in layer("operators.unigram_em")
            ),
            "dedup.minhash_s": dur(layer("dedup.minhash")),
            "similarity.ivf_s": dur(layer("similarity.ivf")),
            "pass.self_s": sum(selfs[i] for i in idx if spans[i].name == "pass"),
        }
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update(setup)
    return out


def _spark_metrics(total: Counters, execute: Counters, exec_s: float, cores: int) -> dict:
    return {
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.task_run_s": total.task_run_ms / 1000,
        "spark.task_cpu_s": total.task_cpu_ns / 1e9,
        "spark.gc_s": total.gc_ms / 1000,
        "spark.slot_util": (execute.task_run_ms / 1000) / (exec_s * cores) if exec_s else 0.0,
        "spark.exchanges": total.exchanges,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.shuffle_read_records": total.shuffle_read_records,
        "spark.spill_bytes": total.spill_bytes,
        "spark.result_bytes": total.result_bytes,
        "sources.input_rows": total.input_rows,
        "sources.input_bytes": total.input_bytes,
        "arrow.rows_received": total.arrow_rows_received,
        "arrow.bytes_sent": total.arrow_bytes_sent,
        "arrow.bytes_received": total.arrow_bytes_received,
    }


def find_log(log_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
             if not p.endswith(".inprogress")]
    if not paths:
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return paths[0]


def write_spans(recorder: SpanRecorder, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    selfs = self_times(recorder.spans)
    with open(path, "w") as fh:
        json.dump(
            [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "run_id": s.run_id, "self_s": st, **s.attrs}
                for s, st in zip(recorder.spans, selfs)
            ],
            fh,
        )
