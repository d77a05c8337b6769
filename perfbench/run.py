"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``perfbench/workloads.py`` from the root of a checkout:
sets up once (a cold start: imports, JVM launch, inputs), runs about
``--seconds`` seconds of passes over the workload's operations (the
first is cold; at least one), checks the outputs and prints one JSON
object as the last line of stdout. With ``--trace 1`` it records
timing spans and Spark's event log and reports per-layer metrics instead
of end-to-end ones. The input tables are the ones in ``perfbench/data/``;
Spark's scratch, warehouse and temp directories, event logs and traces
go to ``perfbench/.work/``. Nothing outside the checkout is read or
written.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")

# metrics of the result line: set-up time and CPU seconds per measured
# pass. The summary line above it adds error_rate (0 when all is well;
# result metrics must never be 0), query_p50_s and query_tail_s (queries
# workload only: the survey runs one operation a pass), and cold_pass_s,
# pass_s and peak_rss_mb, whose run-to-run spread on a VM with shared
# CPUs (host CPU steal; for peak_rss_mb the JVM's heap sizing) is wider
# than a usable bound, while cpu_s stays near 0.1.
END_TO_END = ["setup_s", "cpu_s"]
UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "cpu_s": "s",
         "peak_rss_mb": "MB"}
# per-layer metrics of the result line: every metric trace.layer_report
# computes except pass.self_s. Each is non-zero on at least one workload
# (stats.* on survey_pipeline; operators.*, dedup.*, similarity.*,
# arrow.* on queries).
PER_LAYER = {
    "session.start_s": "s", "queries.load_all_s": "s",
    "queries.build_s": "s", "queries.build_self_s": "s", "queries.build_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.slot_util": "ratio", "spark.exchanges": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_records": "count",
    "spark.spill_bytes": "bytes", "spark.result_bytes": "bytes",
    "sources.input_rows": "count", "sources.input_bytes": "bytes",
    "arrow.rows_received": "count", "arrow.bytes_sent": "bytes",
    "arrow.bytes_received": "bytes",
    "stats.glm_fit_s": "s", "stats.em_fit_s": "s", "stats.em_iters": "count",
    "stats.em_jobs": "count", "stats.ebp_s": "s", "stats.bootstrap_s": "s",
    "stats.bootstrap_em_iters": "count", "stats.report_s": "s",
    "operators.bpe_train_s": "s", "operators.bpe_jobs": "count",
    "operators.unigram_em_s": "s", "operators.unigram_jobs": "count",
    "dedup.minhash_s": "s", "similarity.ivf_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def machine_env() -> dict[str, str]:
    """Session sizing through the engine's environment variables: all
    usable cores, and a driver heap of a quarter of physical memory
    (between 1 and 8 GiB); scratch, warehouse and temp dirs in WORK, so a
    run writes nothing outside the checkout."""
    from perfbench.measure import physical_memory_bytes

    heap_mb = max(1024, min(8192, physical_memory_bytes() // 4 // 2**20))
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # HotSpot writes its perf-data file under /tmp whatever the
        # configured temp dir; every JVM launched here reads this variable
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM PySpark launched and wait for
    it: closing its stdin pipe is its signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str):
    from perfbench import workloads

    if name == workloads.SurveyWorkload.name:
        return workloads.SurveyWorkload()
    if name == workloads.QueriesWorkload.name:
        dirs = [os.path.join(DATA, "sf0.1"), os.path.join(DATA, "sf0.01")]
        for d in dirs:
            log(f"data {os.path.basename(d)}: {table_stats(d)}")
        return workloads.QueriesWorkload(*dirs)
    raise SystemExit(f"unknown workload {name!r}")


def table_stats(data_dir: str) -> str:
    import pyarrow.parquet as pq

    rows = size = 0
    for f in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, f)
        rows += pq.ParquetFile(path).metadata.num_rows
        size += os.path.getsize(path)
    return f"{rows} rows, {size} bytes"


def cold_start(wl, seed: int, extra_conf: dict[str, str]):
    """One set-up as a fresh process pays it: engine imports, the query
    registry, the session (the JVM launch) and the workload's inputs.
    Returns the session, the seconds taken and the set-up layer times."""
    t0 = time.perf_counter()
    from data_integration_spark.queries import load_all
    from data_integration_spark.session import get_spark

    t_imp = time.perf_counter()
    load_all()
    t_load = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t_sess = time.perf_counter()
    wl.register(spark, seed)
    layers = {"session.start_s": t_sess - t_load, "queries.load_all_s": t_load - t_imp}
    return spark, time.perf_counter() - t0, layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data_integration_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        log(f"engine sources not found under {ROOT}; run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.environ.update(machine_env())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ.get("PYTHONPATH", "")]
    ).rstrip(os.pathsep)
    wl = make_workload(args.workload)
    extra_conf = {"spark.ui.showConsoleProgress": "false",
                  "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    from perfbench.measure import (
        SpanRecorder, tail_percentile, tree_cpu_s, tree_peak_rss_mb,
    )

    recorder = SpanRecorder(run_id)
    log_dir = os.path.join(WORK, "eventlog", run_id)
    if args.trace:
        from perfbench import trace

        extra_conf.update(trace.event_log_conf(log_dir))

    # ---- set-up: one cold start of this fresh interpreter, JVM launch
    # included (a second one in the same run would cost another 14-27 s)
    spark, setup_s, setup_layers = cold_start(wl, args.seed, extra_conf)
    log(f"setup {setup_s:.3f} s")

    if args.trace:
        trace.install(recorder)
    sc = spark.sparkContext

    attempted = failed = 0
    outcomes: dict[str, list] = {}
    samples: list[tuple[int, float]] = []  # (pass, operation latency)
    pass_times: list[float] = []

    def run_pass(p: int) -> float:
        nonlocal attempted, failed
        recorder.context = {"pass": p}
        t_pass = time.perf_counter()
        with recorder.span("pass"):
            for op in wl.order(args.seed, p):
                attempted += 1
                t_op = time.perf_counter()
                try:
                    out = run_op(p, op)
                except Exception:  # noqa: BLE001 — count it, report it, go on
                    failed += 1
                    log(f"pass {p} {op} raised:\n{traceback.format_exc()}")
                    continue
                samples.append((p, time.perf_counter() - t_op))
                outcomes.setdefault(op, []).append(out)
                if out.problems:
                    failed += 1
                    log(f"pass {p} {op} failed its check: {out.problems[:5]}")
        return time.perf_counter() - t_pass

    def run_op(p: int, op: str):
        if args.trace:
            sc.setJobGroup(trace.group_id(wl.name, op, p, "build"), op)
        with recorder.span("phase.build", op=op):
            built = wl.build(spark, op)
        if args.trace:
            sc.setJobGroup(trace.group_id(wl.name, op, p, "exec"), op)
        with recorder.span("phase.exec", op=op):
            return wl.execute(spark, op, built)

    # passes: the first is cold. Their number is fixed by --seconds and
    # the workload's pass estimate, not by how fast they run, so every run
    # at the same --seconds does the same work.
    n_passes = max(1, round(args.seconds / wl.pass_estimate_s))
    cpu_times = []
    for p in range(n_passes):
        cpu0 = tree_cpu_s()
        pass_times.append(run_pass(p))
        cpu_times.append(tree_cpu_s() - cpu0)
        log(f"pass {p}: {pass_times[-1]:.3f} s, {cpu_times[-1]:.2f} CPU s")
    # the figures are those of the warm passes, or of the cold pass when
    # it is the only one
    measured = list(range(1, n_passes)) or [0]
    peak_rss_mb = tree_peak_rss_mb()

    recorder.context = {}
    t_check = time.perf_counter()
    try:
        problems = wl.final_checks(spark, outcomes)
    except Exception:  # noqa: BLE001
        problems = {"final_checks": [traceback.format_exc()]}
    log(f"checks {time.perf_counter() - t_check:.1f} s")
    for op, errs in problems.items():
        failed += 1
        log(f"check {op} failed: {errs[:3]}")
    app_id = sc.applicationId
    stop_jvm(spark)

    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": pass_times[0],
        "pass_s": median(pass_times[p] for p in measured),
        "cpu_s": sum(cpu_times[p] for p in measured) / len(measured),
        "peak_rss_mb": peak_rss_mb,
    }
    summary = [f"error_rate={failed / attempted:.4f} ({failed}/{attempted})",
               f"warm_passes={n_passes - 1}"]
    latencies = [d for p, d in samples if p in measured]
    if len(wl.ops) > 1 and latencies:
        summary.append(f"query_p50_s={median(latencies):.4f}s")
        if len(latencies) > 10:
            tail_pct, tail = tail_percentile(latencies)
            summary.append(
                f"query_tail_s={tail:.4f}s (p{tail_pct:.1f} of {len(latencies)} samples)"
            )
        else:
            summary.append(f"query_tail_s=n/a ({len(latencies)} samples, needs more than 10)")
    summary += [f"{k}={v:.4f}{UNITS[k]}" for k, v in e2e.items()]
    summary += [f"{k}={v:.4f}" for k, v in getattr(wl, "last_errors", {}).items()]
    print(f"# {wl.name} seed={args.seed}: " + " ".join(summary))
    if args.trace:
        layers = trace.layer_report(
            recorder.spans, trace.find_log(log_dir, app_id), wl.name,
            measured, cores, setup_layers,
        )
        trace.write_spans(recorder, os.path.join(WORK, "traces", f"{run_id}.json"))
        with open(os.path.join(WORK, "traces", f"{run_id}.layers.json"), "w") as fh:
            json.dump({"layers": layers, "end_to_end": e2e}, fh, indent=1)
        for k in sorted(layers):
            print(f"# layer {k} = {layers[k]:.6g}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
