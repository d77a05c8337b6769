"""Round-16 optimization profiler: bench-methodology timing (warm pass +
min-of-N noop-sink passes) PLUS deterministic per-query Spark JOB COUNTS
(statusTracker over a per-query job group) and build/exec wall splits —
the box's wall-clock swings ±30% between phases, so job counts and
A/B-interleaved runs are the trustworthy signals (see
OPTIMIZATION_r15.md "Measurement-methodology notes").

Usage:
    python tools/profile_r16.py --tag before [--sf /root/testdata/sf0.1]
        [--passes 3] [--no-plans] [name ...]

With no names: the bench set (HEADLINE + LLM_OPS). Prints one JSON line:
{"tag", "sf", "queries": {name: {"min", "spread", "jobs", "build"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()
    # clamp to ≥1 like bench.py: with 0 passes there is no min and no
    # first-pass job count
    args.passes = max(1, args.passes)

    from bench import HEADLINE, LLM_OPS
    from data_integration_spark.queries import QUERIES, load_all
    from data_integration_spark.session import get_spark

    load_all()
    names = args.names or (HEADLINE + LLM_OPS)
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = get_spark(app_name=f"profile_r16_{args.tag}")
    sc = spark.sparkContext
    QUERIES["q_scan_parquet"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        if not args.no_plans:
            df = QUERIES[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        # warm pass (plan compilation, codegen, broadcast build)
        sc.setJobGroup(f"{name}-warm", f"{name} [{args.tag}] warm")
        QUERIES[name](spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
        passes, builds = [], []
        for i in range(args.passes):
            group = f"{name}-p{i}"
            sc.setJobGroup(group, f"{name} [{args.tag}] pass {i}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, args.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            passes.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
            if i == 0:
                # deterministic proxy: one job per materialized stage
                # (AQE included); measured on the FIRST timed pass
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("idle", "between queries")
        out[name] = {
            "min": round(min(passes), 3),
            "spread": round(max(passes) - min(passes), 3),
            "build": round(min(builds), 3),
            "jobs": jobs,
        }
        print(
            f"[{args.tag}] {name}: {out[name]['min']}s "
            f"(build {out[name]['build']}s, jobs {jobs})",
            file=sys.stderr,
        )
    print(json.dumps({"tag": args.tag, "sf": args.sf, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
