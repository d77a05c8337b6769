"""SparkSession factory with scale-aware defaults.

Local test profile: ``local[N]`` single-JVM. Cluster profile: same configs
minus the master override — partitioning and AQE settings are chosen so the
same code runs unchanged on a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing + skew-join splitting) so shuffle partition
  counts adapt to real data sizes instead of a hardcoded number;
- broadcast threshold raised so dimension tables (region/nation/supplier,
  per-area statistics <= 51 rows) never shuffle;
- Arrow enabled for every pandas boundary (pandas UDFs, and toPandas on
  small results such as the statistical layer's cell tables), with its
  silent fallback to the row-at-a-time path switched off, so a failed
  Arrow conversion raises instead of changing the plan.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from data_integration_spark.streaming.replay import scratch_dir


def session_sizing() -> tuple[str, str]:
    """``(cpus, driver_mem)`` for a local session: ``SPARK_GRAFT_CPUS``
    and ``SPARK_DRIVER_MEM`` when set, else the cores this process may
    run on and a quarter of physical memory between 1 and 8 GiB."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap_mb = max(1024, min(8192, phys // 4 // 2**20))
    return (
        os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0))),
        os.environ.get("SPARK_DRIVER_MEM") or f"{heap_mb}m",
    )


def get_spark(
    app_name: str = "data_integration_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` respects an externally-provided cluster master
    (spark-submit); tests pass ``local[N]`` or rely on the SPARK_GRAFT_CPUS
    env var. Cores and driver heap default to the machine
    (``session_sizing``).
    """
    cpus, driver_mem = session_sizing()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: match core count. On a real cluster this is overridden
        # by spark-submit conf; AQE coalescing corrects over-partitioning.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # static config — must be set before session start (bucketed tables)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or scratch_dir("spark-warehouse"),
        )
        # testdata's events.ts is TIMESTAMP(NANOS) which the vectorized parquet
        # reader rejects; read as long and convert in the catalog (µs truncation,
        # matching DuckDB's nanos→micros narrowing).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # one BLAS thread per Python worker: task-level parallelism owns the
        # cores; a per-tiny-GEMM 32-thread OpenBLAS spin barrier measured
        # 25-60× slower + wildly variable (see __init__
        # _limit_native_blas_threads, which also covers foreign sessions)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


@contextmanager
def bounded_loop_conf(spark: SparkSession, shuffle_partitions: int | None = None):
    """Suspend AQE — and optionally pin the reduce-partition count — for
    the duration of a bounded-collect iteration loop (r15 optimization,
    guide §1.2 step 3 — config only after the algorithm is right).

    AQE re-optimizes at every exchange, which costs a measured ~0.2 s of
    driver-side planning per query — pure overhead for the iterative
    trainers (unigram EM, BPE merge learning) whose per-iteration job is
    a tiny aggregation bounded BY CONSTRUCTION at any corpus scale
    (map-side combine keeps the exchange at ≤|vocab| distinct keys per
    map task, and the driver collects ≤|vocab|+1 rows). With AQE off the
    session's shuffle-partition default would fan those few thousand
    partial rows over dozens of tiny reduce tasks, so callers pass a
    SCALE-ADAPTIVE count derived from their input partitioning (e.g.
    ``max(1, input_parts // 64)`` — one reduce task per 64 map tasks'
    worth of bounded partials; grows with the cluster, 1 locally). This
    is scale-honest: the bounds are algebraic, not local-mode artifacts,
    so AQE's runtime coalescing/skew handling has nothing to improve at
    100 TB either — measured locally it costs ~0.2 s/iteration.

    Session-global runtime conf: the window is kept to the loop itself
    and restored in ``finally``. Callers are the engine's iterative
    trainers, which own their session for the duration of the fit (the
    driver/bench/tests all run queries sequentially)."""
    keys = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(max(1, shuffle_partitions))
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # pragma: no cover — both keys readable in 3.5/4.x
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
