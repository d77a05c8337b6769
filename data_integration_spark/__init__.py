"""data_integration_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of
the reference repo ``asen123/data_integration`` (replication code for
"Estimation of finite population proportions for small areas", arXiv:2305.12336),
re-expressed Spark-first:

- a relational/dataflow layer (projections, filters, joins, unions, grouped
  weighted aggregations, SQL entry point) built entirely on Catalyst-native
  DataFrame / Spark SQL operations (SURVEY.md §2.1-2.9);
- a statistical layer (GLMM via EM with adjusted maximum likelihood, EBP,
  survey-weighted direct estimation, parametric bootstrap MSPE): Spark
  collapses each survey to covariate-pattern cells bounded by the design,
  and driver-side NumPy Newton solvers fit on the collected cells
  (SURVEY.md §2.10-2.12);
- large-scale training-data pipeline extensions: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search, text
  analysis, multimodal column plumbing, structured streaming.

Design rules: DataFrame-first, declarative plans for Catalyst, broadcast small
dims, no driver-side row loops, Pandas UDFs only where built-ins genuinely
cannot express the semantics.
"""

def _limit_native_blas_threads(n: int = 1) -> None:
    """Pin the process's OpenBLAS pool to ``n`` threads (r15 optimization,
    guide §4.5's heavyweight-state discipline applied to the BLAS pool).

    Why: numpy's bundled OpenBLAS defaults its pool to every visible
    core. This engine's numpy work is many SMALL kernels — the
    driver-side Lloyd/OPQ trainers' (≤4k × ≤64) GEMMs and the per-task
    batch kernels inside mapInPandas workers — and a 32-thread spin
    barrier per tiny GEMM measured 25-60× SLOWER than single-threaded
    (2000×4 · 4×64 sq-dists: 1.4 ms vs 35-90 ms/call), with wild
    run-to-run swings when 32 Python workers × 32 BLAS threads
    oversubscribe the box. One thread per process is the scale-honest
    setting everywhere: executor parallelism comes from TASKS (each
    worker should use its one core), and driver-side numpy is bounded
    small by design. Values are unchanged — same kernels, same results,
    threading only.

    Runs at package import in BOTH the driver and every executor Python
    worker (unpickling any engine closure imports this package). ctypes
    on the already-loaded library because env vars are read only at BLAS
    init and threadpoolctl is not vendored; missing/foreign BLAS → no-op.
    """
    try:
        import ctypes
        import glob
        import os

        import numpy as np

        roots = (
            os.path.join(os.path.dirname(os.path.dirname(np.__file__)), "numpy.libs"),
            os.path.join(os.path.dirname(np.__file__), ".libs"),
        )
        for root in roots:
            for lib in sorted(glob.glob(os.path.join(root, "libopenblas*.so*"))):
                handle = ctypes.CDLL(lib)
                for fn in (
                    "openblas_set_num_threads64_",
                    "openblas_set_num_threads",
                ):
                    f = getattr(handle, fn, None)
                    if f is not None:
                        f(int(n))
                        return
    except Exception:  # noqa: BLE001 — a tuning no-op must never break import
        pass


_limit_native_blas_threads(1)

from data_integration_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
