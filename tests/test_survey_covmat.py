"""Laws for the joint survey covariance matrix (staged q_survey_covmat,
the svyby(covmat=TRUE) surface — Rmd:459-462):

1. exact agreement with a from-scratch NumPy recomputation of the
   stacked-influence formula on a synthetic two-domain corpus;
2. the off-diagonal theorem: domains partition the sample and the Hájek
   normal equation zeroes each domain's influence sum, so every
   off-diagonal is 0 on the 6-decimal grid;
3. diagonal consistency with q_survey_mean_se's Taylor SE up to the
   documented finite-sample factors (total-n joint factor vs per-group
   factor).
"""

from __future__ import annotations

import numpy as np

from data_integration_spark.queries import QUERIES, load_all

load_all()

SF = "/root/testdata/sf0.001"


def _numpy_covmat(rows):
    """(flag, w, y) rows → the stacked-influence covariance matrix."""
    flags = sorted({f for f, _, _ in rows})
    n = len(rows)
    U = np.zeros((n, len(flags)))
    for a, flag in enumerate(flags):
        sub = [(w, y) for f, w, y in rows if f == flag]
        sw = round(sum(w for w, _ in sub), 2)
        swy = round(sum(w * y for w, y in sub), 2)
        theta = swy / sw
        for i, (f, w, y) in enumerate(rows):
            if f == flag:
                U[i, a] = w * (y - theta) / sw
    ubar = U.mean(axis=0)
    C = (U - ubar).T @ (U - ubar) * n / (n - 1)
    return flags, C


def test_matches_numpy_reference(spark, tmp_path):
    rows = [
        ("A", 1.0, 10.0),
        ("A", 2.0, 14.0),
        ("A", 3.0, 9.0),
        ("B", 1.5, 20.0),
        ("B", 2.5, 31.0),
        ("B", 0.5, 18.0),
    ]
    import shutil

    tmp = str(tmp_path)
    spark.createDataFrame(
        [(f, w, y) for f, w, y in rows],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    try:
        from data_integration_spark.queries.relational import q_survey_covmat

        got = {
            (r["flag_a"], r["flag_b"]): r["cov"]
            for r in q_survey_covmat(spark, tmp).collect()
        }
        flags, C = _numpy_covmat(rows)
        for i, a in enumerate(flags):
            for j, b in enumerate(flags):
                if a <= b:
                    assert abs(got[(a, b)] - round(C[i, j], 6)) < 2e-6, (a, b)
        # the theorem: off-diagonal ~0 (float residue under the grid)
        assert abs(C[0, 1]) < 1e-12
        assert got[("A", "B")] == 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_offdiag_zero_and_diag_consistent_on_testdata(spark):
    fn = QUERIES["q_survey_covmat"]  # LIVE since the r14 flip
    cov = {
        (r["flag_a"], r["flag_b"]): (r["cov"], r["n_total"])
        for r in fn(spark, SF).collect()
    }
    for (a, b), (c, _n) in cov.items():
        if a != b:
            assert c == 0.0, (a, b, c)
        else:
            assert c > 0.0, (a, c)
    # diagonal vs q_survey_mean_se: se² = n_g/(n_g−1)·S, V_aa ≈ n/(n−1)·S
    # (joint total-n factor; su²/n residue ~1e-17) — convert and compare
    from pyspark.sql import functions as F

    from data_integration_spark.sources.catalog import Catalog

    se = {
        r["l_returnflag"]: r["se"]
        for r in QUERIES["q_survey_mean_se"](spark, SF).collect()
    }
    sizes = {
        r["l_returnflag"]: r["n"]
        for r in Catalog(spark, SF)["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for (a, b), (c, n_tot) in cov.items():
        if a == b:
            n_g = sizes[a]
            want = se[a] ** 2 * ((n_g - 1) / n_g) * (n_tot / (n_tot - 1))
            assert abs(c - want) < 1e-3 * want, (a, c, want)
