"""Survey-statistics aggregates as native groupBy().agg() expressions.

Reference parity (SURVEY.md §2.6):
- A1 grouped weighted mean — the pipeline's signature aggregate, appearing as
  an explicit loop-over-states with per-state filters at
  ``Method_code.Rmd:188-204, 437-452, 667-677`` (O(S·n) scans). Here: ONE
  shuffle on the group key with map-side partial aggregation.
- A5 error measures ASD/RASD/AAD (``Rmd:481-486``).
- A6 MSPE across bootstrap reps (``Rmd:744-757``): the reference builds a wide
  cbind-of-reps matrix and rowMeans; we keep the long (rep, group, est, true)
  form — columnar and shuffle-friendly at any number of reps.
- A8 survey-weighted mean + linearized SE (``svyby``/``svymean``,
  ``Rmd:459-462``): Hájek mean and Taylor-linearized SE for an
  element-sampling design, computed TWO-PASS (group mean joined back,
  ``Σ(w(y−ŷ))²`` aggregated directly). The earlier single-pass
  sufficient-statistics expansion ``Σw²y² − 2ŷΣw²y + ŷ²Σw²`` suffers
  catastrophic cancellation on (near-)constant-y groups — the residue is
  O(‖y‖²·ε·n), which a Hypothesis probe surfaced as SE≈1.4e-4
  where the true SE is exactly 0 — so the stable form is not optional.

Scale notes: every helper shuffles only map-side-combined partial rows (one
per (mapper, key)); the two-pass SE joins a one-row-per-group mean table
back (broadcast-sized at any realistic group count — AQE picks BHJ), so the
full fact table is scanned twice but never fully shuffled. These hold at
100 TB.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def weighted_mean_by_group(
    df: DataFrame,
    group: str | list[str],
    value: Column | str,
    weight: Column | str,
    alias: str = "wmean",
    scale: float = 1.0,
) -> DataFrame:
    """Per-group ``scale * Σ(v·w) / Σ(w)`` (reference A1, ``Rmd:197-202``)."""
    group = [group] if isinstance(group, str) else list(group)
    v, w = _c(value), _c(weight)
    return df.groupBy(*group).agg(
        (F.lit(float(scale)) * F.sum(v * w) / F.sum(w)).alias(alias)
    )


def survey_mean_se(
    df: DataFrame,
    group: str | list[str],
    value: Column | str,
    weight: Column | str,
    mean_alias: str = "mean",
    se_alias: str = "se",
) -> DataFrame:
    """Hájek weighted mean + Taylor-linearized SE per group (reference A8,
    ``svydesign`` + ``svyby(..., svymean)``, ``Rmd:459-462``).

    SE for an element-sampling design with weights w_i (R's ``svymean`` for
    an ``ids=~1`` design, INCLUDING its n/(n−1) finite-sample factor):
        ŷ_w = Σ w_i y_i / Σ w_i
        SE  = sqrt( n/(n−1) · Σ (w_i (y_i − ŷ_w))² ) / Σ w_i

    Numerically stable TWO-PASS form (SURVEY §2.6 A8 sanctions it): pass 1
    computes the per-group Hájek mean; the one-row-per-group mean table is
    joined back (null-safe on the keys, AQE broadcasts it) and pass 2
    aggregates ``Σ(w(y−ŷ))²`` on centered values. The single-pass
    sufficient-statistics expansion ``Σw²y² − 2ŷΣw²y + ŷ²Σw²`` leaves a
    cancellation residue of order ‖y‖²·ε·n that survives a
    ``greatest(·, 0)`` clip when positive — on a constant-y group the true
    SE is exactly 0 but the expansion reported ~1e-4·|y| (Hypothesis
    counterexample ``[(1.05, w=1.0), (1.05, w=2.0)]``). The
    centered form is exact at 0 for constant y by construction.

    NULL semantics = ``svymean(na.rm=TRUE)``: rows with NULL y are dropped
    ENTIRELY (their weights too) — the first ``where`` below enforces it.
    This differs from the reference's manual weighted mean (A1,
    ``sum(y*w, na.rm)/sum(w)``) which keeps NULL rows' weights in the
    denominator; weighted_mean_by_group implements that convention.
    Single-observation groups report SE = 0 (the n/(n−1) factor is skipped
    to avoid 0/0; svymean would return NaN there).
    """
    group = [group] if isinstance(group, str) else list(group)

    # internal working names must not collide with the caller's group
    # columns (or each other) — a group key literally named "_mean" would
    # otherwise become ambiguous after the join-back. Comparison is
    # LOWERCASED: Spark resolves column names case-insensitively by
    # default, so "_Y" vs "_y" is a collision too.
    taken = {c.lower() for c in (*df.columns, *group, mean_alias, se_alias)}

    def fresh(base_name: str) -> str:
        name = base_name
        while name.lower() in taken:
            name = "_" + name
        taken.add(name.lower())
        return name

    cy, cw, cm = fresh("_y"), fresh("_w"), fresh("_mean")
    v = _c(value)
    base = df.where(v.isNotNull()).select(
        *group, v.alias(cy), _c(weight).alias(cw)
    )
    # Pass 1: Hájek mean per group — shuffle carries only partial-agg rows.
    means = base.groupBy(*group).agg(
        (F.sum(F.col(cw) * F.col(cy)) / F.sum(cw)).alias(cm)
    )
    # Null-safe key equality so NULL group keys keep forming a group, as
    # groupBy treats them (a plain `on=group` inner join would drop them).
    mks = [fresh(f"_mk_{i}") for i in range(len(group))]
    means = means.select(
        *[F.col(g).alias(mk) for g, mk in zip(group, mks)], cm
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(g).eqNullSafe(F.col(mk)) for g, mk in zip(group, mks)],
    )
    dev = F.col(cw) * (F.col(cy) - F.col(cm))
    # Pass 2: centered sum of squares. `means` is one row per group — AQE
    # broadcasts it, so the fact table is never shuffled for the join.
    cgm, cssd, csw, cn = (
        fresh("_gmean"), fresh("_ssd"), fresh("_sw"), fresh("_n")
    )
    agg = (
        base.join(means, cond)
        .groupBy(*group)
        .agg(
            F.first(cm).alias(cgm),  # constant within group
            F.sum(dev * dev).alias(cssd),
            F.sum(F.when(dev.isNotNull(), F.col(cw))).alias(csw),
            F.count(dev).alias(cn),
        )
    )
    n = F.col(cn)
    fs = F.when(n > 1, n / (n - F.lit(1))).otherwise(F.lit(1.0))
    se = F.sqrt(fs * F.col(cssd)) / F.col(csw)
    return agg.select(
        *group, F.col(cgm).alias(mean_alias), se.alias(se_alias)
    )


def error_measures(
    df: DataFrame, est: Column | str, actual: Column | str
) -> DataFrame:
    """Whole-table ASD / RASD / AAD (reference A5, ``Rmd:481-486``):
    asd = mean((est−act)²), rasd = sqrt(asd), aad = mean(|est−act|),
    NULL pairs skipped (R's ``na.rm=TRUE`` ≡ Spark's NULL-skipping avg)."""
    e, a = _c(est), _c(actual)
    d = e - a
    asd = F.avg(d * d)
    return df.agg(
        asd.alias("asd"),
        F.sqrt(asd).alias("rasd"),
        F.avg(F.abs(d)).alias("aad"),
    )


def mspe_by_group(
    df: DataFrame,
    group: str | list[str],
    est: Column | str,
    truth: Column | str,
    alias: str = "sqrt_mspe",
) -> DataFrame:
    """Per-group sqrt(mean_rep (est−true)²) over a long (rep, group, est, true)
    table (reference A6/C4, ``Rmd:744-757``)."""
    group = [group] if isinstance(group, str) else list(group)
    e, t = _c(est), _c(truth)
    return df.groupBy(*group).agg(F.sqrt(F.avg((e - t) * (e - t))).alias(alias))
