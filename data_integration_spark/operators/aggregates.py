"""Aggregation operators beyond the expression helpers in functions/stats.py.

- A3 grouped vector collection (``Method_code.Rmd:259-260``): the reference
  pulls per-state vectors into an optimizer closure. stats/em.py instead
  collects the design-bounded cell table once and solves each area in
  NumPy; for deterministic testing we also expose a sorted collect_list
  whose output is order-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_collect_sorted(
    df: DataFrame,
    group: str | list[str],
    value: Column | str,
    alias: str = "values",
    as_string: bool = False,
) -> DataFrame:
    """Per-group sorted list of values (reference A3 in its deterministic,
    oracle-checkable form). ``as_string=True`` returns a comma-joined string
    (hash-stable across engines)."""
    group = [group] if isinstance(group, str) else list(group)
    v = F.col(value) if isinstance(value, str) else value
    arr = F.sort_array(F.collect_list(v))
    if as_string:
        out = F.concat_ws(",", arr.cast("array<string>"))
    else:
        out = arr
    return df.groupBy(*group).agg(out.alias(alias))
