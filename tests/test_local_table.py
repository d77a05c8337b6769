"""``sources.local.local_table``: driver-held rows as a JVM local relation.

Pins that the Arrow path gives the same schema, values and row order as
``spark.createDataFrame(<list>, ddl)``, that its plan is a
``LocalTableScan`` (no PythonRDD), that bad values raise, and that the
two curation queries whose output it builds run one job per action."""

from __future__ import annotations

import datetime
import math
import os
import re
from contextlib import contextmanager

import pandas as pd
import pytest
from conftest import SF_SMALL

from data_integration_spark.sources.local import local_table

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_integration_spark",
)

T1 = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
T2 = datetime.datetime(1999, 12, 31, 23, 59, 59)
ROWS = [
    (1, 7, 0.5, "a", None, [1.0, float("nan")], T1),
    (2, None, float("nan"), None, 3, [], None),
    (-(2**63), 2**31 - 1, -0.0, "", 4, None, T2),
]
DDL = "a long, b int, c double, d string, e long, f array<double>, t timestamp"


def _norm(v):
    """NaN-aware comparison key (NaN != NaN, but must match NaN)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return repr(v)


def _rows(df):
    return [[_norm(v) for v in r] for r in df.collect()]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "rows",
    [ROWS, [dict(zip("abcdeft", r)) for r in ROWS], []],
    ids=["tuples", "dicts", "empty"],
)
def test_matches_list_path(spark, rows):
    """long, int, double with NaN, string, NULL in an integer column,
    array<double>, timestamps (session time zone UTC) and the empty
    table: same schema, nullability, values and order as the list path."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    old = spark.createDataFrame(rows, DDL)
    new = local_table(spark, rows, DDL)
    assert new.schema == old.schema
    assert _rows(new) == _rows(old)


def test_pandas_frame_matches_arrow_pandas_path(spark):
    """A pandas frame turns NaN into NULL, as Spark's Arrow pandas path
    does; without a schema it infers the same one."""
    pdf = pd.DataFrame(
        {"a": [3, 1, 2], "c": [float("nan"), 2.5, None], "d": ["u", None, "w"]}
    )
    old = spark.createDataFrame(pdf)
    expected = [["3", "None", "'u'"], ["1", "2.5", "None"], ["2", "None", "'w'"]]
    ddl = "a long, c double, d string"
    for new in (local_table(spark, pdf), local_table(spark, pdf, ddl)):
        assert new.schema == old.schema
        assert _rows(new) == _rows(old) == expected
    empty = local_table(spark, pdf.iloc[:0], ddl)
    assert empty.collect() == [] and empty.schema == old.schema


@pytest.mark.parametrize("arrow_enabled", ["true", "false"])
def test_plan_is_local_table_scan(spark, arrow_enabled):
    """No PythonRDD, whatever the pyspark Arrow switch says."""
    with _conf(spark, **{"spark.sql.execution.arrow.pyspark.enabled": arrow_enabled}):
        for df in (
            local_table(spark, ROWS, DDL),
            local_table(spark, [], DDL),
            local_table(spark, pd.DataFrame({"x": [1.0]}), "x double"),
        ):
            plan = _plan(df)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "ExistingRDD" in _plan(spark.createDataFrame(ROWS, DDL))


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("partitions", ["1", "64"])
def test_collect_keeps_driver_order(spark, aqe, partitions):
    keys = [(i * 7919) % 1000 for i in range(1000)]
    rows = [(k, f"s{k}") for k in keys]
    conf = {"spark.sql.adaptive.enabled": aqe, "spark.sql.shuffle.partitions": partitions}
    with _conf(spark, **conf):
        df = local_table(spark, rows, "k long, s string")
        assert [tuple(r) for r in df.collect()] == rows
        assert [r.k for r in df.select("k").filter("k % 2 = 0").collect()] == [
            k for k in keys if k % 2 == 0
        ]


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "a long"),
        ([(1.5,)], "a long"),
        ([(True,)], "a long"),
        ([(1,)], "a double"),
        ([(1, 2)], "a long"),
        (pd.DataFrame({"a": ["x"]}), "a long"),
        (pd.DataFrame({"a": [1.5]}), "a long"),
    ],
    ids=[
        "str-long", "float-long", "bool-long", "int-double", "width",
        "pd-str-long", "pd-float-long",
    ],
)
def test_unconvertible_value_raises(spark, rows, ddl):
    """A value that does not fit its column raises; nothing degrades to
    another path or truncates."""
    with pytest.raises(Exception):
        local_table(spark, rows, ddl).collect()


def test_list_rows_need_a_schema(spark):
    with pytest.raises(ValueError):
        local_table(spark, [(1,)])


def test_arrow_fallback_is_off(spark):
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    assert spark.conf.get(key) == "false"


def test_create_dataframe_only_in_the_helper():
    """Every driver-built table goes through ``local_table``."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if re.search(r"createDataFrame\(", fh.read()):
                        hits.append(os.path.relpath(path, PKG))
    assert hits == [os.path.join("sources", "local.py")]


@pytest.mark.parametrize("query", ["q_bpe_train", "q_unigram_train"])
def test_trainer_output_action_is_one_job(spark, count_jobs, query):
    """The trained table is a local relation already in rank order: its
    action is one job, with no sort and no Python worker."""
    from data_integration_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES[query](spark, SF_SMALL)
    assert "ExistingRDD" not in _plan(df)
    write = lambda: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    assert count_jobs(f"pin_{query}_action", write) == 1
    key = df.columns[0]
    ranks = [r[key] for r in df.collect()]
    assert ranks == sorted(ranks) == list(range(1, len(ranks) + 1))
