"""The multimodal item map (``binary_ops.map_items``) and the fixture
encoder (``multimodal_queries._fixture_payloads``): the failure policy,
1→N and empty outputs, that they hold every ``mapInPandas`` of the
multimodal layer, and the Spark job counts of the queries built on them."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import PythonException

from data_integration_spark.multimodal.binary_ops import map_items
from data_integration_spark.sources.local import local_table
from tests.conftest import SF_SMALL
from tests.test_streaming_replay import PKG, _code_without_docstrings

ITEMS = [(1, b"a"), (2, b"bb"), (3, b"")]


@pytest.fixture
def items(spark):
    return local_table(spark, ITEMS, "id long, blob binary")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fail_row_gives_one_row_per_failed_item(spark, items):
    def fn(payload):
        if payload == b"bb":
            raise ValueError("corrupt")
        return [(len(payload), True), (len(payload) + 10, True)]

    out = map_items(items, "id", "blob", "item_id long, n int, ok boolean", fn,
                    fail_row=(0, False))
    assert _rows(out) == [
        (1, 1, True), (1, 11, True), (2, 0, False), (3, 0, True), (3, 10, True),
    ]


def test_fail_row_drops_the_rows_of_a_failing_generator(spark, items):
    def fn(payload):
        yield (1, True)
        if payload:
            raise ValueError("fails after one row")

    out = map_items(items, "id", "blob", "item_id long, n int, ok boolean", fn,
                    fail_row=(-1, False))
    assert _rows(out) == [(1, -1, False), (2, -1, False), (3, 1, True)]


def test_without_fail_row_the_error_propagates(spark, items):
    def fn(payload):
        raise ValueError("planted item failure")

    out = map_items(items, "id", "blob", "item_id long, n int", fn)
    with pytest.raises(PythonException, match="planted item failure"):
        out.collect()


def test_one_to_many_and_empty_outputs(spark, items):
    schema = "item_id long, i int, chunk binary"
    fan = map_items(items, "id", "blob", schema,
                    lambda p: [(i, p[i:i + 1]) for i in range(len(p))])
    assert _rows(fan) == [(1, 0, bytearray(b"a")), (2, 0, bytearray(b"b")),
                          (2, 1, bytearray(b"b"))]
    none = map_items(items, "id", "blob", schema, lambda p: [])
    assert none.collect() == [] and none.columns == ["item_id", "i", "chunk"]
    empty = map_items(items.filter("id < 0"), "id", "blob", schema,
                      lambda p: [(0, p)])
    assert empty.collect() == []


def _enclosing_functions(code: str, pattern: str) -> list[str]:
    """The name of the top-level function around each match of ``pattern``."""
    names = []
    for m in re.finditer(pattern, code):
        defs = re.findall(r"^def (\w+)", code[: m.start()], flags=re.MULTILINE)
        names.append(defs[-1] if defs else "<module>")
    return names


def test_map_in_pandas_only_in_the_two_helpers():
    """Every multimodal kernel is a per-item function behind ``map_items``
    or ``_fixture_payloads``; neither file holds another batch loop."""
    hits = {}
    paths = [os.path.join("queries", "multimodal_queries.py")]
    for root, _dirs, files in os.walk(os.path.join(PKG, "multimodal")):
        paths += [os.path.relpath(os.path.join(root, f), PKG)
                  for f in files if f.endswith(".py")]
    for rel in paths:
        code = _code_without_docstrings(os.path.join(PKG, rel))
        names = _enclosing_functions(code, r"mapInPandas\(")
        if names:
            hits[rel] = names
    assert hits == {
        os.path.join("multimodal", "binary_ops.py"): ["map_items"],
        os.path.join("queries", "multimodal_queries.py"): ["_fixture_payloads"],
    }


@pytest.mark.parametrize(
    "query, build_jobs, action_jobs",
    [
        ("q_multimodal_decode", 0, 2),
        ("q_image_dedup_phash", 2, 3),
        ("q_crossmodal_dedup", 2, 1),
    ],
)
def test_multimodal_query_job_counts(spark, count_jobs, query, build_jobs, action_jobs):
    """Jobs to build each query and to run it (a noop write), after one
    warm-up build so that first-read work on the tables is not counted."""
    from data_integration_spark.queries import QUERIES, load_all

    load_all()
    QUERIES[query](spark, SF_SMALL)
    built = []
    assert count_jobs(f"pin_{query}_build",
                      lambda: built.append(QUERIES[query](spark, SF_SMALL))) == build_jobs
    write = lambda: built[0].write.format("noop").mode("overwrite").save()  # noqa: E731
    assert count_jobs(f"pin_{query}_action", write) == action_jobs
