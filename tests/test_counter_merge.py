"""Laws for the additive counter-merge sink
(streaming/sinks.py::counter_merge_batch / streaming_counter_merge_sink,
the machinery under staged q_streaming_crawl_frontier):

1. additivity: counters across batches sum exactly (count is a
   commutative monoid — any batch split of the same rows converges to
   the same table);
2. redelivery idempotency: re-applying a committed batch_id is a no-op
   (returns False, table unchanged) — the property the latest-wins
   upsert sink gets for free and an additive merge must buy with the
   atomically-committed ledger;
3. new keys appear, disjoint old keys survive (full-outer merge);
4. the ledger records every applied batch in order.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from data_integration_spark.streaming.sinks import counter_merge_batch


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("test_counter_merge"))


def _table(scratch):
    shutil.rmtree(scratch, ignore_errors=True)
    return os.path.join(scratch, "t")


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "host string, canon string")


def _read(spark, path):
    return {
        (r["host"], r["canon"]): r["n_raw"]
        for r in spark.read.parquet(path).collect()
    }


def test_additivity_and_new_key_survival(spark, scratch):
    t = _table(scratch)
    keys = ["host", "canon"]
    assert counter_merge_batch(
        spark, _rows(spark, [("a", "u1"), ("a", "u1"), ("a", "u2")]),
        0, t, keys,
    )
    assert counter_merge_batch(
        spark, _rows(spark, [("a", "u1"), ("b", "u3")]), 1, t, keys
    )
    got = _read(spark, t)
    assert got == {("a", "u1"): 3, ("a", "u2"): 1, ("b", "u3"): 1}
    with open(os.path.join(t, "_last_batch.json")) as fh:
        assert json.load(fh)["applied"] == [0, 1]


def test_redelivered_batch_is_a_noop(spark, scratch):
    t = _table(scratch)
    keys = ["host", "canon"]
    b = _rows(spark, [("a", "u1"), ("a", "u1")])
    assert counter_merge_batch(spark, b, 0, t, keys)
    before = _read(spark, t)
    # at-least-once redelivery: same batch_id arrives again
    assert counter_merge_batch(spark, b, 0, t, keys) is False
    assert _read(spark, t) == before == {("a", "u1"): 2}
    # a LATER batch still applies
    assert counter_merge_batch(spark, b, 1, t, keys)
    assert _read(spark, t) == {("a", "u1"): 4}


def test_ledger_ignored_by_parquet_reader(spark, scratch):
    """The underscore-prefixed ledger file must be invisible to
    spark.read.parquet — otherwise every downstream read of the
    maintained table would fail on a non-parquet file."""
    t = _table(scratch)
    counter_merge_batch(spark, _rows(spark, [("a", "u1")]), 0, t, ["host", "canon"])
    assert os.path.exists(os.path.join(t, "_last_batch.json"))
    assert spark.read.parquet(t).count() == 1
