"""Laws for the MinHash candidate-verify edit-distance tier
(dedup/minhash.py::edit_verify_pairs, q_dedup_edit_verify):

1. tier non-vacuity: the registered query exercises ALL THREE tiers on
   the driver corpora (a tier no pair ever reaches would make its
   oracle branch dead code);
2. planted recall: every planted exact copy forms an 'exact' pair with
   its original; every planted doubled doc forms a 'band_far' pair with
   its original (the Jaccard-blind case the tier exists to catch);
3. cap exactness: lev_cap = 128 ≥ ceil((1 − 4/5) · max doc length) on
   every driver SF — the data-pinned guarantee that the banded -1 can
   never mask a would-be near_exact pair (the pinned-centroid-margin
   discipline: if the testdata changes, this fails loudly BEFORE the
   oracle would);
4. unit semantics: lev/edit_sim/tier on hand-built pairs match a
   from-scratch Python Levenshtein.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from data_integration_spark.dedup.minhash import edit_verify_pairs
from data_integration_spark.queries import QUERIES, load_all

load_all()


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            )
        prev = cur
    return prev[-1]


def test_unit_semantics_match_python_reference(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fix"),
            (3, "the quick brown fox"),
            (4, "a" * 300),
            (5, "b" * 300),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "d1 long, d2 long"
    )
    got = {
        (r["d1"], r["d2"]): r
        for r in edit_verify_pairs(docs, pairs, lev_cap=128).collect()
    }
    texts = {1: "the quick brown fox", 2: "the quick brown fix",
             3: "the quick brown fox", 4: "a" * 300, 5: "b" * 300}
    for (d1, d2), r in got.items():
        true = _py_lev(texts[d1], texts[d2])
        mx = max(len(texts[d1]), len(texts[d2]))
        if true > 128:
            assert r["lev"] == -1 and r["edit_sim"] is None, (d1, d2)
            assert r["tier"] == "band_far"
        else:
            assert r["lev"] == true, (d1, d2)
            assert r["edit_sim"] == pytest.approx(
                round(1.0 - true / mx, 6), abs=1e-9
            )
            want_tier = (
                "exact"
                if true == 0
                else ("near_exact" if 5 * (mx - true) >= 4 * mx else "band_far")
            )
            assert r["tier"] == want_tier, (d1, d2)


def test_all_three_tiers_non_vacuous_and_planted_recall(spark):
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = QUERIES["q_dedup_edit_verify"](spark, sf).collect()
        tiers = {r["tier"] for r in rows}
        assert tiers == {"exact", "near_exact", "band_far"}, (sf, tiers)
        by_pair = {(r["d1"], r["d2"]): r for r in rows}
        orig = {
            r[0]
            for r in duckdb.sql(
                f"SELECT doc_id FROM '{sf}/documents.parquet'"
            ).fetchall()
        }
        for o in orig:
            if o % 31 == 3:  # exact copy planted at o + 2e6
                r = by_pair[(o, o + 2_000_000)]
                assert r["tier"] == "exact" and r["lev"] == 0, (sf, o)
                assert r["jaccard"] == 1.0
            if o % 37 == 5:  # doubled text planted at o + 3e6
                r = by_pair[(o, o + 3_000_000)]
                assert r["tier"] == "band_far", (sf, o)
                assert r["jaccard"] >= 0.4


def test_lev_cap_dominates_corpus_length(spark):
    """The tier is always EXACT with respect to its own banded
    definition (both engines compute the identical capped CASE — parity
    cannot break on the cap). The sharper claim this test pins is that
    for REAL-vs-REAL pairs the banded tiering EQUALS unbounded
    tiering: near_exact needs lev ≤ 0.2·mx, and mx ≤ max corpus doc
    length ⇒ lev ≤ ceil(0.2·577) = 116 ≤ 128 = lev_cap on every driver
    SF, so the -1 can never mask a would-be real near_exact pair.
    (Pairs involving a planted DOUBLE — mx up to 2·577+1 — ride the
    capped path by design: 'band_far' there means far-or-beyond-band,
    which is exactly what a production banded verify reports.)"""
    for sf in ("0.001", "0.01", "0.1"):
        mx = duckdb.sql(
            "SELECT MAX(LENGTH(text)) FROM "
            f"'/root/testdata/sf{sf}/documents.parquet'"
        ).fetchone()[0]
        assert -(-1 * mx // 5) <= 128, (sf, mx)
