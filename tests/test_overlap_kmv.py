"""Laws for the KMV/theta overlap sketch (staged q_overlap_kmv):

1. measured accuracy vs the EXACT overlap matrix at sf0.01 — per-source
   distinct estimates within the ~1/√K theory band (K=256 → ~6%;
   asserted < 10%), pairwise Jaccard within 0.15 absolute (measured
   0.103 — inclusion–exclusion amplifies on small overlaps);
2. the small-set exact path: when a source has < K distinct bigrams the
   sketch IS the set, so every estimate — distincts, union,
   intersection, Jaccard — is EXACT, not approximate.
"""

from __future__ import annotations

import duckdb

from data_integration_spark.queries import QUERIES, load_all

load_all()

SF = "/root/testdata/sf0.01"


def _exact_matrix(sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con.execute(
        """
        WITH tok AS (
          SELECT source, STRING_SPLIT(text, ' ') AS ts FROM documents
        ),
        sh AS (
          SELECT DISTINCT source, ts[i] || ' ' || ts[i + 1] AS s
          FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS u(i)
        ),
        sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source),
        inter AS (
          SELECT a.source sa, b.source sb, COUNT(*) i FROM sh a
          JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2
        )
        SELECT i.sa, i.sb, x.sz, y.sz, i.i FROM inter i
        JOIN sizes x ON x.source = i.sa JOIN sizes y ON y.source = i.sb
        """
    ).fetchall()


def test_kmv_accuracy_within_theory_band(spark):
    fn = QUERIES["q_overlap_kmv"]  # LIVE since the r14 flip
    est = {
        (r["src_a"], r["src_b"]): r for r in fn(spark, SF).collect()
    }
    rows = _exact_matrix(SF)
    assert len(rows) == len(est) == 190  # C(20, 2) source pairs
    for sa, sb, sza, szb, ii in rows:
        r = est[(sa, sb)]
        uni = sza + szb - ii
        assert abs(r["kmv_a"] - sza) / sza < 0.10, (sa, r["kmv_a"], sza)
        assert abs(r["kmv_b"] - szb) / szb < 0.10, (sb, r["kmv_b"], szb)
        assert abs(r["kmv_union"] - uni) / uni < 0.10, (sa, sb)
        assert abs(r["kmv_jaccard"] - ii / uni) < 0.15, (sa, sb)


def test_kmv_engine_merge_fallback_matches_coordinator(spark, monkeypatch):
    """r16 (VERDICT r15 #7): past the coordinator bound the query falls
    back to the distributed engine-side pair merge instead of raising.
    Forcing the bound to 1 row makes sf0.01 take the fallback — every
    emitted value must equal the coordinator path's bit-for-bit."""
    from data_integration_spark.queries import corpus_ops

    fast = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["q_overlap_kmv"](spark, SF).collect()
    }
    monkeypatch.setattr(corpus_ops, "_KMV_MAX_COORD_ROWS", 1)
    slow = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["q_overlap_kmv"](spark, SF).collect()
    }
    assert set(fast) == set(slow) and len(fast) == 190
    for key, rf in fast.items():
        rs = slow[key]
        for c in ("kmv_a", "kmv_b", "kmv_union", "kmv_inter", "kmv_jaccard"):
            assert rf[c] == rs[c], (key, c, rf[c], rs[c])


def test_kmv_small_sets_are_exact(spark, tmp_path):
    """Two tiny sources (far below K=256 distinct bigrams): the sketch
    holds the whole set, so the 'estimates' must be exactly the true
    distinct counts and the true Jaccard."""
    from data_integration_spark.queries.corpus_ops import q_overlap_kmv
    import shutil

    rows = [
        (0, "alpha beta gamma delta", "en", "sA", 22),
        (1, "alpha beta epsilon zeta", "en", "sA", 23),
        (2, "alpha beta gamma delta", "en", "sB", 22),
        (3, "eta theta iota kappa", "en", "sB", 20),
    ]
    tmp = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    try:
        out = {
            (r["src_a"], r["src_b"]): r
            for r in q_overlap_kmv(spark, tmp).collect()
        }
        # sA bigrams: {alpha beta, beta gamma, gamma delta, beta epsilon,
        #              epsilon zeta} = 5
        # sB bigrams: {alpha beta, beta gamma, gamma delta, eta theta,
        #              theta iota, iota kappa} = 6
        # union 8, intersection 3
        r = out[("sA", "sB")]
        assert r["kmv_a"] == 5.0 and r["kmv_b"] == 6.0
        assert r["kmv_union"] == 8.0 and r["kmv_inter"] == 3.0
        assert r["kmv_jaccard"] == 0.375
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
