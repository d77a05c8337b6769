"""Unigram-LM tokenizer queries (Kudo 2018 / SentencePiece) — the
second tokenizer family next to BPE (q_bpe_train/q_bpe_invariants):

- ``q_unigram_train``: EM vocabulary fit on a deterministic corpus
  sample (rows-only by the contract escape hatch — iterative EM over a
  segmentation lattice is not SQL-expressible);
- ``q_unigram_invariants``: the sibling FULL-ORACLE certificate (the
  q_bpe_invariants pattern): conservation laws DuckDB recomputes from
  the base tables + EM/parse laws the trainer must satisfy;
- ``q_unigram_encode``: the Viterbi best-parse APPLY step under a
  PINNED formula vocabulary, FULL oracle — DuckDB brute-forces every
  segmentation of a bounded key (all 34 compositions of 8 into pieces
  of length 1–2) and picks the same (cost, lexicographic-lengths)
  minimum the real DP computes. Costs are exact multiples of 1/64, so
  float sums are exact on both engines and ties are engine-independent.

Reference: the reference notebook has no tokenizer — this is the
LLM-pipeline extension surface (SURVEY.md §2 extension block).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table
from data_integration_spark.streaming.replay import scratch_dir

_CAP = 256  # per-doc char cap of the training sample (bounded-by-design)
_VOCAB_TARGET = 96
_MAX_PIECE = 4
_ITERS = 3  # EM iterations per phase (seed → EM → prune → EM)


def _train_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 10% training sample, capped to _CAP chars —
    pure function of doc_id (SQL-restatable, partition-independent);
    the bounded-training-set shape tokenizer fitting uses at any
    corpus size (a 100 TB corpus still trains its tokenizer on a
    bounded sample)."""
    docs = Catalog(spark, sf_dir)["documents"]
    sample = docs.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id", F.substring("text", 1, _CAP).alias("t")
    )
    # r15 optimization (guide §2.5's unsplittable-input fix): the sample
    # comes out of ONE small parquet split, so without this round-robin
    # spread every lattice E-step (2·iters+1 passes over the cached
    # sample) ran single-core. Partition count carries a WORK floor, not
    # a byte floor: the lattice DP costs ~1.6 ms/doc, so ~128 docs/task
    # (~0.2 s of compute) keeps per-task overhead (~20 ms) under 10% —
    # measured at sf0.1: 1 part 0.90 s/E-step, 4 parts 0.45 s, 32 parts
    # 0.80 s (task overhead re-dominates past the floor). Capped at
    # defaultParallelism so a cluster scales out; the sizing count is
    # parquet-metadata cheap. Only (doc_id, ≤256 chars) rows cross the
    # exchange, once, before the cache. Piece/LL totals are unchanged up
    # to float summation order (the groupBy already summed per-batch
    # partials in arbitrary order); the trainer's determinism contract
    # (9-dp tie-breaks, per the partition-invariance test) absorbs that.
    # r15b: the sizing count comes from parquet FOOTER metadata (no
    # Spark job — catalog.table_rowcount), replacing a per-pass
    # docs.count() job that existed only to size this partitioning
    from data_integration_spark.sources.catalog import table_rowcount

    n_sample = table_rowcount(sf_dir, "documents") // 10  # doc_id % 10 == 3
    parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-n_sample // 128)),
    )
    return sample.repartition(parts)


@register("q_unigram_train")
def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018): seed substring
    candidates → lattice EM → contribution prune to 96 pieces → EM —
    emitted as (rank, piece, logp) with a deterministic tie-break
    (9-dp-rounded logp desc, then piece). Rows-only by the contract
    escape hatch (iterative lattice EM is not SQL-expressible);
    q_unigram_invariants carries the full-oracle certificate and
    tests/test_unigram.py pins EM monotonicity, planted-piece
    recovery, and partition invariance.

    Scale shape (operators/unigram_lm.py): the sample is bounded by
    construction; each EM iteration is ONE mapInPandas pass emitting
    per-batch pre-aggregated (piece, expected-count) partials + one
    groupBy shuffle of ≤|vocab| keys + one bounded driver collect —
    the bpe.train_bpe one-bounded-collect-per-step shape. The vocabulary
    is ranked on the driver and returned as a local table
    (``sources.local``) that keeps the rank order, so the action is one
    job with no sort and no Python worker."""
    from data_integration_spark.operators.unigram_lm import em_train

    sample = _train_sample(spark, sf_dir).cache()
    try:
        vocab, _lls1, _lls2 = em_train(
            sample,
            "t",
            max_piece_len=_MAX_PIECE,
            vocab_target=_VOCAB_TARGET,
            iters_per_phase=_ITERS,
        )
    finally:
        sample.unpersist()
    ordered = sorted(vocab.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))
    return local_table(
        spark,
        [
            {"rank": r, "piece": p, "logp": round(lp, 6)}
            for r, (p, lp) in enumerate(ordered, start=1)
        ],
        schema="rank long, piece string, logp double",
    )


@register(
    "q_unigram_invariants",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, SUBSTRING(text, 1, {_CAP}) AS t
      FROM documents WHERE doc_id % 10 = 3
    )
    SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_docs_sampled,
           CAST((SELECT SUM(LEN(t)) FROM s) AS BIGINT) AS n_chars_capped,
           CAST((SELECT COUNT(DISTINCT c) FROM (
                   SELECT UNNEST(STRING_SPLIT(t, '')) AS c FROM s))
                AS BIGINT) AS n_single_pieces,
           CAST(1.0 AS DOUBLE) AS prob_total,
           CAST(1 AS BIGINT) AS ll_monotone,
           CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS encoded_docs,
           CAST(0 AS BIGINT) AS roundtrip_mismatch,
           CAST(1 AS BIGINT) AS compressed
    """,
)
def q_unigram_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE certificate for the unigram-LM trainer (the
    q_bpe_invariants pattern): runs the real EM fit, then emits a 1-row
    table of laws hash-checked against independently-recomputed values:

    - n_docs_sampled / n_chars_capped: training-set conservation —
      DuckDB recomputes both from the corpus, so a trainer that reads a
      different sample (or cap) breaks the hash;
    - n_single_pieces == DISTINCT chars of the sample: the trainer's
      full-coverage invariant (seeding takes every char; pruning never
      drops a single) — recomputed by DuckDB from the corpus;
    - prob_total == 1.0: the fitted distribution normalizes (6-dp);
    - ll_monotone == 1: corpus log-likelihood is non-decreasing within
      each EM phase (the EM theorem; pruning between phases may drop
      LL, hence per-phase traces) at 1e-6 tolerance;
    - encoded_docs == n_docs_sampled: every sampled doc Viterbi-parses
      under the trained vocab (coverage held end-to-end);
    - roundtrip_mismatch == 0: concatenating each doc's pieces
      reproduces its capped text exactly (the parse neither drops nor
      reorders characters);
    - compressed == 1: the parse uses strictly fewer pieces than chars
      (learned multi-char pieces actually win parses — the vocab is
      value-exercised, not just carried)."""
    from data_integration_spark.operators.unigram_lm import (
        em_train,
        viterbi_encode,
    )

    sample = _train_sample(spark, sf_dir).cache()
    try:
        vocab, lls1, lls2 = em_train(
            sample,
            "t",
            max_piece_len=_MAX_PIECE,
            vocab_target=_VOCAB_TARGET,
            iters_per_phase=_ITERS,
        )
        base = sample.agg(
            F.count("*").cast("long").alias("n_docs_sampled"),
            F.sum(F.length("t")).cast("long").alias("n_chars_capped"),
        ).collect()[0]
        enc = viterbi_encode(
            sample, vocab, id_col="doc_id", text_col="t", keep_text="t_in"
        )
        stats = enc.agg(
            F.count("*").cast("long").alias("encoded_docs"),
            F.sum(
                F.when(
                    F.concat_ws("", F.col("pieces")) != F.col("t_in"), 1
                ).otherwise(0)
            ).cast("long").alias("roundtrip_mismatch"),
            (F.sum("n_pieces") < F.sum(F.length("t_in")))
            .cast("long")
            .alias("compressed"),
        ).collect()[0]
    finally:
        sample.unpersist()

    def monotone(lls: list[float]) -> bool:
        return all(b >= a - 1e-6 for a, b in zip(lls, lls[1:]))

    row = {
        "n_docs_sampled": base["n_docs_sampled"],
        "n_chars_capped": base["n_chars_capped"],
        "n_single_pieces": sum(1 for p in vocab if len(p) == 1),
        "prob_total": round(sum(math.exp(lp) for lp in vocab.values()), 6),
        "ll_monotone": int(monotone(lls1) and monotone(lls2)),
        "encoded_docs": stats["encoded_docs"],
        "roundtrip_mismatch": stats["roundtrip_mismatch"],
        "compressed": stats["compressed"],
    }
    return local_table(
        spark,
        [row],
        schema=(
            "n_docs_sampled long, n_chars_capped long,"
            " n_single_pieces long, prob_total double, ll_monotone long,"
            " encoded_docs long, roundtrip_mismatch long, compressed long"
        ),
    )


# ---------------------------------------------------------------------------
# Viterbi encode under a pinned formula vocabulary (full oracle)
# ---------------------------------------------------------------------------
# The pinned vocab over the hex alphabet: every single hex char plus the
# 2-grams whose index (i*16+j) is divisible by 3. Costs are exact
# multiples of 1/64 (binary fractions → float sums are EXACT on both
# engines, so min-cost ties are engine-independent and broken by the
# lexicographically smallest piece-length sequence — exactly what
# viterbi_encode's greedy reconstruction emits and the oracle's
# MIN(pattern-string) restates).
_HEX = "0123456789abcdef"


def _pinned_unigram_costs() -> dict[str, float]:
    costs = {c: 2.0 + i / 64.0 for i, c in enumerate(_HEX)}
    for i, a in enumerate(_HEX):
        for j, b in enumerate(_HEX):
            if (i * 16 + j) % 3 == 0:
                costs[a + b] = 3.0 + ((i * 16 + j) % 23) / 64.0
    return costs


def _compositions_1_2(total: int) -> list[tuple[int, ...]]:
    """All compositions of ``total`` into parts of size 1 or 2 —
    Fib(total+1) of them (34 for total=8): the brute-force parse space
    the oracle scores exhaustively."""
    out: list[tuple[int, ...]] = []

    def rec(prefix: list[int], rem: int) -> None:
        if rem == 0:
            out.append(tuple(prefix))
            return
        for l in (1, 2):
            if l <= rem:
                rec(prefix + [l], rem - l)

    rec([], total)
    return out


_KEY_LEN = 8


def _segs_values() -> str:
    rows = []
    for comp in _compositions_1_2(_KEY_LEN):
        pattern = ",".join(str(l) for l in comp)
        off = 1
        for seg_idx, l in enumerate(comp, start=1):
            rows.append(f"('{pattern}', {seg_idx}, {off}, {l})")
            off += l
    return ",\n      ".join(rows)


_UNIGRAM_ENCODE_ORACLE = f"""
WITH keys AS (
  SELECT doc_id, SUBSTRING(MD5(text), 1, {_KEY_LEN}) AS key FROM documents
),
v1 AS (
  SELECT SUBSTRING('{_HEX}', i + 1, 1) AS piece,
         2.0 + i / 64.0 AS piece_cost
  FROM UNNEST(GENERATE_SERIES(0, 15)) t(i)
),
v2 AS (
  SELECT SUBSTRING('{_HEX}', a.i + 1, 1)
           || SUBSTRING('{_HEX}', b.j + 1, 1) AS piece,
         3.0 + ((a.i * 16 + b.j) % 23) / 64.0 AS piece_cost
  FROM UNNEST(GENERATE_SERIES(0, 15)) a(i),
       UNNEST(GENERATE_SERIES(0, 15)) b(j)
  WHERE (a.i * 16 + b.j) % 3 = 0
),
vocab AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
segs(pattern, seg_idx, seg_off, seg_len) AS (
  VALUES {{SEGS}}
),
parses AS (
  SELECT k.doc_id, k.key, s.pattern, s.seg_idx,
         SUBSTRING(k.key, s.seg_off, s.seg_len) AS piece
  FROM keys k, segs s
),
scored AS (
  SELECT p.doc_id, p.key, p.pattern,
         SUM(v.piece_cost) AS cost,
         COUNT(v.piece_cost) AS n_found,
         COUNT(*) AS n_segs,
         STRING_AGG(v.piece, ' ' ORDER BY p.seg_idx) AS encoded
  FROM parses p LEFT JOIN vocab v ON v.piece = p.piece
  GROUP BY p.doc_id, p.key, p.pattern
),
best AS (
  SELECT doc_id, key, encoded, n_segs, cost,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY cost, pattern
         ) AS rn
  FROM scored WHERE n_found = n_segs
)
SELECT doc_id, key, encoded, CAST(n_segs AS BIGINT) AS n_pieces,
       ROUND(cost, 6) AS cost
FROM best WHERE rn = 1
""".replace("{SEGS}", _segs_values())


@register("q_unigram_encode", oracle=_UNIGRAM_ENCODE_ORACLE)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi best-parse ENCODE under a pinned formula vocabulary —
    the tokenizer APPLY step with a FULL oracle: each doc contributes a
    bounded 8-char key (its md5 prefix — deterministic, alphabet-closed
    over hex), the vocab is every hex char (cost 2 + i/64) plus the
    2-grams with (i·16+j) % 3 == 0 (cost 3 + ((i·16+j) % 23)/64 — any
    available 2-gram beats two singles, so the DP genuinely chooses
    between overlapping tilings), and the REAL dynamic program
    (operators/unigram_lm.py::viterbi_encode — backward min-cost +
    greedy shortest-first reconstruction) must match DuckDB's
    brute-force over ALL 34 segmentations of 8 into 1/2-char pieces,
    minimum by (exact cost, lexicographic length-pattern). Costs are
    exact 1/64-multiples → float sums are exact on both engines; the
    greedy reconstruction and MIN(pattern) restate the SAME tie-break
    (no composition is a string-prefix of another, both sum to 8).

    Scale: a narrow mapInPandas — the frozen vocab rides the closure,
    each doc is an independent O(len·max_piece) DP, no shuffle."""
    from data_integration_spark.operators.unigram_lm import viterbi_encode

    # spread the single-split scan before the per-doc DP kernel (r15,
    # guide §2.5 — only (doc_id, 8-char key) rows cross, once)
    from data_integration_spark.sources.catalog import spread_scan

    docs = spread_scan(
        Catalog(spark, sf_dir)["documents"].select(
            "doc_id",
            F.substring(
                F.md5(F.col("text").cast("binary")), 1, _KEY_LEN
            ).alias("key"),
        )
    )
    enc = viterbi_encode(
        docs,
        _pinned_unigram_costs(),
        id_col="doc_id",
        text_col="key",
        costs=True,
        keep_text="key",
    )
    return enc.select(
        "doc_id",
        "key",
        F.concat_ws(" ", F.col("pieces")).alias("encoded"),
        "n_pieces",
        F.round("cost", 6).alias("cost"),
    )


@register("q_unigram_persist", oracle=_UNIGRAM_ENCODE_ORACLE)
def q_unigram_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ARTIFACT round-trip — the persistence member of the
    tokenizer family (a tokenizer is fit once per release and shipped to
    every encode job; the artifact IS the contract): SAVE the pinned
    vocabulary (similarity/persist.py::save_unigram_vocab — (piece,
    cost) parquet + meta), LOAD it back, and Viterbi-encode FROM THE
    LOADED ARTIFACT. The oracle is the SAME brute-force parse oracle as
    q_unigram_encode — persistence must not change a single parse
    (the q_winnowing_registry_persist precedent: the round-trip is
    hash-checked by value, not by trusting the save path)."""
    from data_integration_spark.operators.unigram_lm import viterbi_encode
    from data_integration_spark.similarity.persist import (
        load_unigram_vocab,
        save_unigram_vocab,
    )

    path = scratch_dir("unigram_vocab")
    save_unigram_vocab(spark, _pinned_unigram_costs(), path)
    costs, max_len = load_unigram_vocab(spark, path)
    # spread the single-split scan before the per-doc DP kernel (r15,
    # guide §2.5 — only (doc_id, 8-char key) rows cross, once)
    from data_integration_spark.sources.catalog import spread_scan

    docs = spread_scan(
        Catalog(spark, sf_dir)["documents"].select(
            "doc_id",
            F.substring(
                F.md5(F.col("text").cast("binary")), 1, _KEY_LEN
            ).alias("key"),
        )
    )
    enc = viterbi_encode(
        docs,
        costs,
        id_col="doc_id",
        text_col="key",
        max_piece_len=max_len,
        costs=True,
        keep_text="key",
    )
    return enc.select(
        "doc_id",
        "key",
        F.concat_ws(" ", F.col("pieces")).alias("encoded"),
        "n_pieces",
        F.round("cost", 6).alias("cost"),
    )
