"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries are fully materialized through the noop sink (no driver collect —
measures the distributed plan, not result transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the headline set: one per operator family, weighted toward shuffle/join/agg
# paths that dominate at scale
HEADLINE = [
    "q_report_final",
    "q_weighted_mean_by_group",
    "q_survey_mean_se",
    "q_groupby_count",
    "q_bind_via_join",
    "q_broadcast_lookup",
    "q_rank_window",
    "q_window_tumbling",
    "q_asof_join",
    "q_mspe_by_group",
    "q_dedup_exact",
    "q_token_count",
    "q_ngram_jaccard",
    "q_cosine_pairs",
    "q_ann_topk",
]

# Heavy LLM-ops stack, driver-tracked since r6 (VERDICT r5 #5) so a perf
# regression in the dedup/ANN extension surface is visible round-over-round.
# Reported SEPARATELY from the 15-query headline total: "value" must stay
# comparable to BASELINE.md / BENCH_r01..r05, which were recorded over
# exactly the 15 names above.
LLM_OPS = [
    "q_dedup_minhash",  # full MinHash+banded-LSH pipeline incl. verification
    "q_ann_ivf",        # IVF build (sample-trained quantizer) + probe search
    "q_vocab_encode",   # vocab build + Zipf-skewed token-keyed encode join (r6)
    "q_ann_pq",         # PQ codebook fit + encode + ADC shortlist + rerank (r7)
    "q_substring_dedup",  # exact-substring span dedup: gram registry + coverage (r7)
    "q_bpe_train",      # distributed BPE merge training, 8 iterations (r7)
    "q_image_dedup_dhash",       # perceptual image near-dup: dHash + pigeonhole (r10)
    "q_audio_dedup_fingerprint", # perceptual audio near-dup: energy hash + pigeonhole (r10)
    "q_winnowing_fingerprint",   # MOSS winnowing fingerprints + pair join (r10)
    "q_winnowing_registry_persist",  # registry save + load + incremental pair (r11)
    "q_audio_spectral_fingerprint",  # full Haitsma-Kalker multi-band FFT hash (r11)
    "q_unigram_train",           # unigram-LM tokenizer: lattice EM fit (r11)
    "q_ann_ivfpq_self_join",     # IVFADC corpus self-join: cogrouped LUT gathers (r11)
    "q_image_dedup_phash",       # perceptual image near-dup: DCT pHash + pigeonhole (r11)
    "q_heavy_hitters_mg",        # one-pass Misra-Gries summary + certificate (r13)
    "q_linkage_certificate",     # blocked F-S pattern reduction + EM + 9M-pair score (r13)
    "q_ann_opq",                 # OPQ rotation fit + dual PQ MSE certificate (r13)
    "q_quality_nb_filter",       # NB quality filter: 1-scan label+train+score (r14)
    "q_crossmodal_dedup",        # image↔text: decode→DCT→projection→GEMM (r14)
    "q_overlap_kmv",             # KMV/theta-sketch source-overlap matrix (r14)
    "q_semdedup",                # SemDeDup: assign + per-cell GEMM dedup map (r15)
    "q_crawl_frontier",          # URL canonicalize + host politeness stats (r15)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_integration_spark.queries import QUERIES, load_all
    from data_integration_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="bench")
    # warm the JVM + parquet footers once (not measured per-query)
    QUERIES["q_scan_parquet"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # box-drift calibration (VERDICT r9 #8): a fixed-cost reference job —
    # the plain lineitem scan through the noop sink — timed with the SAME
    # min-of-N methodology. Its cost is dominated by scheduler + scan
    # machinery that drifts with box load exactly like the real queries,
    # so "calibrated_ratio" (headline total / calibration sec) lets a
    # cross-round reader separate code regressions from the documented
    # ±20%/day box swings that made r8→r9 look like a uniform +13%.
    passes_env = os.environ.get("SPARK_GRAFT_BENCH_PASSES")
    # clamp to ≥1: an explicit 0/negative would otherwise leave cal_passes
    # empty and min() raising ValueError (ADVICE r14)
    n_passes = max(1, int(passes_env)) if passes_env is not None else 3
    # the calibration scan is the DENOMINATOR of every cross-round
    # comparison, so BY DEFAULT it gets a tighter floor than the queries:
    # min-of-5 (VERDICT r12 #3 — the r11→r12 calibrated_ratio drift was
    # mostly a noisy 3-pass denominator; 5 passes of a 0.3 s scan cost
    # ~1.5 s total). An EXPLICIT SPARK_GRAFT_BENCH_PASSES is honored as
    # written (ADVICE r13: a =1 smoke run shouldn't silently pay 5
    # calibration scans — smoke timings then aren't cross-round
    # comparable, which a smoke run accepts by definition).
    cal_passes = []
    for _ in range(n_passes if passes_env is not None else max(n_passes, 5)):
        t0 = time.perf_counter()
        QUERIES["q_scan_parquet"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        cal_passes.append(time.perf_counter() - t0)
    calibration = round(min(cal_passes), 3)

    times: dict[str, float] = {}
    llm_times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE + LLM_OPS:
        # one untimed warm run (plan compilation + code-gen + broadcast build),
        # then THREE timed steady-state runs, reporting the min — the box
        # swings ±20% under load, so min-of-3 plus the observed per-query
        # spread (max−min of the timed passes) lets a reader separate real
        # regressions from scheduler noise (same methodology every round)
        # SPARK_GRAFT_BENCH_PASSES raises the timed pass count (e.g. 5) for
        # drift investigations; the recorded default stays 3 so per-round
        # numbers remain methodology-comparable
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        passes = []
        for _ in range(n_passes):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            passes.append(time.perf_counter() - t0)
        (times if name in HEADLINE else llm_times)[name] = round(min(passes), 3)
        spreads[name] = round(max(passes) - min(passes), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # stdout carries exactly ONE JSON line (the driver's contract), printed
    # LAST — after spark.stop(), so no late JVM output lands after it, and
    # in a finally, so a failing stop cannot swallow it. Per-query spreads
    # are diagnostics and go to stderr.
    print(json.dumps({"spread": spreads}), file=sys.stderr)
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            # "value" = the SAME 15-query set every round (baseline
            # comparability); the LLM-ops stack is tracked alongside
            # under its own keys
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "llm_ops": llm_times,
            "llm_ops_total": round(sum(llm_times.values()), 3),
            # fixed-cost reference job + box-drift-normalized headline:
            # compare calibrated_ratio across rounds, not raw seconds
            "calibration_sec": calibration,
            "calibrated_ratio": round(sum(times.values()) / calibration, 2)
            if calibration > 0
            else None,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    try:
        spark.stop()
    finally:
        print(line)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
