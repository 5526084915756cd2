"""Generate SHUFFLE.md: measured shuffle-write volume per headline
query at sf0.1 — the quantity behind the Exchange-count budgets in
tests/test_plans.py. Exchange counts catch a NEW shuffle; this report
catches a shuffle that silently got FATTER (lost pushdown, lost
pre-aggregation, wider rows through an explode).

Each query's noop write runs inside
`projetbigdata_spark.plans.introspect.shuffle_write`, which sums
shuffleWriteBytes over the stages it completed, read from the
session's own status store (plan-tree metric walking is unreliable
under AQE reuse). The pytest battery uses the same reader: each
budgeted query's oracle-parity test asserts its bytes against
`budget_for(SF_CHECK)`, so this tool is only for manual runs.

Usage:
    python tools/shuffle_report.py [--sf DIR]          # write SHUFFLE.md
    python tools/shuffle_report.py --check [--sf DIR]  # budgeted only

--check (VERDICT r3 item 8) runs only the budgeted queries and exits 1
if any query's shuffle write exceeds its pinned byte ceiling — the
per-query shuffle-VOLUME twin of test_plans.py's exchange-count
budgets. It is the only consumer of the sf0.1 table.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bench headliners + the curation tier (the 21 names test_plans.py pins
# by stage count, plus the late-r3 operators whose scale posture
# SCALE.md documents)
QUERIES = [
    "vocab_topk",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q9_product_profit",
    "q18_large_orders",
    "join_asof_purchase_click",
    "window_rank_orders",
    "text_tfidf_top",
    "bow_vectorize",
    "dedup_jaccard_pairs",
    "dedup_minhash_buckets",
    "sim_topk_bruteforce",
    "sim_ann_lsh_topk",
    "sim_ivf_topk",
    "events_session_30m",
    "events_multi_rollup",
    "events_gaps_islands",
    "dedup_components_minhash",
    "contamination_ngram_overlap",
    "dedup_span_profile",
    "text_unigram_freq_score",
    "text_redact_pii",
    "scd2_history",
    "events_click_attribution",
    "map_functions",
    # r4 additions
    "corpus_curate",
    "corpus_domain_stats",
    "corpus_quality_quantiles",
    "dedup_component_sizes",
    "sim_ivf_incremental",
    "corpus_sample_assign",
    # r5 additions
    "corpus_curate_calibrated",
    "dedup_semantic",
    "corpus_bpe_encode",
    "corpus_temperature_mix",
    # r5 second wave
    "text_search_bm25",
    "dedup_containment_pairs",
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "text_bigram_prob_score",
    "corpus_bpe_fertility",
    "events_anomaly_mad",
    "corpus_ngram_diversity",
    "corpus_source_divergence",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "ann_recall_report",
    # r6 additions
    "corpus_dsir_weights_smoothed",
    "ann_recall_report_ivfpq",
    "dedup_span_removal",
    "dedup_span_removal_incremental",
    "text_feature_hashing",
    # r7 additions
    "corpus_dsir_weights_hashed",
    "corpus_token_budget_sample",
    "dedup_span_decontaminate",
    "text_search_phrase",
    "sim_mmr_rerank",
    "sim_mmr_rerank_ivf",
    "sim_mmr_rerank_pq",
    "join_key_skew_report",
    "docs_pack_nextfit",
    "dedup_tier_overlap_report",
    "corpus_dsir_weights_hashed_incremental",
    "search_hybrid_rrf",
    "search_hybrid_rrf_ivf",
    # r8 additions
    "corpus_quality_classifier_scores",
    "text_search_phrase3",
    "text_search_phrase_slop",
    "corpus_softdedup_weights",
    "corpus_quality_classifier_report",
    "dedup_keep_best_quality",
    "corpus_cluster_balance_sample",
    "search_hybrid_rrf_pq",
    "corpus_quality_select",
    "text_search_phrase_kslop",
    # r9 additions
    "dedup_bucket_cap_report",
    "corpus_source_cap",
    "corpus_lang_cap",
    "dedup_lines",
    "dedup_lines_incremental",
    # r9 second wave
    "text_trigram_backoff_score",
    "text_trigram_backoff_score_incremental",
    "corpus_perplexity_buckets",
    "corpus_cluster_top_terms",
    "dedup_incremental_bloom",
    "dedup_bloom_fp_report",
    "corpus_c4_clean",
    "corpus_quality_calibration_report",
    "text_lang_lines",
    # r9 third wave
    "corpus_gopher_clean",
    "text_gopher_repetition",
    "corpus_gopher_repetition_clean",
    # r9 fourth wave (first two zero-shuffle by design)
    "dedup_lines_within",
    "text_normalize",
    "dedup_exact_normalized",
    # r10 additions (the composed verdict + the sketch calibrators;
    # the sketch tiers' point is LESS shuffle than their exact twins)
    "corpus_ccnet_select",
    "corpus_perplexity_buckets_approx",
    "corpus_quality_quantiles_approx",
    # r10 second wave
    "text_trigram_backoff_score_pruned",
    "corpus_ccnet_select_incremental",
    # r11: the guessed-key CCNet variant (guess itself is zero-shuffle)
    "corpus_ccnet_select_guessed",
    # r11 third wave: the index-health audit (Lloyd folds + k-row agg)
    "sim_ivf_posting_stats",
    # r12: the remove_ids probe (anti-join streams on top of the
    # incremental row) + the base-artifact health audit
    "sim_ivf_incremental_deleted",
    "sim_ivf_posting_stats_base",
    # r12: multi-class langid + the CCNet composition keyed on it
    "text_lang_guess_multi",
    "corpus_ccnet_select_guessed_multi",
]


# Shuffle-write BYTE budgets (--check): ceiling = 2 x the SHUFFLE.md
# r4 measurement, floored at 1.0 MB so sub-MB shuffles don't trip on
# per-run framing noise. Only queries whose measured volume is big
# enough to carry signal are gated — near-zero-shuffle queries are
# already covered by the exchange-COUNT budgets in tests/test_plans.py
# (a new shuffle there is the only way they can regress). A breach here
# with the exchange count unchanged means the SAME shuffle got fatter:
# lost column pruning, lost map-side partial agg, or a raw string
# where a hashed key used to travel.
BYTE_BUDGET_MB = {
    "vocab_topk": 2.0,
    "q18_large_orders": 2.5,
    "join_asof_purchase_click": 2.0,
    "window_rank_orders": 1.5,
    "text_tfidf_top": 8.6,
    "bow_vectorize": 3.4,
    "dedup_jaccard_pairs": 2.2,
    "dedup_minhash_buckets": 2.5,
    "events_session_30m": 5.6,
    "events_gaps_islands": 4.1,
    "dedup_components_minhash": 3.3,
    "contamination_ngram_overlap": 5.7,
    "dedup_span_profile": 9.2,
    "scd2_history": 6.7,
    # r4: the composed audit inherits its stages' volumes; gating the
    # composition catches a fattening any single-stage budget misses
    "corpus_curate": 19.1,
    "dedup_component_sizes": 3.3,
    # r5: the calibrated audit adds the |langs|-row quantile subtree
    # to corpus_curate's volume; semantic dedup's bytes are the
    # cluster-assignment + within-cluster pair rows
    "corpus_curate_calibrated": 22.2,
    "dedup_semantic": 5.4,
    # r5 second wave: BM25's volume is the tf/dl streams; the other
    # non-PQ additions shuffle <0.3 MB and stay under the
    # exchange-count gate only
    "text_search_bm25": 4.0,
    # PQ tiers: the subvector/code frames are the volume
    "sim_pq_topk": 3.0,
    "sim_ivfpq_topk": 3.0,
    # r6/r7: the span family's volume is the 8-byte span-key streams;
    # hashed DSIR's is the per-(doc,bucket) histogram; hybrid RRF
    # inherits BM25's tf/dl streams
    "dedup_span_removal": 7.2,
    "dedup_span_removal_incremental": 6.0,
    "text_feature_hashing": 4.0,
    "corpus_dsir_weights_hashed": 5.1,
    "corpus_dsir_weights_hashed_incremental": 5.7,
    "dedup_span_decontaminate": 2.7,
    "search_hybrid_rrf": 3.9,
    # r8 >1 MB shufflers: the classifier rows' volume is the hashed-
    # feature stream; softdedup / keep-best inherit their component +
    # span subtrees; the PQ fusion inherits BM25 + the code frames
    "corpus_quality_classifier_scores": 4.0,
    "corpus_quality_classifier_report": 4.0,
    "corpus_softdedup_weights": 15.4,
    "dedup_keep_best_quality": 9.9,
    "search_hybrid_rrf_pq": 6.3,
    "corpus_quality_select": 4.0,
    # r9 >1 MB shuffler: the signature hash-agg's per-shingle stream
    # (measured 1.46 MB at sf0.1; ceiling ~1.5x)
    "dedup_bucket_cap_report": 2.2,
    # r9 second wave: the trigram scorer's volume is the (doc,
    # trigram) pre-agg stream (trigram strings ARE the join keys);
    # the bucket composition adds only the skinny (lang, score) rows
    # on top (both measured ~5.6 MB at sf0.1)
    "text_trigram_backoff_score": 11.2,
    "corpus_perplexity_buckets": 11.3,
    # r10: both dominated by the same (doc, trigram) pre-agg as the
    # trigram pair; the composed verdict adds the cap/anchor joins
    "corpus_ccnet_select": 11.6,
    # r11: guessed-key variant — same scorer-dominated streams; the
    # guess adds zero shuffle (measured 5.8 MB at sf0.1, ceiling 2x)
    "corpus_ccnet_select_guessed": 11.6,
    "corpus_perplexity_buckets_approx": 11.3,
    "text_trigram_backoff_score_pruned": 11.3,
    "corpus_ccnet_select_incremental": 11.2,
    # r9 third wave: the full Gopher profile's two skinny gram
    # streams — 9 sizes' counts + 6 sizes' positions (measured
    # 34.6 MB at sf0.1; ~3 MB per profile column; the two fatter
    # spellings measured are documented at the operator). The
    # ceiling verdict shares the identical plan + one projection.
    "text_gopher_repetition": 69.2,
    "corpus_gopher_repetition_clean": 69.2,
}

# sf0.01 twin of the table above (r13), the one the pytest battery
# asserts inside tests/test_oracle_parity.py at its own sf0.01 run.
# Same invariant — a shuffle that gets FATTER (lost pruning / partial
# agg, strings where hashed keys traveled) breaches at any SF
# proportionally. Ceilings are 2x the r13 sf0.01 measurement with a
# 0.3 MB floor absorbing absolute framing noise; the sf0.1 table above
# stays for manual full-scale runs
# (`python tools/shuffle_report.py --check` with the default --sf).
BYTE_BUDGET_MB_SF001 = {
    "bow_vectorize": 0.4,
    "contamination_ngram_overlap": 0.6,
    "corpus_ccnet_select": 1.0,
    "corpus_ccnet_select_guessed": 1.4,
    "corpus_ccnet_select_incremental": 1.0,
    "corpus_curate": 2.8,
    "corpus_curate_calibrated": 2.6,
    "corpus_dsir_weights_hashed": 0.8,
    "corpus_dsir_weights_hashed_incremental": 0.8,
    "corpus_gopher_repetition_clean": 6.8,
    "corpus_perplexity_buckets": 0.8,
    "corpus_perplexity_buckets_approx": 0.8,
    "corpus_quality_classifier_report": 0.4,
    "corpus_quality_classifier_scores": 0.4,
    "corpus_quality_select": 0.4,
    "corpus_softdedup_weights": 1.7,
    "dedup_bucket_cap_report": 0.3,
    "dedup_component_sizes": 0.3,
    "dedup_components_minhash": 0.3,
    "dedup_jaccard_pairs": 2.7,
    "dedup_keep_best_quality": 1.2,
    "dedup_minhash_buckets": 0.3,
    "dedup_semantic": 1.7,
    "dedup_span_decontaminate": 0.3,
    "dedup_span_profile": 1.0,
    "dedup_span_removal": 0.7,
    "dedup_span_removal_incremental": 0.6,
    "events_gaps_islands": 0.4,
    "events_session_30m": 0.6,
    "join_asof_purchase_click": 0.3,
    "q18_large_orders": 0.3,
    "scd2_history": 0.7,
    "search_hybrid_rrf": 0.4,
    "search_hybrid_rrf_pq": 0.7,
    "sim_ivfpq_topk": 0.6,
    "sim_pq_topk": 0.4,
    "text_feature_hashing": 0.4,
    "text_gopher_repetition": 6.8,
    "text_search_bm25": 0.4,
    "text_tfidf_top": 0.9,
    "text_trigram_backoff_score": 0.8,
    "text_trigram_backoff_score_pruned": 0.8,
    "vocab_topk": 0.3,
    "window_rank_orders": 0.3,
}


def budget_for(sf_dir: str) -> dict[str, float]:
    """The byte-budget table for a fixture dir: sf0.01 has its own."""
    if sf_dir.rstrip("/").endswith("sf0.01"):
        return BYTE_BUDGET_MB_SF001
    return BYTE_BUDGET_MB


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--check",
        action="store_true",
        help="gate budgeted queries against their byte budget; exit 1 on breach",
    )
    args = ap.parse_args()

    from projetbigdata_spark import registry
    from projetbigdata_spark.plans.introspect import shuffle_write
    from projetbigdata_spark.session import get_spark

    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("shuffle-report")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries, _ = registry.collect()
    budget = budget_for(args.sf)
    rows = []
    for name in sorted(budget) if args.check else QUERIES:
        t0 = time.time()
        w = shuffle_write(
            spark,
            lambda: queries[name](spark, args.sf)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        rows.append((name, time.time() - t0, w))
        print(
            f"{name:30s} {w.bytes / 1e6:9.2f} MB {w.records:>10} rows "
            f"{w.stages:>3} stages {rows[-1][1]:6.2f}s"
        )
    spark.stop()

    if args.check:
        breaches = [(n, w) for n, _, w in rows if w.bytes / 1e6 > budget[n]]
        for n, w in breaches:
            print(
                f"BREACH {n}: {w.bytes / 1e6:.2f} MB > {budget[n]:.2f}"
                " MB budget — same-shuffle fattening?"
            )
        if not breaches:
            print(f"OK: {len(rows)} queries within shuffle-byte budgets")
        return 1 if breaches else 0

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SHUFFLE.md",
    )
    with open(out, "w") as f:
        f.write(
            "# SHUFFLE — measured shuffle-write volume per headline "
            "query\n\n"
            f"Generated by `tools/shuffle_report.py` at `{args.sf}` "
            f"(local[{cpus}], warm-ish sequential run; wall times are\n"
            "indicative only — bench.py is the timing source of truth).\n"
            "Complements the Exchange-count budgets in tests/test_plans.py:"
            "\ncounts catch a NEW shuffle, these bytes catch a shuffle "
            "that got\nFATTER (lost pushdown / pre-aggregation, wider "
            "shuffle rows).\n\n"
            "| Query | Shuffle write | Shuffle rows | Stages | Wall |\n"
            "|---|---|---|---|---|\n"
        )
        for n, sec, w in rows:
            f.write(
                f"| {n} | {w.bytes / 1e6:.2f} MB | {w.records} | "
                f"{w.stages} | {sec:.2f}s |\n"
            )
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
