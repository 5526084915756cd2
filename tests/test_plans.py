"""Plan-shape regression tests: the scale properties we designed each
operator around (SURVEY.md §4) must be visible in the physical plan —
pushdown at the scan, broadcast for dims, no cartesian blowups, and
the single-window as-of shape. If a refactor silently loses one of
these, correctness tests stay green but 100 TB behavior regresses;
these tests make that a CI failure instead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projetbigdata_spark import registry
from projetbigdata_spark.plans import introspect as pi
from tests.conftest import SF_CHECK

QUERIES, _ = registry.collect()

# Nested-loop joins (BroadcastNestedLoopJoin + CartesianProduct) each
# query's final plan may hold; every other registered query holds none.
# The entries legitimately cross-join a 1-row/virtual side or are
# declared all-pairs baselines, pinned by count: an all-pairs join that
# comes back next to a declared fold moves neither exchanges nor stages.
NESTED_LOOP_BUDGET = {
    "text_idf": 1,  # crossJoin with a 1-row count aggregate (broadcast)
    "text_tfidf_top": 1,
    "ml_chisq_tokens": 1,
    "quality_constraints": 1,  # 1-row aggregate x 1-row orphan count combine
    # brute-force all-pairs baseline: the non-equi condition makes a
    # (broadcast) nested-loop the intended plan; the scale paths are
    # the LSH-bucketed variants (sim_ann_lsh_topk, sim_neardup_pairs)
    "sim_topk_bruteforce": 1,
    # recall telemetry composes the brute baseline, inheriting its
    # declared nested-loop (that tier IS the ground truth being audited)
    "ann_recall_report": 2,
    "ann_recall_report_ivfpq": 4,
    # exact all-pairs neardup baseline, registered by name for exact-
    # recall consumers after sim_neardup_pairs moved to LSH pruning
    "sim_neardup_allpairs_exact": 1,
    # 1-row scalar-aggregate cross joins (broadcast): Q11's total-value
    # threshold, Q22's positive-balance average, vocab growth's corpus
    # max-doc denominator
    "q11_important_stock": 1,
    "q22_sales_opportunity": 1,
    "corpus_vocab_growth": 1,
    # unigram score crossJoins the 1-row corpus-total aggregate
    # (broadcast) — same class as text_idf
    "text_unigram_freq_score": 1,
    # r5 second wave, same 1-row-broadcast-total class: BM25 folds
    # (N docs, S tokens) into the |terms|-row idf table; DSIR folds
    # (r_total, t_total) into the ratio table
    "text_search_bm25": 2,
    "corpus_dsir_weights": 1,
    "corpus_dsir_weights_smoothed": 1,
    # r7: the hashed variant folds the same (r_total, t_total) 1-row
    # total into the V-row bucket-ratio table
    "corpus_dsir_weights_hashed": 1,
    # r7: hybrid RRF crossJoins the broadcast 1-row query vector (the
    # sim_topk_bruteforce shape) + BM25's inherited totals folds
    "search_hybrid_rrf": 3,
    "search_hybrid_rrf_ivf": 4,
    "search_hybrid_rrf_pq": 2,
    # r7: skew report crossJoins each table's broadcast 1-row totals
    "join_key_skew_report": 2,
    # r7: the ingest twin folds the totals twice (ratio table + the
    # unseen-bucket add-one floor on the probe side)
    "corpus_dsir_weights_hashed_incremental": 2,
    # dsir_sample crossJoins the 1-row (Σw, n) aggregate (broadcast)
    "corpus_dsir_sample": 1,
    # source divergence crossJoins TWO 1-row broadcast constants
    # (corpus token total; Σp floor-dust constant)
    "corpus_source_divergence": 1,
    # incremental IVF: the centroid-distance fold is a crossJoin
    # against the BROADCAST k-row centroid table (k=16 rows) — the
    # same per-assignment shape sim_ivf_topk uses, visible here only
    # because its dists feed single consumers and skip the
    # localCheckpoint that hides the siblings' folds from the final
    # plan. Candidate generation itself is the equi-join probe.
    "sim_ivf_incremental": 1,
    # r13: the in-row assignment tier folds each vector against the
    # broadcast ONE-ROW centroid-array frame (crossJoin + array_min —
    # replaces the n×k long-form distance table and its argmin
    # shuffle), so the declared 1-row broadcast fold is now visible in
    # the final plan of every IVF search instead of only the
    # incremental tier's
    "sim_ivf_topk": 2,
    "sim_ivf_sampled_topk": 2,
    "sim_ivfpq_topk": 2,
    # r12: the tombstoned probe is sim_ivf_incremental + one anti-join
    # (no new folds); the base-artifact audit is the base-index build's
    # broadcast k-row centroid folds + the stats core's declared
    # broadcast 1-row totals fold
    "sim_ivf_incremental_deleted": 1,
    "sim_ivf_posting_stats_base": 1,
    # r8: cluster balance crossJoins the broadcast 1-row (n_total,
    # n_clusters) aggregate — the declared-broadcast totals class
    "corpus_cluster_balance_sample": 1,
    # r8: quality select crossJoins TWO broadcast 1-row constants
    # (the corpus total feeding the budget; the threshold bin)
    "corpus_quality_select": 2,
    # r9: share caps crossJoin the broadcast 1-row corpus total —
    # the declared-broadcast totals class (cluster balance's shape)
    "corpus_source_cap": 1,
    "corpus_lang_cap": 1,
    # r10: the composed CCNet verdict inherits the cap core's declared
    # 1-row broadcast total AND the SB scorer's b_total fold
    "corpus_ccnet_select": 1,
    "corpus_ccnet_select_incremental": 3,
    # r11: the guessed-key variant inherits the same declared 1-row
    # broadcast totals (cap core + SB scorer b_total)
    "corpus_ccnet_select_guessed": 1,
    # r12: the multi-class-key variant inherits them identically (the
    # guess subtree itself is equi-joins only)
    "corpus_ccnet_select_guessed_multi": 1,
    # r11: the posting-stats audit is the Lloyd tier's broadcast
    # k-row centroid folds + a declared broadcast 1-row totals fold
    "sim_ivf_posting_stats": 1,
    # r9 second wave: the Stupid-Backoff scorer crossJoins the
    # broadcast 1-row target bigram total (b_total); the cluster
    # labeler crossJoins the broadcast 1-row corpus token total —
    # both the declared-broadcast totals class
    "text_trigram_backoff_score": 1,
    "text_trigram_backoff_score_pruned": 1,
    "text_trigram_backoff_score_incremental": 1,
    "corpus_cluster_top_terms": 1,
}


# Physical plan text per registered query, built once per session: the
# nested-loop sweep and the exchange pins read the same plan instead of
# rebuilding the query (and its eager barriers) each.
_PLANS: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLANS:
        _PLANS[name] = pi.physical_plan(QUERIES[name](spark, SF_CHECK))
    return _PLANS[name]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(spark, name):
    plan = _plan(spark, name)
    n = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
    budget = NESTED_LOOP_BUDGET.get(name, 0)
    assert n <= budget, (
        f"{name}: {n} nested-loop joins, budget {budget} "
        f"— an all-pairs join came back\n{plan}"
    )


def test_q1_filter_pushed_to_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_CHECK)
    assert pi.has_pushed_filter(df, "l_shipdate")


def test_q6_all_predicates_pushed(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF_CHECK)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert pi.has_pushed_filter(df, frag), frag


def test_q3_dims_broadcast(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_CHECK)
    pi.assert_broadcast_join(df, "q3", at_least=1)


def test_q5_star_broadcasts_all_dims(spark):
    df = QUERIES["q5_local_supplier"](spark, SF_CHECK)
    pi.assert_broadcast_join(df, "q5", at_least=3)


def test_q18_aggregates_before_join(spark):
    """The lineitem pre-aggregation must sit BELOW the joins."""
    plan = pi.physical_plan(QUERIES["q18_large_orders"](spark, SF_CHECK))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # plan text is top-down: the join appears before (above) the agg
    assert join_pos < agg_pos


def test_asof_is_single_window_no_join(spark):
    """The as-of join must be the union+window plan: zero joins, one
    window, one shuffle on user_id."""
    df = QUERIES["join_asof_purchase_click"](spark, SF_CHECK)
    plan = pi.physical_plan(df)
    assert "Join" not in plan
    assert pi.count_op(df, "Window") == 1
    assert pi.has_pushed_filter(df, "event_type")


def test_scan_prunes_columns(spark):
    """Column pruning: the tokenize pipeline must read only the text
    and doc_id columns, not the whole documents schema."""
    df = QUERIES["text_tf"](spark, SF_CHECK)
    plan = pi.physical_plan(df)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no parquet scan found"
    for line in scan_lines:
        assert "lang" not in line and "n_chars" not in line, line


def test_gaps_islands_single_shuffle(spark):
    """Sessionization must be ONE shuffle on user_id: both window
    functions share the partition spec, and the downstream
    (user_id, session_id) aggregation is satisfied by the existing
    user_id partitioning — no second Exchange."""
    df = QUERIES["events_gaps_islands"](spark, SF_CHECK)
    plan = pi.physical_plan(df)
    assert plan.count("Exchange") == 1, plan


SOAK_DIR = "/tmp/soak/sf1"


@pytest.mark.skipif(
    not __import__("os").path.isdir(SOAK_DIR),
    reason="sf1 soak fixtures absent — regenerate with examples/gen_soak.py",
)
@pytest.mark.parametrize(
    "name,floor",
    [
        ("q5_local_supplier", 3),
        ("q7_nation_volume", 2),
        # r3 TPC-H completions: part/nation/region (q2) and the 1-row
        # max aggregate + supplier dim (q15) must still broadcast
        ("q2_min_cost_supplier", 2),
        ("q15_top_supplier", 1),
    ],
)
def test_soak_scale_still_broadcasts_dims(spark, name, floor):
    """VERDICT r1 item 7: the broadcast choice for nation/region dims
    must survive a 10x scale-up — at soak scale AQE must still pick
    BroadcastHashJoin for every dim side of q5/q7 (the fact side grows;
    the dims don't). If this flips to shuffle join the 100 TB plan
    regressed regardless of what sf0.1 shows."""
    df = QUERIES[name](spark, SOAK_DIR)
    pi.assert_broadcast_join(df, f"{name}@sf1", at_least=floor)


def test_mapside_ops_have_zero_exchanges(spark):
    """embed_quantize_int8, text_wordpunct_tokens, sim_lsh_buckets and
    corpus_c4_clean are pure per-row array/regex expression chains —
    any KEYED Exchange (hash/range/single-partition) appearing in their
    plans means a refactor accidentally introduced a shuffle into a
    map-only operator. The one allowed exchange is parallel_scan's
    round-robin scan-width repartition (r12): it carries no keying, is
    skipped entirely when the scan is already parallel (every 100 TB
    deployment), and exists only because the local single-row-group
    fixtures scan as one task."""
    for name in (
        "embed_quantize_int8",
        "text_wordpunct_tokens",
        "sim_lsh_buckets",
        "corpus_c4_clean",
        "text_lang_lines",
        "corpus_gopher_clean",
        "dedup_lines_within",
        "text_normalize",
    ):
        plan = pi.physical_plan(QUERIES[name](spark, SF_CHECK))
        rr = plan.count("Exchange RoundRobinPartitioning")
        keyed = plan.count("Exchange") - rr
        assert keyed == 0, (name, plan)
        # ADVICE r12: tolerate ONLY the single parallel_scan width
        # exchange, not arbitrary accidental round-robin shuffles
        assert rr <= 1, (name, rr, plan)


def test_pack_is_single_shard_shuffle(spark):
    """Sequence packing must shuffle exactly once on a KEY (the
    per-shard window cumsum) — a global-order spelling would show an
    extra single-partition Exchange, the 100 TB bottleneck the shard
    design avoids. The round-robin scan-width exchange (r12,
    parallel_scan) is excluded from the count: it is keyless and
    disappears at deployment scale."""
    df = QUERIES["docs_pack_greedy"](spark, SF_CHECK)
    plan = pi.physical_plan(df)
    rr = plan.count("Exchange RoundRobinPartitioning")
    keyed = plan.count("Exchange") - rr
    assert keyed == 1, plan
    # ADVICE r12: only the one parallel_scan width exchange is excluded
    assert rr <= 1, (rr, plan)
    assert "SinglePartition" not in plan, plan


def test_scd2_single_window_single_exchange(spark):
    """lead + row_number + is_current share one frame: the plan must
    carry exactly one Window over one Exchange — a second of either
    means the expressions stopped sharing the sort."""
    plan = pi.physical_plan(QUERIES["scd2_history"](spark, SF_CHECK))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan


def test_redact_pii_zero_exchanges(spark):
    """PII redaction is one codegen'd projection pass — any Exchange
    means someone added a shuffle to a map-only operator."""
    plan = pi.physical_plan(QUERIES["text_redact_pii"](spark, SF_CHECK))
    assert plan.count("Exchange") == 0, plan


def test_new_ops_prune_columns(spark):
    """The new corpus scans read only what they use: quantization never
    touches the label column; repetition/packing never read lang/source."""
    for name, banned in (
        ("embed_quantize_int8", ("label",)),
        ("text_repetition_scores", ("lang", "source", "n_chars")),
        ("docs_pack_greedy", ("lang", "source", "n_chars")),
    ):
        plan = pi.physical_plan(QUERIES[name](spark, SF_CHECK))
        for line in plan.splitlines():
            if "ReadSchema" in line:
                for col in banned:
                    assert col not in line, (name, col, line)


def test_q9_broadcasts_dims_and_pushes_like(spark):
    """q9's deep star: every dim side broadcast (no fact shuffle for
    dim joins) and the p_name LIKE filter pushed into the part scan."""
    df = QUERIES["q9_product_profit"](spark, SF_CHECK)
    pi.assert_broadcast_join(df, "q9", at_least=3)
    assert pi.has_pushed_filter(df, "p_name")


# shuffle budgets for every bench headline query (NEXT r2 item 1): the
# robust form of a bench-regression guard — wall-clock is noisy, but a
# NEW Exchange in one of these plans is exactly how a perf regression
# (lost broadcast, lost partitioning reuse, un-fused window) shows up.
# Budgets are the current counts; going DOWN is always fine.
# r12: documents/embeddings-heavy queries gained exactly one (sometimes
# two, model + corpus subtrees) round-robin exchange from
# catalog.parallel_scan — the scan-width repartition that un-serializes
# the single-row-group local fixtures (skipped at deployment scale);
# affected pins were bumped by that delta and nothing else.
# dedup_components_minhash reports 0 because its loop executes through
# localCheckpoints before the final plan is built.
EXCHANGE_BUDGET = {
    "vocab_topk": 2,
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 3,
    "q5_local_supplier": 6,
    "q6_forecast_revenue": 1,
    "q7_nation_volume": 6,
    "q9_product_profit": 5,
    "q18_large_orders": 3,
    "join_asof_purchase_click": 1,
    "window_rank_orders": 1,
    "text_tfidf_top": 7,
    "bow_vectorize": 4,
    "dedup_jaccard_pairs": 10,
    # r9: the signature frame is persist-cached (_SIG_CACHE); a
    # MATERIALIZED InMemoryRelation prints its build lineage twice
    # (definition + table-scan section), so the TEXT count doubles to
    # 4 while the runtime executes 0 of them (cached blocks) — the
    # same plan-string artifact as explain("formatted")'s known
    # double-count. 2 real exchanges on a cold build, as before.
    "dedup_minhash_buckets": 4,
    "sim_topk_bruteforce": 4,
    "sim_ann_lsh_topk": 5,
    # r13 in-row assignment tier: the n×k argmin hash exchange and the
    # probe rank-window exchange are GONE (the real shuffles); the TEXT
    # count nets +2 from the two 1-row IdentityBroadcastMode exchanges
    # of the shared centroid-array frame (posting + probe consumers)
    # plus the persisted vec lineage printing per reference — measured
    # 10 at sf0.01, runtime exchanges strictly fewer than before
    "sim_ivf_topk": 10,
    # r11: the posting-stats audit — the Lloyd folds are in-row over
    # the broadcast centroid table; only the k-row sizes agg and its
    # barrier exchange remain (measured 2 at sf0.01)
    "sim_ivf_posting_stats": 2,
    # r12: same stats core over the base-index artifact (the build is
    # behind its localCheckpoint barriers — measured 2 at sf0.01)
    "sim_ivf_posting_stats_base": 2,
    # r12: sim_ivf_incremental + the two remove_ids anti-joins on
    # vec_id (a takedown-sized tombstone set broadcasts under AQE at
    # deployment). r13: the base-index build's argmin exchanges are
    # behind its checkpoints and the probe window is in-row now —
    # measured 10 at sf0.01.
    "sim_ivf_incremental_deleted": 10,
    "events_session_30m": 1,
    "events_multi_rollup": 1,
    "events_gaps_islands": 1,
    "dedup_components_minhash": 0,
    # r5 second wave (checkpoint barriers hide pre-barrier stages, so
    # these count the post-barrier plan — a new exchange still trips)
    "text_search_bm25": 9,
    "dedup_containment_pairs": 10,
    "corpus_dsir_weights": 7,
    "corpus_dsir_sample": 2,
    "text_bigram_prob_score": 8,
    "corpus_bpe_fertility": 8,
    "events_anomaly_mad": 6,
    "corpus_ngram_diversity": 1,  # in-row + the r12 scan-width exchange
    "corpus_source_divergence": 6,
    # r13 in-row PQ assignment: the n·M·K argmin agg exchanges are
    # gone (measured 8 at sf0.01, was 10); the IVF-PQ composition nets
    # +1 text from the coarse tier's 1-row crow broadcasts (see
    # sim_ivf_topk) while losing its argmin/window exchanges
    "sim_pq_topk": 8,
    "sim_ivfpq_topk": 16,
    "ann_recall_report": 16,
    # r6: smoothing only swaps the ratio projection (same 5); the
    # IVF-PQ recall frame = brute (nested-loop, few exchanges) +
    # the composed IVF-PQ tier (15) + the hits join/agg
    "corpus_dsir_weights_smoothed": 7,
    # r13: inherits the IVF-PQ tier's net +1 (crow broadcasts in, argmin
    # exchanges out) — measured 27 at sf0.01
    "ann_recall_report_ivfpq": 27,
    # span explode -> groupBy(k) -> dup-start fold -> anchor join;
    # the cut itself is an in-row higher-order filter (no exchange)
    "dedup_span_removal": 4,
    # projection + ONE hash-agg (partial/final pair) — no vocab join
    "text_feature_hashing": 2,
    # r7: hashed-bucket DSIR — same post-barrier shape as the unigram
    # variant (ratio crossJoin + scoring join + anchor)
    "corpus_dsir_weights_hashed": 6,
    # r7: budget fill — histogram agg + per-lang window + threshold
    # agg; the verdict join is a broadcast of the |langs|-row frame
    "corpus_token_budget_sample": 3,
    # r7: eval-span decontamination — same post-barrier shape as the
    # incremental span twin (distinct eval index + semi probe + fold
    # + anchor)
    "dedup_span_decontaminate": 4,
    # r7: phrase search — in-row bigram fold + TakeOrderedAndProject
    # (the one exchange is the top-k gather)
    "text_search_phrase": 1,
    # r7: MMR — every greedy step ends in a localCheckpoint, so the
    # final plan is the union of pinned step frames (a new exchange
    # here would mean a step leaked past its barrier)
    "sim_mmr_rerank": 0,
    "sim_mmr_rerank_ivf": 0,  # same barrier discipline, IVF shortlist
    "sim_mmr_rerank_pq": 0,   # same, PQ shortlist
    # r7: skew telemetry — per table: one corpus-sized key agg + the
    # tiny count-of-counts stages; two tables unioned
    "join_key_skew_report": 6,
    # r7: next-fit packing — ONE exchange (the shard groupBy feeding
    # the Arrow applyInPandas fold)
    "docs_pack_nextfit": 2,
    # r7: cross-tier audit — inherits the three drop subtrees' stages;
    # the seven report aggregates join barriered skinny frames
    "dedup_tier_overlap_report": 24,
    # r7: ingest DSIR — per-(doc,bucket) barrier + standing counts +
    # probe-side left join + per-doc agg + new-slice anchor
    "corpus_dsir_weights_hashed_incremental": 8,
    # r7: hybrid RRF — BM25's 9 post-barrier exchanges + the vector
    # top-20 gather; the fusion join runs on two 20-row frames
    "search_hybrid_rrf": 10,
    # r7: the IVF-tier swap inherits BM25's 9 + the IVF search's
    # post-barrier exchanges; r13: +2 text from the crow broadcasts
    # (probe window + argmin exchanges gone) — measured 21 at sf0.01
    "search_hybrid_rrf_ivf": 21,
    # r8: frozen-coefficient quality scoring — the hashing-trick
    # per-(doc,bucket) agg + broadcast coef join + per-doc agg +
    # the full-corpus anchor join
    "corpus_quality_classifier_scores": 5,
    # r8: k-term / proximity phrase search — same in-row fold class
    # as text_search_phrase (one scan, top-k gather is the exchange)
    "text_search_phrase3": 1,
    "text_search_phrase_slop": 1,
    # r8: soft-dedup weights — the component tier runs behind its
    # barrier; post-barrier: size rollup + probe-back + span-profile
    # aggs + the two full-corpus anchor joins
    "corpus_softdedup_weights": 12,
    # r8: the acceptance verdict is a projection on the weights frame
    "corpus_softdedup_sample": 12,
    # r8: scorer plan + one per-lang hash-agg (partial/final)
    "corpus_quality_classifier_report": 6,
    # r8: verified-component subtree (not barriered in the final plan)
    # + the barriered scorer + per-cluster window + anchor joins
    "dedup_keep_best_quality": 28,
    # r8: cluster balance — post-barrier: the k-row size rollup, its
    # 1-row total, and the verdict projection's probe-back join
    "corpus_cluster_balance_sample": 5,
    # r8: the PQ-tier RRF swap — BM25's 9 + the PQ tier's ADC/refine
    # stages + the 20-row fusion gather
    "search_hybrid_rrf_pq": 21,
    # r8: top-rho quality selection — post-barrier: the bin hash-agg,
    # its 1-row total, the |bins|-row window, the verdict projection
    "corpus_quality_select": 6,
    # r8: k-term proximity — same one-scan fold class, top-k gather
    "text_search_phrase_kslop": 1,
    # r9: bucket-cap telemetry — signature hash-agg (partial/final),
    # the (band,bucket)-size agg, and the |bands|-row rollup; +2 text
    # occurrences when the _SIG_CACHE InMemoryRelation is materialized
    # (see dedup_minhash_buckets note — runtime executes 4 cold, 2 warm)
    "dedup_bucket_cap_report": 6,
    # r9: share caps — the |keys|-row size agg (partial/final), its
    # broadcast, the broadcast 1-row total; verdict is a projection
    "corpus_source_cap": 5,
    "corpus_lang_cap": 5,
    # r9: line dedup — post-barrier: first_doc groupBy on the 60-bit
    # key, the per-doc cut-position fold, and the reassembly join
    "dedup_lines": 4,
    # r9: the ingest twin — distinct old-key index, semi-join probe,
    # cut-position fold, reassembly join
    "dedup_lines_incremental": 4,
    # r9 second wave: the Stupid-Backoff scorer is 5 vocab-sized model
    # joins + the scoring/anchor aggs (13); the bucket composition
    # counts its post-barrier plan (the scored frame is checkpointed
    # for its two consumers — a new exchange still trips). The scorer
    # keeps trigram-less docs through explode_outer, not an anchor
    # join, which drops that join's doc_id exchange (measured 11).
    "text_trigram_backoff_score": 11,
    "text_trigram_backoff_score_incremental": 11,
    # r10: the pruned-model tier — same scorer plan, two extra
    # filters on the vocabulary-sized count tables (no new shuffle)
    "text_trigram_backoff_score_pruned": 11,
    "corpus_perplexity_buckets": 2,
    # one corpus token explode + vocab-sized rollups + the top-k
    # window (counts the post-barrier plan of the (cid, term) table)
    "corpus_cluster_top_terms": 8,
    # Bloom ingest: one distinct over the standing bit rows + the
    # probe join + the anchor; the FP report adds the exact semi-join
    "dedup_incremental_bloom": 7,
    "dedup_bloom_fp_report": 13,
    # the one-pass scorer plan + a <=|bins|-row rollup
    "corpus_quality_calibration_report": 6,
    # r9 third wave: the full Gopher repetition profile — the
    # (doc,n,k) count stream (partial/final agg), the dup-sizes
    # position stream + its probe join, two per-doc folds, and the
    # final anchor join back to the barriered tokenize; the ceiling
    # verdict is the same plan plus one in-row projection
    "text_gopher_repetition": 7,
    "corpus_gopher_repetition_clean": 7,
    # r9 fourth wave: the zero-shuffle normalize projection + the
    # dedup_exact hash-agg (16-byte md5 + doc_id only)
    "dedup_exact_normalized": 1,
    # r10: the composed CCNet keep verdict — post-barrier plan of the
    # lang-lines gate (checkpointed for its three consumers): the cap
    # core's |langs|-row agg + broadcast total + probe-back, the
    # bucket subtree's tercile windows/threshold join past its own
    # barrier, and the two doc_id anchor joins
    "corpus_ccnet_select": 10,
    # r11: the guessed-key variant — the guess is a zero-shuffle
    # projection folded into the barriered gate scan, so the budget
    # is the metadata row's 10 unchanged (measured 10 at sf0.01)
    "corpus_ccnet_select_guessed": 10,
    # r10: the sketch tercile tier — post-barrier: the grouped GK
    # partial/final agg + the broadcast |langs|-row threshold join;
    # NO per-lang window sort anywhere (that is the point)
    "corpus_perplexity_buckets_approx": 2,
    # r10: the quantile sketch twin — ONE grouped partial/final agg,
    # no windows at all (the exact tier needs its two rank windows)
    "corpus_quality_quantiles_approx": 1,
    # r10 second wave: the frozen-policy ingest twin builds the model,
    # scores standing (thresholds) AND batch, plus the gate/cap joins
    # — no shared barrier hides lineage here, so the TEXT count is the
    # honest full-plan figure (each subtree executes once: gate and
    # the model count tables are checkpointed, every other frame has
    # one consumer). Measured 40 on Spark 4.1.2 with the scorer's
    # anchor join (its pruned doc_id side never reused the scoring
    # side's exchange); 37 without it — two doc_id exchanges and one
    # broadcast fewer.
    "corpus_ccnet_select_incremental": 37,
}


def test_shuffle_write_reads_the_stages_run_inside(spark):
    """The byte reader counts the shuffle of a small aggregation, the
    same shuffle launched from a worker thread (which does not inherit
    the caller's job group), and nothing for a callable that runs no
    job."""
    from concurrent.futures import ThreadPoolExecutor

    def agg():
        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    def in_thread():
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(agg).result()

    direct = pi.shuffle_write(spark, agg)
    assert direct.bytes > 0 and direct.records > 0
    assert pi.shuffle_write(spark, in_thread).bytes == direct.bytes
    assert pi.shuffle_write(spark, lambda: None) == (0, 0, 0)


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGET))
def test_headline_exchange_budget(spark, name):
    plan = _plan(spark, name)
    n = plan.count("Exchange")
    assert n <= EXCHANGE_BUDGET[name], (
        f"{name}: {n} exchanges, budget {EXCHANGE_BUDGET[name]} — a new "
        f"shuffle appeared; check broadcasts/partition reuse\n{plan}"
    )


# Completed stages of build + noop write for the bench headline
# queries, measured at sf0.01 on the SECOND run in a session: the first
# run fills the per-app caches (_VEC_CACHE, _POSTINGS_CACHE,
# _WIDTH_CACHE, the seed memo), so the warm count does not depend on
# which tests ran earlier. Unlike the exchange pins, this sees the work
# that runs at build time behind eager localCheckpoint barriers (the
# components loop, the Lloyd trainer), which the final plan hides.
# Identical at SPARK_GRAFT_CPUS 4 and 32. Going DOWN is always fine.
STAGE_BUDGET = {
    "vocab_topk": 4,
    "q1_pricing_summary": 3,
    "q3_shipping_priority": 7,
    "q5_local_supplier": 13,
    "q6_forecast_revenue": 3,
    "q7_nation_volume": 11,
    "q9_product_profit": 11,
    "q18_large_orders": 7,
    "join_asof_purchase_click": 3,
    "window_rank_orders": 3,
    "text_tfidf_top": 10,
    "bow_vectorize": 7,
    "dedup_jaccard_pairs": 10,
    "dedup_minhash_buckets": 1,  # the signature frame is persist-cached
    "sim_topk_bruteforce": 6,
    "sim_ann_lsh_topk": 8,
    "sim_ivf_topk": 19,
    "events_session_30m": 3,
    "events_multi_rollup": 3,
    "events_gaps_islands": 3,
    "dedup_components_minhash": 17,
}


@pytest.mark.parametrize("name", sorted(STAGE_BUDGET))
def test_headline_stage_budget(spark, name):
    def run():
        QUERIES[name](spark, SF_CHECK).write.format("noop").mode(
            "overwrite"
        ).save()

    run()  # cold: fills the per-app caches
    n = pi.shuffle_write(spark, run).stages
    assert n <= STAGE_BUDGET[name], (
        f"{name}: {n} stages, budget {STAGE_BUDGET[name]} — a new shuffle "
        "or a lost broadcast, possibly behind a checkpoint barrier"
    )


@pytest.mark.skipif(
    not __import__("os").path.isdir(SOAK_DIR),
    reason="sf1 soak fixtures absent — regenerate with examples/gen_soak.py",
)
def test_soak_components_prefilter_equivalent(spark):
    """dedup_components_prefiltered must be row-identical to
    dedup_components_minhash on the replica-heavy soak corpus (where
    the exact-collapse actually collapses: 10x clone cliques). The
    speedup (17.3s -> 7.5s at sf1, SCALE.md) is the point; this pins
    that the fast path never changes the answer."""
    a = QUERIES["dedup_components_minhash"](spark, SOAK_DIR)
    b = QUERIES["dedup_components_prefiltered"](spark, SOAK_DIR)
    assert a.subtract(b).count() == 0
    assert b.subtract(a).count() == 0
