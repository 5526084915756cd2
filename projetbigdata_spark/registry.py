"""Aggregates every operator module's QUERIES / ORACLE_SQL into the
single dict pair the driver contract (__spark_entry__.py) exposes.

Modules are imported lazily so a failure in one operator family (e.g.
an optional ML dep) can't take down the whole surface.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver checks the first ~50 queries per round in dict order, so
# _PRIORITY pins the names that most need a green CORRECTNESS row this
# round (r13, VERDICT r12 item 9: the r8-latest rows hit the 5-round
# freshness floor at r13 — 35 remain after r12's tier C re-checked the
# alpha prefix of the original 45; the floor is machine-enforced by
# tools/freshness_report.py + tests/test_freshness_floor.py, and this
# rotation was pre-flighted with --simulate-next).
#   tier B (35, leading) = every remaining r8-latest row;
#   tier A (15, fills to 50) = operators materially RESTRUCTURED by
#     this optimization round (in-row IVF/PQ assignment, the shared
#     curate token-stats pass, the scorer-side width change, the
#     gopher grams barrier) — the r11/r12 "factoring-touched rows
#     re-checked out of caution" convention; 8 of the 15 are also the
#     oldest (r9-latest) rows, so the slot does double duty. The 39
#     r9-latest leftovers reach the floor at r14 and must fill ~all of
#     that round's block.
# Leading them: the three rows whose argmax language guess was
# rewritten in r13 after their last green driver check (r12).
# collect() raises if a priority name is not registered.
_PRIORITY = (
    "text_lang_guess_multi",
    "corpus_ccnet_select_guessed_multi",
    "corpus_ccnet_select_guessed",
    # --- tier B (35): every r8-latest row — the 5-round floor hits
    # them this round; freshness_report --simulate-next verified ---
    "corpus_softdedup_weights",
    "dedup_component_sizes",
    "dedup_components_verified_prefiltered",
    "dedup_embedding_cosine",
    "dedup_keep_best_quality",
    "dedup_keep_canonical",
    "join_asof_purchase_click",
    "join_bucketed_priority_counts",
    "join_interval_binned",
    "join_range_late",
    "pos_trigrams",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_share",
    "q16_supplier_breadth",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive",
    "q1_pricing_summary",
    "q22_sales_opportunity",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "search_hybrid_rrf_pq",
    "sql_frontend_yearly_revenue",
    "subquery_above_nation_avg",
    "text_search_phrase3",
    "text_search_phrase_kslop",
    "text_search_phrase_slop",
    "text_search_topk",
    "text_unigram_freq_score",
    "unpivot_nation_metrics",
    # --- tier A (15): this round's restructured operators, oldest
    # (r9-latest) first so the slots also serve the freshness floor ---
    "sim_pq_topk",  # in-row PQ assignment
    "sim_ivfpq_topk",  # in-row coarse + PQ tiers
    "text_gopher_repetition",  # grams plan barrier
    "corpus_gopher_repetition_clean",  # shares the barriered plan
    "text_trigram_backoff_score",  # model-slice-only widen
    "text_trigram_backoff_score_incremental",  # bare-scan scored side
    "contamination_ngram_overlap",  # loader width + generate-filter fix
    "dedup_components_minhash",  # loader width dial
    "corpus_curate",  # shared token-stats pass
    "corpus_curate_calibrated",  # shared pass + quantile core reuse
    "sim_ivf_topk",  # in-row Lloyd + probe
    "dedup_semantic",  # in-row Lloyd tier
    "corpus_perplexity_buckets",  # bare-scan anchor + scorer width
    "text_trigram_backoff_score_pruned",  # explicit model-slice widen
    "corpus_ccnet_select",  # inherits the scorer-path changes
)


# Ordered so the driver's correctness budget reaches every family:
# round 1 verified the relational/vocabulary/features modules but ran
# out of budget before windows..multimodal, so those run first now.
_MODULES = (
    "projetbigdata_spark.functions.nltk_tier",
    "projetbigdata_spark.operators.repetition",
    "projetbigdata_spark.operators.packing",
    "projetbigdata_spark.operators.quantize",
    "projetbigdata_spark.functions.udafs",
    "projetbigdata_spark.operators.windows",
    "projetbigdata_spark.operators.tfidf",
    "projetbigdata_spark.operators.textstats",
    "projetbigdata_spark.operators.sampling",
    "projetbigdata_spark.operators.sessionize",
    "projetbigdata_spark.operators.upsert",
    "projetbigdata_spark.operators.dedup",
    "projetbigdata_spark.operators.curation",
    "projetbigdata_spark.operators.selection",
    "projetbigdata_spark.operators.similarity",
    "projetbigdata_spark.streaming.events_batch",
    "projetbigdata_spark.ml.queries",
    "projetbigdata_spark.multimodal.binaryops",
    "projetbigdata_spark.operators.vocabulary",
    "projetbigdata_spark.functions.udtfs",
    "projetbigdata_spark.operators.relational",
    "projetbigdata_spark.operators.relational2",
    "projetbigdata_spark.operators.relational3",
    "projetbigdata_spark.operators.relational4",
    "projetbigdata_spark.operators.relational5",
    "projetbigdata_spark.operators.quality",
    "projetbigdata_spark.operators.classifier",
    "projetbigdata_spark.operators.features",
)


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            continue
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {modname}")
            queries[name] = fn
        oracles.update(getattr(mod, "ORACLE_SQL", {}))
    missing = set(oracles) - set(queries)
    if missing:
        raise ValueError(f"oracle without query: {sorted(missing)}")
    unknown = [n for n in _PRIORITY if n not in queries]
    if unknown:
        raise ValueError(f"priority name not registered: {unknown}")
    ordered = list(_PRIORITY) + [n for n in queries if n not in set(_PRIORITY)]
    queries = {n: queries[n] for n in ordered}
    oracles = {n: oracles[n] for n in ordered if n in oracles}
    return queries, oracles
