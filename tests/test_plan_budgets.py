"""Per-query shuffle-budget pinning — a mechanical plan-regression net.

Every `groupBy`/`join`/`repartition`/window partition is an Exchange;
at 100 TB each one is the dominant cost. The generic plan suite
(test_plans.py) catches categorical hazards (cartesians, pruning
loss); THIS suite catches the quieter failure where an innocent edit
adds a shuffle — an extra Exchange that still produces correct rows
and so sails through every value check, while doubling the job's wall
time at scale.

BUDGETS freezes each query's Exchange-node count (counted from the
formatted initial plan at sf0.001, `spark.sql.shuffle.partitions=4` —
deterministic given the session conf; ReusedExchange nodes are
excluded since a reuse is free). The assertion is `<=`: plans getting
CHEAPER is always welcome and will surface as slack to tighten, while
any count above budget fails with instructions. Raising a budget is a
deliberate act: do it in the same commit as the plan change, with the
justification in the commit message.
"""

from __future__ import annotations

import re

import pytest

from moisturizer_spark.workload import QUERIES

BUDGETS = {
    # +2 r10: the hot-band cap's bucket-size count + size join
    "audio_near_dup_det": 4,
    "bpe_fertility_by_lang": 2,
    "bpe_merge_table": 1,
    "unigram_vocab_table": 1,
    "minhash_index_health": 4,
    "user_copresence_kcore": 1,
    "customer_match_scores": 8,
    # NB chain (5, as the AUC query) + the bounded eval-slice NTILE window
    "quality_classifier_lift": 6,
    # one day-grain fold; everything after runs on the persisted
    # calendar-bounded daily frame (lag self-join + two scalar aggs)
    "daily_volume_acf": 6,
    # two priority-partitioned ranking windows (exact medians) + the
    # final group fold; the deviation frame persists between them
    "order_price_mad_outliers": 4,
    # fact join + distinct (persisted) + node-grain degree agg; endpoint
    # decoration broadcasts the degree frame — no edge-grain shuffle
    "trade_degree_assortativity": 4,
    # one 9-group digit fold (persisted for the total + the report join)
    "lineitem_benford_audit": 3,
    # one user-key window shuffle + the |types|^2 pair fold (persisted);
    # prediction rank, 1-row baseline, and the hit join run on that frame
    "event_next_hit_rate": 6,
    # one stratum moment fold; isqrt/apportionment on the 5-row frame
    "orders_neyman_allocation": 4,
    # explode + doc-partitioned islands window + word- and phrase-grain
    # folds + the distributed top-20 take
    "docs_rake_keyphrases": 6,
    # vocab-grain fold + |codes|-grain block fold + |block sizes|-grain
    # histogram fold + final sort (+1 r10: the histogram reshape that
    # fixed the vacuous sf0.01 driver row -- VERDICT r09 #2)
    "vocab_phonetic_blocks": 4,
    # explode (persisted) + doc-partitioned LEAD window + bigram- and
    # unigram-grain folds; totals are 1-row broadcasts
    "docs_collocations_pmi": 5,
    # (word, doc) fold + word-grain fold + the distributed top-25 take
    "vocab_term_burstiness": 3,
    # two value-grain folds + per-source windows over the broadcast-
    # densified |sources|x|grid| frame + the final source fold
    "source_length_wasserstein": 6,
    # composes BOTH det near-dup pipelines end-to-end (each persisted
    # to run once) + the flagged-doc set algebra on 1-row counts
    "dedup_method_kappa": 17,
    # nests the full clustering chain (pairs + unrolled components) +
    # the persisted cluster-grain fold + the size histogram
    "dedup_cluster_size_histogram": 9,
    "docs_unigram_bits": 2,
    "url_filter_report": 2,
    "url_canonical_dedup": 2,
    "url_domain_cap_temperature": 4,
    "unigram_fertility_vs_bpe": 2,
    "bpe_token_stats": 2,
    "brand_revenue_share": 2,
    "corpus_shard_manifest": 2,
    "crosslingual_near_dup": 1,
    "brand_price_theilsen": 7,
    "copresence_link_prediction": 11,
    "minhash_estimate_audit": 3,
    "monthly_revenue_decompose": 4,
    "event_transition_matrix": 6,
    "customer_golden_records": 4,
    "docs_cv_folds": 4,
    "fd_audit": 9,
    "docs_hybrid_rrf": 4,
    "orders_integrity_audit": 8,
    "source_unigram_kl": 9,
    "user_behavioral_distance": 12,
    "user_cohort_retention": 6,
    "user_clustering_coefficient": 21,
    "customer_name_typo_pairs": 1,
    "customer_priority_scd2": 2,
    "customer_rfm_segments": 2,
    "customer_spend_ntile": 2,
    "customer_year_set_ops": 7,
    "customers_above_nation_avg": 3,
    "customers_without_orders": 2,
    "daily_volume_changepoint": 4,
    "daily_volume_revenue_corr": 2,
    "doc_dedup_clusters": 6,
    "doc_dup_span_coverage": 4,
    "doc_median_tokens": 2,
    "doc_repetition_by_source": 2,
    "doc_term_counts_udtf": 2,
    "docs_benchmark_containment": 6,
    "docs_bm25_search": 4,
    "docs_chunk_dedup": 3,
    "docs_chunk_sliding": 1,
    "docs_curation_report": 5,
    "docs_decontaminated": 4,
    "docs_dedup_method_agreement": 9,
    # dsir/perplexity: +1 per corpus scan (3/3/2 scans) from the
    # fan_out small-file guard in _bigram_pairs — narrow-row
    # repartitions that no-op (and vanish from the plan) on
    # many-partition cluster reads; measured ~30% end-to-end at sf0.1
    "docs_dsir_proportional": 11,
    "docs_dsir_selection": 10,
    "docs_fingerprint_dedup": 2,
    "docs_hash_split": 2,
    "docs_leakage_free_split": 8,
    "docs_line_dedup": 3,
    "docs_minhash_det_near_dup": 3,
    "docs_near_dup_quality_winner": 6,
    "docs_ngram_novelty": 6,
    "docs_pack_chunks": 2,
    "docs_pack_ffd": 3,
    "docs_perplexity_buckets": 9,
    "docs_pii_scan": 2,
    "docs_quality_classifier": 4,
    "docs_quality_funnel": 2,
    # hit counting is fused into the scan; one source-grain fold + sort
    "docs_badwords_report": 2,
    "docs_remove_dup_spans": 3,
    "docs_remove_dup_spans_hashed": 3,
    "docs_simhash_det_near_dup": 2,
    "docs_token_entropy": 4,
    "docs_vocab_growth": 3,
    "docs_weighted_sample": 2,
    "docs_winnowing_det_near_dup": 2,
    "docs_winnowing_near_dup": 2,
    "embedding_cosine_near_dup": 1,
    "embedding_decontamination": 2,
    "embedding_dim_correlation": 1,
    "embedding_diversity_sample": 2,
    "embedding_diversity_sample_det": 2,
    "embedding_hard_negatives": 2,
    "embedding_ivf_det_top5": 2,
    "embedding_ivf_top5": 3,
    "embedding_kmeans": 2,
    "embedding_label_silhouette": 5,
    "embedding_kmeans_det": 2,
    "embedding_lsh_det_top5": 3,
    "embedding_lsh_top5": 3,
    "embedding_norm_stats": 2,
    "embedding_pq_det_top5": 2,
    "embedding_pq_top5": 2,
    "embedding_top5_cosine": 2,
    "event_type_audience_overlap": 8,
    "events_7day_moving": 3,
    "events_coactivity": 3,
    "events_cohort_retention": 4,
    "events_conversion_paths": 3,
    "events_conversion_latency": 2,
    "events_daily": 2,
    "events_distinct_reach": 3,
    "events_frequent_users": 2,
    "events_funnel": 8,
    "events_grouping_sets": 2,
    "events_hll_reach": 3,
    "events_kmv_audience": 8,
    "events_minute_gapfill": 2,
    "events_props_flatten": 2,
    "events_reach_hll_det": 4,
    "events_reach_sketch_rollup": 3,
    "events_running_total": 2,
    "events_sessionize": 2,
    "events_unpivot": 3,
    "events_user_pivot": 2,
    "events_volume_anomalies": 3,
    "events_zorder_histogram": 2,
    # +1: fan_out repartition before the shingle explode (small-file
    # parallelism guard; measured 3.4x at sf0.1)
    # +2 r10: the hot-band cap's bucket-size count + size join
    "images_near_dup_det": 7,
    "lang_sources_csv": 3,
    "langid_confusion": 2,
    "late_shipment_priority": 2,
    "latest_event_per_user": 2,
    "lineitem_expectations": 5,
    "lineitem_drift_psi": 7,
    # +1 r10-opt: fan_out repartition of the projected source rows
    # before the unpivot (small-file parallelism guard for the explode
    # + distinct expansion; in-session A/B 2.3s -> 1.5s at sf0.1;
    # no-ops on a many-partition cluster read)
    "lineitem_profile": 4,
    # +1: fan_out repartition before the 64-hash projection (small-file
    # parallelism guard; measured 2.4x at sf0.1)
    "lineitem_profile_approx": 3,
    "min_cost_supplier_per_part": 3,
    "minhash_near_dup": 3,
    "multimodal_payload_stats": 3,
    "nation_wealth_full_outer": 3,
    "ngram_jaccard_near_dup": 6,
    "order_price_quantile_sketch": 3,
    "order_price_quantiles": 2,
    "orders_monthly_growth": 2,
    # +1: fan_out repartition before the weight projection (small-file
    # parallelism guard)
    "orders_price_bootstrap_ci": 3,
    "orders_with_returns_exists": 2,
    "part_affinity_lift": 7,
    "purchase_asof_view": 2,
    "purchase_followon_events": 3,
    "q10_returned_items": 1,
    "q11_important_stock": 4,
    "q13_customer_order_counts": 3,
    "q14_promo_revenue": 1,
    "q15_top_supplier": 4,
    "q16_supplier_part_counts": 3,
    "q17_small_quantity_revenue": 2,
    "q18_large_orders": 2,
    "q19_disjunctive_revenue": 1,
    "q1_pricing_summary": 2,
    "q20_dominant_suppliers": 3,
    "q21_waiting_suppliers": 2,
    "q22_idle_customers": 3,
    "q3_top_revenue_orders": 1,
    "q4_order_priority": 2,
    "q5_region_nation_revenue": 2,
    "q6_forecast_revenue": 1,
    "q7_volume_shipping": 2,
    "q8_market_share": 2,
    "q9_product_type_profit": 2,
    "quality_by_source": 2,
    "revenue_cube": 3,
    "revenue_rollup": 2,
    "simhash_near_dup": 2,
    "source_epoch_mixture": 4,
    "source_epoch_plan": 2,
    "source_mix_temperature": 2,
    "source_quota_sample": 2,
    "supplier_reach_bfs": 15,
    "tfidf_top_terms": 5,
    "token_stats_by_lang": 2,
    "top3_customers_per_nation": 3,
    "top_bigrams": 1,
    # 18th exchange is the 1-row auto-rescale grid header aggregate
    # (the importance_resample recipe applied to the rank grid)
    "trade_pagerank_det": 18,
    # the pagerank rounds + three 1-row movement aggregates (the diff
    # itself is free: the step carries _rp on the rank frame)
    "trade_pagerank_convergence": 21,
    # the LPA rounds + per-round broadcast diff join + 1-row aggregate
    "copresence_lpa_convergence": 15,
    # edge mining + 4 half-rounds (join + node-grain agg each) + the
    # per-role top-10 window over the union
    "trade_hits_authorities": 16,
    # SCD2 windows (1, shared sort) + the equi PIT join + the report agg
    "orders_priority_pit_lookup": 3,
    # bloom-prefiltered scan -> broadcast join -> year aggregation (the
    # sketch build is a separate tiny job, not in this plan)
    "promo_revenue_bloom_join": 2,
    # composite: the four nested member plans' exchanges + three 1-row
    # report aggregates (each member budgeted separately)
    "ann_recall_report": 15,
    # monthly fold + the bounded calendar-frame lag window
    "monthly_revenue_forecast_eval": 2,
    # cell-grain count + two broadcast marginal counts + final sort
    "docs_source_lang_pmi": 4,
    # one user-key shuffle shared by the sweep windows + the final agg
    "events_user_active_coverage": 2,
    # value-grid fold + the bounded grid window feeding one scalar agg
    "lineitem_discount_ks": 2,
    # cell count + two broadcast marginals + the scalar agg + dof subqueries
    "source_lang_chi2": 5,
    # broadcast part join + one brand-grain moment aggregation
    "brand_price_trend": 2,
    # explode + per-dimension window partitioning (parallel across dims)
    "embedding_quantile_normalize": 2,
    # per-key count + the key-grain rank window feeding one scalar agg
    "orders_custkey_skew_report": 2,
    # NB chain (as the classifier query) + one distinct-score agg + the
    # bounded score-grid window + the final scalar agg
    "quality_classifier_auc": 5,
    # copresence graph pair: the shared capped cell self-join costs 5;
    # triangles add the orientation + two enumeration joins (degree
    # frame broadcast), LPA adds 2 per round (labels broadcast)
    "user_copresence_triangles": 21,
    "user_copresence_communities": 13,
    "top_words_per_lang": 3,
    "urgent_customers_semi": 1,
    # 7th exchange is the (doc, cell) pre-aggregation that replaced 256
    # per-trigram-row SUM(CASE) expressions (measured 3x at sf0.1); 8th is
    # the fan_out repartition before the shingle explode (2.6x more)
    "videos_near_dup_det": 10,
}

_RX = re.compile(r"^\(\d+\) (ReusedExchange|Exchange)", re.M)


def _n_exchanges(plan: str) -> int:
    return sum(1 for m in _RX.finditer(plan) if m.group(1) == "Exchange")


def test_every_query_has_a_budget():
    missing = sorted(set(QUERIES) - set(BUDGETS))
    assert not missing, (
        "new queries without a shuffle budget (add them with their "
        f"measured Exchange count): {missing}"
    )
    stale = sorted(set(BUDGETS) - set(QUERIES))
    assert not stale, f"budgets for removed queries: {stale}"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(name, query_plan):
    got = _n_exchanges(query_plan(name))
    budget = BUDGETS[name]
    assert got <= budget, (
        f"{name}: plan now has {got} Exchange nodes (budget {budget}) — "
        "an edit added a shuffle. Either remove it (broadcast the small "
        "side, reuse the existing partitioning, pre-aggregate map-side) "
        "or raise the budget DELIBERATELY in the same commit with the "
        "justification in the commit message."
    )


def test_query_names_are_identifiers():
    """Guard for the q16 incident: a careless edit that strips the name
    argument from a @query decorator silently registers the query under
    its SQL text (rows-only, no oracle, unbudgetable). Every registry
    key must be a plain identifier."""
    bad = sorted(q for q in QUERIES if not q.isidentifier())
    assert not bad, f"non-identifier query names (broken @query call?): {bad}"
