"""Plan-regression tests: pin the physical-plan properties that make the
workload scale, so a refactor that silently de-optimizes (drops a
pushdown, un-broadcasts a dim, introduces a cartesian product) fails CI
long before it fails on a cluster.

These inspect `.explain` output only — no query executes.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()

# Queries allowed to contain a broadcast nested-loop join: the brute-force
# similarity baselines deliberately broadcast a bounded query set against
# the corpus (the scale path is the LSH/IVF variants).
BNLJ_ALLOWED = {
    "embedding_top5_cosine",
    # same bounded broadcast all-pairs baseline, with a label-inequality
    # predicate (no equi-key by construction)
    "embedding_hard_negatives",
    "embedding_cosine_near_dup",
    # bounded all-pairs over a metadata-joined embedding subset; the
    # language-inequality + id ordering live in the join condition, so
    # there are no equi-keys by construction (scale path = IVF/LSH
    # candidates through the same scoring)
    "crosslingual_near_dup",
    # the quantile probe list (a literal handful of q values) broadcasts
    # against the already-aggregated bucket frame — deliberate, bounded
    "order_price_quantile_sketch",
    # PQ's ADC stage deliberately broadcasts the per-query lookup tables
    # against the compressed code table (the linear sketch scan IS the
    # operator); the candidate fetch afterwards is an equi-join.
    "embedding_pq_top5",
    # same ADC shape in the deterministic-codebook variant
    "embedding_pq_det_top5",
    # the global (sum, count) scalar aggregate — a literal ONE-row frame —
    # broadcasts against customer for the above-average test; there is no
    # equi-key by construction and the inner side is a single row
    "q22_idle_customers",
    # same one-row scalar-aggregate broadcast shape: the 0.1%-of-total
    # threshold (Q11), the max-revenue equality (Q15), and the
    # sum-of-importance-weights normalizer in the proportional draw
    "q11_important_stock",
    "q15_top_supplier",
    "docs_dsir_proportional",
    # the 1-row (total, n_days) scalar aggregate broadcasts onto the
    # calendar-bounded daily frame for the CUSUM denominator clearing
    "daily_volume_changepoint",
    # the pair-algebra rows cross two literal ONE-row sketch frames
    # (view sketch × click sketch × exact pair count)
    "events_kmv_audience",
    # the benchmark side (an eval suite — small by nature) broadcasts
    # against the corpus scan; no equi-key exists by construction, and
    # at extreme benchmark sizes the same scoring rides IVF/LSH
    # candidates instead
    "embedding_decontamination",
    # composite recall audit: nests the brute-force baseline and the
    # det-PQ ADC plans above verbatim, inheriting exactly their
    # allowlisted bounded broadcasts (the hit joins it adds are
    # equi-joins)
    "ann_recall_report",
    # the cosine leg broadcasts the single query VECTOR (a literal
    # one-row frame) against the embedding scan — the brute-force
    # baseline shape; the fusion join itself is an equi-join on doc_id
    "docs_hybrid_rrf",
    # the |labels| centroid rows (10 here; label vocabularies are small
    # by nature) broadcast over the embedding scan — the per-row work
    # is |labels| cosines, the audit's whole point
    "embedding_label_silhouette",
    # the ONE-row auto-rescale grid header (bit-length arithmetic over
    # n_nodes/scale) broadcasts into every rank update — the
    # importance_resample recipe; all edge/rank joins are equi-joins
    "trade_pagerank_det",
    "trade_pagerank_convergence",
    # two literal ONE-row aggregate frames (band-bucket stats × gram
    # stats) cross into the single report row
    "minhash_index_health",
    # the ONE-row Fellegi–Sunter weight header (chained 1-row
    # value-cardinality aggregates) broadcasts onto the pair frame;
    # the record-attribute joins are equi-joins on the ids
    "customer_match_scores",
    # the 1-row total-positives aggregate broadcasts onto the 10-row
    # decile frame for the cumulative-capture denominator
    "quality_classifier_lift",
    # three bounded broadcasts onto the calendar-bounded daily frame:
    # the 1-row (n, Σv) totals, the 1-row Σc² denominator, and the
    # 7-row lag table; the lag pairing itself is an equi-join on i+k
    "daily_volume_acf",
    # the 1-row (n_nodes, max_degree) summary crosses into the 1-row
    # moment fold; degree decoration is an equi-join on the node id
    "trade_degree_assortativity",
    # the 1-row grand-total aggregate broadcasts onto the 9-row digit
    # report for the share denominators
    "lineitem_benford_audit",
    # the 1-row marginal-baseline prediction crosses onto the
    # |types|^2-bounded pair frame for the baseline hit count
    "event_next_hit_rate",
    # two 1-row scalar frames (total Neyman weight, total row count)
    # cross onto the |strata|-row allocation frame
    "orders_neyman_allocation",
    # two 1-row totals (corpus tokens N, bigram events B) cross onto
    # the supported-pair frame for the PMI normalizer
    "docs_collocations_pmi",
    # the 1-row document count crosses onto the word-grain frame for
    # the zero-inclusive VMR denominator
    "vocab_term_burstiness",
    # the value grid broadcasts onto the |sources| frame (bounded
    # densification) and the 1-row corpus total onto the grid frame
    "source_length_wasserstein",
    # chained 1-row count frames (na, nb, n11, D) cross into the
    # single kappa row
    "dedup_method_kappa",
    # the 1-row (n_clusters, n_docs) totals cross onto the
    # cluster-grain frame for the share denominators
    "dedup_cluster_size_histogram",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_surprise_nlj(name, query_plan):
    plan = query_plan(name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join — missing equi-join keys?"
        )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_unused_wide_columns_pruned(name, query_plan):
    """No workload query reads l_comment / o_comment — the widest columns.
    If they show up in any ReadSchema, column pruning broke."""
    plan = query_plan(name)
    assert "l_comment" not in plan, f"{name}: lineitem comment column not pruned"
    assert "o_comment" not in plan, f"{name}: orders comment column not pruned"


def test_q1_filter_pushdown(query_plan):
    plan = query_plan("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q5_dimension_joins_broadcast(query_plan):
    """region/nation/supplier are dims: the fact side must never shuffle
    for them. Two+ broadcast joins expected in the plan."""
    plan = query_plan("q5_region_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_point_filters_reach_parquet(query_plan):
    plan = query_plan("docs_winnowing_near_dup")
    assert "LessThan(doc_id" in plan, "doc_id subset filter not pushed to parquet"


def test_exists_decorrelates_to_semi_join(query_plan):
    plan = query_plan("orders_with_returns_exists")
    assert "LeftSemi" in plan, "EXISTS subquery not decorrelated to semi join"
    assert "EqualTo(l_returnflag,R)" in plan, "returnflag filter not pushed to scan"


def test_anti_join_used_for_without_orders(query_plan):
    plan = query_plan("customers_without_orders")
    assert "LeftAnti" in plan, "expected an anti join, not a filter/subquery plan"


def test_doc_median_tokens_stays_jvm_side(query_plan):
    """The registered median query must use the built-in aggregate — a
    grouped-agg pandas UDAF here would ship every group's values to
    Python with no partial aggregation (the UDAF template lives in
    functions.median_udaf for extension users, not in the workload)."""
    plan = query_plan("doc_median_tokens")
    assert "ArrowAggregatePython" not in plan and "AggregateInPandas" not in plan, (
        "pandas UDAF leaked into the median plan"
    )
    assert "median" in plan.lower()


def test_q19_brand_prefilter_pushed_to_part_scan(query_plan):
    """The disjunction's common p_brand IN (...) factor must reach the
    part scan (shrinks the broadcast side before shipping), and the
    join itself must stay a broadcast hash join on partkey."""
    plan = query_plan("q19_disjunctive_revenue")
    assert "In(p_brand" in plan, "brand prefilter not pushed to part scan"
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_activates_on_large_scans(spark, sf_dir):
    """Session config enables runtime bloom-filter injection; it stays
    dormant below the 10 GB application-side scan threshold (so local
    plans are unchanged) and must inject a might_contain probe-side
    filter once the scan qualifies — pinned here by lowering the
    threshold, i.e. exactly what a 100 TB fact scan looks like to the
    optimizer."""
    from pyspark.sql import functions as F

    from moisturizer_spark.session import load_tables

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")

    def exec_plan():
        j = (
            t["lineitem"]
            .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        return j._jdf.queryExecution().executedPlan().toString()

    thresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    prev_bcast = spark.conf.get(bcast)
    try:
        spark.conf.set(bcast, "-1")  # force the shuffle join bloom targets
        assert "might_contain" not in exec_plan(), "should be dormant at 10GB"
        spark.conf.set(thresh, "0")
        assert "might_contain" in exec_plan(), "bloom filter not injected"
    finally:
        spark.conf.unset(thresh)
        spark.conf.set(bcast, prev_bcast)


def test_q9_part_filter_pushed_and_dims_broadcast(query_plan):
    """The part-family predicate must reach the part scan (shrinking the
    broadcast side before it ships), and part/supplier/nation must all
    broadcast — the fact table never shuffles for a dimension."""
    plan = query_plan("q9_product_type_profit")
    assert "StringContains(p_name,gear)" in plan, "p_name filter not pushed"
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_q21_no_expand_in_distinct_aggs(query_plan):
    """Q21's two distinct-supplier counts must stay SEPARATE single-
    distinct aggregates (each plans as a two-level partial agg). Folding
    them into one groupBy looks tidier but makes Catalyst emit an Expand
    that triples the aggregate input — measured ~25% slower end-to-end
    at sf0.1 (see the query docstring for the rejected alternatives)."""
    plan = query_plan("q21_waiting_suppliers")
    tree = plan.split("\n\n", 1)[0]
    assert "Expand" not in tree, f"Expand leaked into the q21 plan:\n{tree}"


def test_shard_manifest_single_scan_single_shuffle(query_plan):
    """Shard assignment is a map-side md5 projection: one corpus scan,
    partial aggregation before the only (16-group) exchange."""
    plan = query_plan("corpus_shard_manifest")
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1, tree
    assert plan.count("HashAggregate") >= 2, "no map-side partial agg"
    # agg exchange + presentation-sort range exchange, nothing else
    assert tree.count("Exchange") <= 2, tree


def test_quality_funnel_single_scan_no_join(query_plan):
    """The rule cascade is one CASE projection: a single scan, no joins,
    partial agg before the (source, stage) exchange."""
    plan = query_plan("docs_quality_funnel")
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1, tree
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, f"unexpected {bad} in funnel plan"
    assert plan.count("HashAggregate") >= 2


def test_containment_eval_side_broadcasts(query_plan):
    """Both eval-side frames (gram set, per-item gram counts) must
    broadcast — the corpus side probes map-side and never shuffles its
    grams before the hit aggregation."""
    plan = query_plan("docs_benchmark_containment")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_remove_dup_spans_plan_shape(query_plan):
    """The span-removal plan must stay linear: ONE scan of documents, no
    join of token rows against span rows, and exactly the three
    shuffles the algorithm needs (gram ranking, doc window+reassembly,
    final presentation sort)."""
    plan = query_plan("docs_remove_dup_spans")
    tree = plan.split("\n\n", 1)[0]  # formatted mode: tree, blank, details
    assert tree.count("Scan parquet") == 1, tree
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, f"unexpected {bad} in span-removal plan"
    n_exchanges = tree.count("Exchange")
    assert n_exchanges <= 3, f"{n_exchanges} exchanges (expected ≤3):\n{tree}"


def test_remove_dup_spans_skew_guard_plan(spark, sf_dir):
    """skew_guard must ELIMINATE the gram-keyed rank window (the hot-gram
    skew magnet) and replace it with a partial+final min aggregate: no
    reducer ever sorts a hot gram's full occurrence list. The doc-keyed
    coverage window is the only window left."""
    import contextlib
    import io

    from moisturizer_spark.operators.textan import remove_dup_spans
    from moisturizer_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )

    def plan_for(**kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            remove_dup_spans(docs, n=5, **kw).explain("formatted")
        return buf.getvalue()

    base, guarded = plan_for(), plan_for(skew_guard=True)
    base_tree = base.split("\n\n", 1)[0]
    tree = guarded.split("\n\n", 1)[0]
    # the rank window is gone; only the doc coverage window remains
    assert base_tree.count("Window") == 2
    assert tree.count("Window") == 1
    assert "row_number" not in guarded
    # winners collapse through a two-level (partial map-side + final)
    # aggregate — min(struct) plans as SortAggregate pairs
    assert tree.count("SortAggregate") + tree.count("HashAggregate") >= \
        base_tree.count("SortAggregate") + base_tree.count("HashAggregate") + 2
    # flag join present, never a cartesian
    assert "CartesianProduct" not in guarded


def test_remove_dup_spans_hashed_key_drops_gram_string(spark, sf_dir):
    """In the corpus-scale variant the ranking exchange must carry the
    8-byte hashed key, not the gram text."""
    import contextlib
    import io

    from moisturizer_spark.operators.textan import remove_dup_spans
    from moisturizer_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    df = remove_dup_spans(docs, n=5, hash_grams=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "xxhash64" in plan
    # projection collapse must eliminate the gram STRING column entirely
    # (only the 8-byte _gk key and the _hasg bit reach the exchange)
    assert "_gram#" not in plan, plan
    assert "_gk#" in plan and "_hasg#" in plan
