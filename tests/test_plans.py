"""Physical-plan regression tests: the 100 TB properties the queries
claim (broadcasts, pushdown, partial aggregation, no cartesian
products) must be visible in the optimized plan, not just intended.
"""

from __future__ import annotations

import contextlib
import io

from clickhouse_only_importer_prototype_spark import queries as q
from clickhouse_only_importer_prototype_spark.functions import salted_join


def _plan(df) -> str:
    return _explain(df, "extended")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(q.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_single_shuffle_join(spark, sf_dir):
    plan = _plan(q.q5_local_supplier(spark, sf_dir))
    # 4 dims broadcast; only lineitem⨝orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _formatted(q.q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least the date + quantity predicates reach parquet
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(q.q1_pricing_summary(spark, sf_dir))
    # partial_ marks map-side combine before the exchange
    assert "partial_" in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _formatted(q.q6_forecast_revenue(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 4 needed columns only — not the 16-column lineitem schema
    assert "l_extendedprice" in read_schema and "l_comment" not in read_schema


def test_q1_exactly_one_shuffle(spark, sf_dir):
    plan = _plan(q.q1_pricing_summary(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert physical.count("Exchange") == 1


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = q.load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c = q.load(spark, sf_dir, "customer").selectExpr(
        "c_custkey as o_custkey", "c_name"
    )
    plain = o.join(c, "o_custkey").count()
    salted = salted_join(o, c, on="o_custkey", salt=4).count()
    assert plain == salted


def test_salted_join_rejects_outer_right(spark, sf_dir):
    # the replicated right side would duplicate unmatched right rows
    import pytest

    o = q.load(spark, sf_dir, "orders").select("o_custkey")
    c = q.load(spark, sf_dir, "customer").selectExpr("c_custkey as o_custkey")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(o, c, on="o_custkey", how=how)


def test_interval_join_no_cartesian(spark, sf_dir):
    plan = _plan(q.events_interval_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_surrogate_ids_ranks_in_parallel(spark, sf_dir):
    """The rank window partitions by range bucket — never a global
    single-partition Sort (the 100 TB cliff this query exists to dodge),
    and the offsets side is broadcast."""
    plan = _plan(q.surrogate_ids(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert "__bkt" in physical
    assert "Exchange SinglePartition" not in physical
    assert "BroadcastHashJoin" in physical


def test_sequence_packing_no_global_window(spark, sf_dir):
    """The token cumsum runs per range-bucket, not as one global
    ORDER BY window over the corpus."""
    plan = _plan(q.sequence_packing(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert "__bkt" in physical
    assert "Exchange SinglePartition" not in physical


def test_hash_split_is_pure_projection(spark, sf_dir):
    """Split assignment adds no shuffle: one scan, zero Exchange."""
    plan = _plan(q.train_val_test_split(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in physical


def test_exact_groups_partial_aggregation(spark, sf_dir):
    """Group building shuffles partial minima (map-side combine), not
    full rows through a window sort."""
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        _exact_groups,
    )

    docs = q.load(spark, sf_dir, "documents")
    plan = _plan(_exact_groups(docs))
    assert "partial_min" in plan
    assert "Window" not in plan.split("== Physical Plan ==")[1]


def test_text_ops_stay_jvm_side(spark, sf_dir):
    """The text-quality projection is one JVM scan-projection: no
    Python evals, no shuffle. (The HOF aggregate keeps the Project
    outside whole-stage codegen — interpreted JVM expressions, still
    never Python.)"""
    plan = _plan(q.text_quality(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in physical
    assert "BatchEvalPython" not in physical
    assert "ArrowEvalPython" not in physical


def test_q19_or_brackets_pushed_to_both_scans(spark, sf_dir):
    plan = _formatted(q.q19_bracket_revenue(spark, sf_dir))
    scans = {
        seg.split("Location")[0]: seg
        for seg in plan.split("\n\n")
        if "PushedFilters" in seg
    }
    part = next(s for s in scans.values() if "part.parquet" in s)
    line = next(s for s in scans.values() if "lineitem.parquet" in s)
    # brand/size disjunction reaches the part scan...
    assert "Or(" in part.split("PushedFilters")[1].splitlines()[0]
    assert "EqualTo(p_brand,Brand#1)" in part
    # ...and the per-bracket quantity envelope reaches lineitem
    assert "l_quantity" in line.split("PushedFilters")[1].splitlines()[0]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_folds_into_one_aggregate(spark, sf_dir):
    plan = _plan(q.q21_waiting_supplier(spark, sf_dir))
    # the correlated EXISTS/NOT EXISTS pair is ONE per-order aggregate
    # with map-side combine, not semi+anti joins (3 exchanges -> 2)
    assert "partial_count(distinct" in plan or "count(distinct" in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    # supplier rides in as a broadcast for the name lookup
    assert "BroadcastHashJoin" in plan


def test_q8_only_fact_join_shuffles(spark, sf_dir):
    plan = _plan(q.q8_market_share(spark, sf_dir))
    # 7 dimension joins broadcast; orders⨝lineitem is the lone shuffle
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan


def test_q4_semi_join_not_inner(spark, sf_dir):
    plan = _plan(q.q4_priority_exists(spark, sf_dir))
    assert "LeftSemi" in plan
    # EXISTS must not degenerate into an inner join + distinct
    assert "Distinct" not in plan


def test_q2_broadcasts_dims_and_partial_min(spark, sf_dir):
    plan = _plan(q.q2_min_cost_supplier(spark, sf_dir))
    # supplier/nation/region/part/best all broadcast; the only
    # data-sized shuffle is the (part,supplier) min-cost groupBy,
    # which must partial-aggregate map-side
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_q20_reuses_shipped_partials_no_cartesian(spark, sf_dir):
    plan = _plan(q.q20_promotion_parts(spark, sf_dir))
    assert "partial_sum" in plan  # per-(supp,part) quantity rollup
    assert "CartesianProduct" not in plan


def test_chunk_dedup_keeper_is_partial_min(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators import dedup

    docs = q.load(spark, sf_dir, "documents")
    plan = _plan(dedup.chunk_dedup(docs))
    # the first-occurrence reduction must combine map-side (the shuffle
    # carries per-chunk-hash minima, not every exploded chunk row)
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_contamination_collapse_no_corpus_self_join(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators import dedup

    docs = q.load(spark, sf_dir, "documents")
    bench = docs.where(docs.doc_id % 97 == 0)
    plan = _plan(dedup.contamination_pairs(docs, bench, n=4))
    # bench shingles broadcast onto the rep shingle stream
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injected_for_selective_star_join(spark, sf_dir):
    li = q.load(spark, sf_dir, "lineitem")
    orders = q.load(spark, sf_dir, "orders").where(
        "o_orderpriority = '1-URGENT'"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).count()
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
    )
    prior = {k: spark.conf.get(k) for k in keys}
    try:
        # force the shuffle-join shape the rule targets (at 100 TB the
        # fact side never broadcasts; locally everything would), and
        # drop the engine's 1GB fact-scan floor so the toy scan qualifies
        spark.conf.set(keys[0], "-1")
        spark.conf.set(keys[1], "0")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_fuzzy_pairs_block_equi_join_no_cartesian(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.linkage import (
        blocked_fuzzy_pairs,
    )

    part = q.load(spark, sf_dir, "part")
    plan = _plan(
        blocked_fuzzy_pairs(part, "p_partkey", "p_name", ["p_size"], 3)
    )
    # the blocking key must make this an equi-join, never a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_event_ngrams_single_window_no_self_join(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.temporal import (
        event_ngrams,
    )

    ev = q.load(spark, sf_dir, "events")
    plan = _plan(event_ngrams(ev, n=4))
    # n-grams of any depth ride ONE user-partitioned sort: exactly one
    # window exchange, no join of the events stream against itself
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_price_histogram_partial_agg(spark, sf_dir):
    plan = _plan(q.price_histogram(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.temporal import (
        ohlc_bars,
    )

    ev = q.load(spark, sf_dir, "events")
    plan = _plan(ohlc_bars(ev, ["event_type"]))
    # open/close via min_by/max_by state: ONE exchange, zero windows —
    # the ROW_NUMBER formulation would cost a full per-key sort
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_twap_groupby_reuses_window_partitioning(spark, sf_dir):
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators.temporal import (
        twap,
    )

    ev = q.load(spark, sf_dir, "events")
    plan = _plan(
        twap(ev, ["event_type"], F.col("value").cast("decimal(14,2)"))
    )
    # the fold groups by exactly the window's partition keys, so the
    # holding-time window and the weighted-sum aggregate share ONE
    # exchange — a second one would re-shuffle output-identical keys
    assert plan.count("Exchange") == 1


def test_triangle_adjacency_is_broadcast_no_path_shuffle(spark, sf_dir):
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import graph as G

    li = q.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_partkey").alias("r_partkey"),
    )
    pairs = (
        li.join(l2, li["l_orderkey"] == l2["r_orderkey"])
        .where(F.col("l_partkey") < F.col("r_partkey"))
        .select(F.col("l_partkey").alias("a"), F.col("r_partkey").alias("b"))
    )
    plan = _plan(G.triangle_stats(G.oriented_edges(pairs)))
    # the adjacency table joins as broadcast (the two-path shuffle of
    # sum(fwd_deg^2) rows is exactly what this formulation avoids)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iteration_broadcasts_rank_vector(spark):
    from clickhouse_only_importer_prototype_spark.operators import graph as G

    arcs = G.symmetrize(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 4)], "src: long, dst: long"
        )
    )
    ranks = G.pagerank_int(arcs, iterations=1)
    # the returned frame is a localCheckpoint of the last iteration;
    # its lineage must be O(1) — scanning an RDD checkpoint, not the
    # full join chain
    plan = _plan(ranks)
    assert "Scan ExistingRDD" in plan


def test_bigram_lm_no_cartesian_partial_agg(spark, sf_dir):
    plan = _plan(q.bigram_lm_scores(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_copurchase_recs_freqs_broadcast(spark, sf_dir):
    plan = _plan(q.copurchase_recs(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # both freq sides + total
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_weighted_sample_takeordered_no_global_sort(spark, sf_dir):
    """priority_sample compiles to TakeOrderedAndProject (per-partition
    heap + driver merge of k), never a global Sort+Exchange."""
    plan = _plan(q.weighted_doc_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    phys = plan.split("== Physical Plan ==")[1]
    assert "Sort " not in phys  # no full sort operator


def test_containment_pairs_no_cartesian(spark, sf_dir):
    plan = _plan(q.dedup_containment(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fk_audit_broadcasts_fixed_dims_only(spark, sf_dir):
    """The fixed-size parents (nation, region — 3 of the 7 edges) are
    force-broadcast; scale-variable parents are left to AQE (a forced
    broadcast of orders/customer OOM'd the 10x gate). No cartesians."""
    plan = _plan(q.fk_integrity_audit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_nation_share_single_fact_shuffle(spark, sf_dir):
    """Fixed dims broadcast; the window runs over the 25-row nation
    rollup; customer's join strategy is AQE's call."""
    plan = _plan(q.nation_revenue_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """The pair search is an equi-join on cluster id, not all-pairs."""
    plan = _plan(q.semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitter_rescore_is_broadcast_semi(spark, sf_dir):
    """The exact rescore prunes the token stream with a BROADCAST left
    semi join on the MG candidate set — the token stream itself must
    never shuffle (the whole point of the sketch at data-scale key
    cardinality). persist=False keeps the frame lazy for explain."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        sketches,
        text as text_ops,
    )

    d = q.load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            sketches.bigram_tokens(text_ops._norm(F.col("text")))
        ).alias("tok")
    )
    plan = _plan(sketches.heavy_hitters(toks, "tok", den=850, persist=False))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the only Exchanges allowed: the candidate distinct and the
    # candidate-pruned count groupBy — never a pre-join token shuffle
    assert "SortMergeJoin" not in plan


def test_tv_drift_broadcasts_group_stats(spark, sf_dir):
    """Per-group totals/share-mass are broadcast back onto the counts;
    the only non-broadcast join is the matched-token self-join. The
    G-row pair skeleton may compile to a broadcast nested-loop — a
    CartesianProduct (both sides unbroadcast) must not appear."""
    plan = _plan(q.source_token_drift(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_attribution_position_no_range_cross_product(spark, sf_dir):
    """The 7-day lookback match is the week-bucketized equi-join, and
    the ranking window partitions by purchase id — no cartesian, no
    all-events window."""
    plan = _plan(q.attribution_position(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the position window runs per purchase id, never unpartitioned
    assert "windowspecdefinition(pid" in plan


def test_corpus_datacard_single_doc_join_no_cartesian(spark, sf_dir):
    """Feature pass joins base on doc_id; top-lang window runs over
    the slice-scale source x lang counts; no cross products."""
    plan = _plan(q.corpus_datacard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(source" in plan


def test_split_novelty_anti_join_shape(spark, sf_dir):
    """Novelty = shingle-keyed LEFT ANTI against the train shingle
    set — the decontamination shape, never a cross product."""
    plan = _plan(q.split_novelty_rate(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_decay_no_range_cross_product(spark, sf_dir):
    """Same bucketized equi-join contract as the linear model; the
    weight is a row-local CASE, no window at all."""
    plan = _plan(q.attribution_decay(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition" not in plan


def test_weighted_median_domain_collapse_before_window(spark, sf_dir):
    # the cumsum window must run over the collapsed (flag, price)
    # domain: exactly one pre-window aggregate, no cartesian, and the
    # scan reads only the three needed columns
    plan = _formatted(q.weighted_median_price(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in rs and "l_quantity" in rs
    assert "l_comment" not in rs


def test_zscore_single_keyed_window_no_cartesian(spark, sf_dir):
    plan = _formatted(q.events_anomaly_zscore(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # one window NODE over the hourly rollup (formatted mode lists the
    # node once in the tree and once in the detail section)
    assert plan.count("(") and plan.count("Window") <= 2
    assert "Window" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bpe_compression_vocab_join_no_cartesian(spark, sf_dir):
    plan = _plan(q.bpe_compression(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ranking_quality_one_candidate_pass(spark, sf_dir):
    # every variant's candidates come from ONE Python pass over the
    # corpus, and truth hits are a per-query window, not a self-join
    # that would plan the pass twice
    plan = _plan(q.ann_ranking_quality(spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[1]
    assert physical.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_ppr_final_plan_is_checkpoint_topk(spark, sf_dir):
    # the iteration's broadcast joins execute eagerly (localCheckpoint
    # per iteration pins O(1) lineage); the returned plan must be just
    # the top-k over the checkpointed |V|-row vector — no join, no
    # cartesian, no full sort
    plan = _plan(q.pagerank_personalized(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan.split("== Physical Plan ==")[1]


def test_trending_parts_anchor_broadcast_topk(spark, sf_dir):
    plan = _plan(q.trending_parts(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_bm25_broadcast_terms_and_topk(spark, sf_dir):
    # the 3-row term set and 1-row corpus stats broadcast; top-10 is
    # a TakeOrdered, never a full sort; no cartesian beyond the 1-row
    # broadcast nested loops
    plan = _plan(q.bm25_topdocs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_curriculum_order_no_single_partition_window(spark, sf_dir):
    # the global rank must run bucket-partitioned (rank_gapless), not
    # as one SinglePartition ordered window over the corpus
    plan = _plan(q.curriculum_order(spark, sf_dir))
    assert "windowspecdefinition(__bkt" in plan
    assert "CartesianProduct" not in plan


def test_lang_chi2_windows_are_partitioned(spark, sf_dir):
    # both windows (token totals, per-lang rank) are PARTITIONED and
    # run on the vocab-scale frame; lang and grand totals arrive via
    # broadcast, never an unpartitioned window over the data path
    plan = _plan(q.lang_chi2_tokens(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "windowspecdefinition(token" in plan
    assert "windowspecdefinition(lang" in plan


def test_shuffle_audit_adjacency_is_equi_join(spark, sf_dir):
    # adjacency = train_order+1 equi-join: sort-merge or hash join,
    # never a cartesian or an ordered global window over the corpus
    plan = _plan(q.curriculum_shuffle_audit(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_order_reconciliation_partial_agg_before_join(spark, sf_dir):
    # the child rollup folds map-side (partial_sum) before the
    # orderkey join; scan prunes to the four money columns
    plan = _formatted(q.order_reconciliation(spark, sf_dir))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    scans = [seg[:250] for seg in plan.split("ReadSchema")[1:]]
    li = [s for s in scans if "l_extendedprice" in s]
    assert li and all("l_shipdate" not in s for s in li)


def test_join_cardinality_probe_prunes_to_keys(spark, sf_dir):
    # both scans prune to the single key column; the estimate side
    # semi-probes the sampled key set
    plan = _formatted(q.join_cardinality_estimate(spark, sf_dir))
    assert "CartesianProduct" not in plan
    for seg in plan.split("ReadSchema")[1:]:
        head = seg[:120]
        assert "o_totalprice" not in head and "c_name" not in head


def test_ppm_feature_stats_single_scan_no_shuffle(spark, sf_dir):
    """The PPM decode pipeline is scan -> JVM hex synth -> one
    mapInPandas: a pure narrow pipeline. One FileScan, zero Exchange —
    payload bytes cross the Arrow boundary exactly once and nothing
    shuffles at any scale."""
    plan = _formatted(q.multimodal_features(spark, sf_dir))
    # formatted mode prints each node twice (tree + detail section);
    # count scans in the tree only.
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_ppm_resize_single_scan_no_shuffle(spark, sf_dir):
    plan = _formatted(q.multimodal_resize(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_curriculum_keyed_frame_cached(spark, sf_dir):
    """curriculum_order's keyed frame feeds rank_gapless's three
    passes (min/max, counts, rank); the persist must appear as
    InMemoryTableScan reuse or the tokenize->score text pipeline runs
    3x (measured ~3x the query wall at sf0.1)."""
    df = q.curriculum_order(spark, sf_dir)
    plan = _formatted(df)
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_containment_packed_frame_cached(spark, sf_dir):
    """containment_pairs references its packed shingle frame 4x
    (prefix probe, full index, both verify sides); the persist must
    show up as InMemoryTableScan reuse, not 4 recomputes of the
    shingle->df-rank->pack chain (measured 2x query wall at sf0.1)."""
    df = q.dedup_containment(spark, sf_dir)
    plan = _formatted(df)
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_broadcast_hints_only_on_bounded_frames(spark, sf_dir):
    """Broadcast-policy pin (round 5): with size-based selection
    disabled (both thresholds -1), the only BroadcastHashJoins left in
    a plan are the ones an explicit hint forces — so the count per
    query IS the hint count, and it must equal the number of provably
    BOUNDED frames the query hints (region/nation dims, 1-row scalar
    aggregates, footer-gated flips that fire at fixture scale).
    A count above the pin means someone re-hinted a frame that scales
    with data (customer/supplier/part or anything fact-derived) — the
    driver-OOM anti-pattern the 100x sweep measured at 2-5x the query
    wall (q3 force-broadcast: 52.2s vs 9.9s size-based)."""
    # pin = hint sites x subtree multiplicity (an unpersisted subtree
    # referenced twice, like q2's region-scoped costs, shows its hints
    # twice). BNLJ rows are the 1-row scalar crossJoins (inequality or
    # no key); BHJ counts include 1-row hints Catalyst converts to
    # equi-joins (q15's max) and fixture-scale footer-gated flips
    # (copurchase_recs' freq).
    expected_hints = {
        # no bounded frames -> no hints -> zero forced broadcasts
        "q3_shipping_priority": (0, 0),
        "q10_returned_items": (0, 0),
        "q14_promo_revenue": (0, 0),
        "q19_bracket_revenue": (0, 0),
        "q16_supplier_cnt": (0, 0),
        "q21_waiting_supplier": (0, 0),
        "segment_distinct_stats": (0, 0),
        # bounded hints only: nation/region, 1-row scalars
        "q2_min_cost_supplier": (4, 0),  # (nation + region) x2 subtrees
        "q5_local_supplier": (2, 0),     # nation + region
        "q7_nation_volume": (2, 0),      # nation x2
        "q8_market_share": (3, 0),       # nation x2 + region
        "q9_product_profit": (1, 0),     # nation
        "q11_important_stock": (2, 1),   # nation x2 subtrees + 1-row total
        "q15_top_supplier": (1, 0),      # 1-row max (converted equi-join)
        "q20_promotion_parts": (1, 0),   # nation
        "q22_idle_balances": (0, 1),     # 1-row avg (inequality -> BNLJ)
        "region_rollup": (2, 0),         # nation + region
        "copurchase_recs": (2, 1),       # gated freq x2 + 1-row total
    }
    registry = q.queries()
    # copurchase_recs' (2, 1) pin assumes its footer gate FIRES at this
    # fixture (part rows <= 4M flips the freq join to a forced
    # broadcast); assert the precondition so pointing the fixture at a
    # larger corpus fails HERE with the real reason, not as a
    # mysterious hint-count mismatch below.
    from clickhouse_only_importer_prototype_spark import stats as _stats

    n_parts = sum(
        n
        for _, _, n in _stats.parquet_rowgroup_stats(
            f"{sf_dir}/part.parquet", "p_partkey"
        )
    )
    assert 0 < n_parts <= 4_000_000, (
        f"fixture part table has {n_parts} rows — copurchase_recs' "
        "footer gate no longer fires; re-pin its expected hints"
    )
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prior_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for name, (n_bhj, n_bnlj) in expected_hints.items():
            plan = _plan(registry[name](spark, sf_dir))
            got = (
                plan.count("BroadcastHashJoin"),
                plan.count("BroadcastNestedLoopJoin"),
            )
            assert got == (n_bhj, n_bnlj), (
                f"{name}: {got} forced broadcasts, policy pins "
                f"{(n_bhj, n_bnlj)}"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", prior_aqe
        )


def test_aqe_skew_join_splits_hot_partition(spark):
    """Adversarial skew battery (round-7 verdict #5): the engine's AQE
    skew-join config is pinned to actually FIRE on a deliberately
    skewed key, not just sit in session.py. One hot key carries half
    the fact bytes (the 100 TB straggler shape: a fact->dim enrich
    where one tenant/null-bucket dominates); with thresholds sized to
    the fixture the final adaptive plan must mark the join skew=true
    and read the hot side through a skewed AQEShuffleRead, the same
    join over uniform keys must NOT (negative control), and disabling
    the optimization must not change results (semantics invariance —
    the split only re-partitions work). Measured on this shape at 8M
    rows x 8 cores: 4.75s unsplit -> 1.86s split (2.55x), identical
    sums."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)

    def build(hot: bool):
        n = 500_000
        key = (
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.col("id"), F.lit(10_000)))
            if hot
            else F.pmod(F.col("id"), F.lit(10_000))
        )
        fact = spark.range(n).select(
            key.alias("k"),
            F.concat(F.lit("x" * 128), F.col("id").cast("string")).alias(
                "pad"
            ),
        )
        dim = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        return fact.join(dim, "k").select(
            F.sum(F.length("pad") + F.col("v")).alias("s")
        )

    def final_plan(df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    try:
        skewed = build(hot=True)
        expected = skewed.collect()[0][0]
        plan = final_plan(skewed)
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan

        # negative control: uniform keys must not be split
        uniform_plan = final_plan(build(hot=False))
        assert "skew=true" not in uniform_plan, uniform_plan

        # semantics invariance: the split only re-partitions work
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        unsplit = build(hot=True)
        assert unsplit.collect()[0][0] == expected
        assert "skew=true" not in final_plan(unsplit)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
