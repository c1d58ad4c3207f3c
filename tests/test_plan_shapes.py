"""Physical-plan regression tests: the scale properties SCALE.md claims.

These assert plan SHAPE, not timing: dim joins must be broadcast (never
sort-merge), filters must reach the parquet scan, and scans must be
column-pruned. A regression here is a 100 TB regression even when sf0.001
timings look fine.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from etl_mini_dw_spark.operators import fact
from etl_mini_dw_spark.plans import analytics


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _built_plans(monkeypatch, build) -> str:
    """The plans of every frame collected or checkpointed while
    ``build()`` makes its frame (the rank helpers of
    functions/quantiles.py read their coarse histograms and target
    buckets then, and a checkpoint hides its lineage from the final
    plan), followed by the frame's own."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    for method in ("collect", "localCheckpoint"):
        def spy(self, *args, _orig=getattr(DataFrame, method), **kwargs):
            plans.append(_plan(self))
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, method, spy)
    df = build()
    monkeypatch.undo()
    return "\n".join(plans + [_plan(df)])


def _unpartitioned_windows(plan: str) -> list[str]:
    """The heads of the windows with no partition: their spec opens with
    an order key or with the frame itself."""
    heads = re.findall(r"windowspecdefinition\(([^,]+)", plan)
    return [
        h
        for h in heads
        if " ASC" in h or " DESC" in h or h.startswith("specifiedwindowframe")
    ]


def test_fact_initial_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(fact.fact_initial(spark, sf_dir))
    # 3 as-of dims + DimDate (+ unknown-row cross joins) — all broadcast
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(analytics.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: the 4 unused lineitem columns must not be read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_flagship_no_sort_merge(spark, sf_dir):
    plan = _plan(analytics.flagship_revenue_by_month_segment(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_aggregates_are_two_phase(spark, sf_dir):
    plan = _plan(analytics.q1_pricing_summary(spark, sf_dir))
    # partial (map-side) + final HashAggregate
    assert plan.count("HashAggregate") >= 2


def test_salted_agg_is_two_phase(spark, sf_dir):
    """The salted aggregate must show TWO logical aggregation phases —
    (user, salt) partials then per-user finals — i.e. ≥4 HashAggregate
    nodes (each phase is itself partial+final), with the salt present."""
    from etl_mini_dw_spark.operators import skew

    plan = _plan(skew.salted_user_value_totals(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4, plan[:3000]
    assert "_salt" in plan


def test_fact_increment_delta_not_force_broadcast(spark, sf_dir):
    """The fact delta is unbounded (backfill-sized in the worst case) so the
    state⋈delta merge join must not carry a mandatory broadcast hint.

    With autoBroadcastJoinThreshold=-1 only HINTED broadcasts survive
    planning: the dim/unknown-row joins (genuinely dimension-sized, hinted
    on purpose) must stay BroadcastHashJoin, while the NK merge join and
    the insert anti-join must degrade to shuffle joins. A mandatory
    broadcast of the delta would keep them BroadcastHashJoin and fail this.
    """
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(fact.fact_two_phase(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # state0⋈delta (left outer on NK) + insert anti-join: both shuffle
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2, plan[:3000]
    # the dimension-sided joins keep their explicit hints
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Both sides stored bucketed on the join key ⇒ the SortMergeJoin
    consumes the scans directly — NO Exchange anywhere in the join plan
    (the final aggregate is excluded from the frame under test)."""
    from etl_mini_dw_spark.plans import bucketing

    plan = _plan(bucketing.bucketed_join_df(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]
    assert "SelectedBucketsCount" in plan, plan[:2000]


def test_window_battery_single_shuffle(spark, sf_dir):
    """All five window functions share one partitioning: exactly one
    Exchange (hashpartitioning on o_custkey) in the whole plan."""
    from etl_mini_dw_spark.plans import olap

    plan = _plan(olap.order_window_battery(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan[:3000]  # 1 shuffle (+AQE read)
    assert "Window" in plan


def test_topk_users_is_take_ordered(spark, sf_dir):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    top-K, driver merges K×partitions rows) — NOT a row_number window over
    a single-partition Exchange of the full per-user aggregate."""
    from etl_mini_dw_spark.streaming import events as ev

    plan = _plan(ev.topk_users_by_value(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # the one sort of ALL users a global window would force must be gone:
    # any SinglePartition exchange may only carry the K-row result
    assert "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0]


def test_forecast_revenue_full_pushdown(spark, sf_dir):
    """Q6 shape exists to prove scan machinery: all three predicates reach
    the parquet reader and the scan reads only the needed columns."""
    from etl_mini_dw_spark.plans import classic

    plan = _plan(classic.forecast_revenue_change(spark, sf_dir))
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_returnflag" not in read, read
    assert "Join" not in plan


def test_bulk_shipping_semis_broadcast(spark, sf_dir):
    """Q20's nested chain: every semi-join level broadcasts its small side;
    the only shuffle is the per-(part,supp) volume aggregate."""
    from etl_mini_dw_spark.plans import classic

    plan = _plan(classic.bulk_shipping_suppliers(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_mixture_thresholds_broadcast_back(spark, sf_dir):
    """The 20-row per-source threshold frame must probe the corpus via a
    broadcast join — the corpus side must never shuffle on source."""
    from etl_mini_dw_spark.functions import corpus

    plan = _plan(corpus.mixture_sampling(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_pps_sample_is_map_only_beside_scalar(spark, sf_dir):
    """PPS sampling must not shuffle the corpus: the only exchange feeds
    the 1-row scalar total (partial agg + broadcast back)."""
    from etl_mini_dw_spark.functions import sampling

    plan = _plan(sampling.pps_weighted_sample(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]
    # no corpus-sized shuffle: any Exchange present must be the scalar
    # aggregate's (single partition), never a hash repartition of docs
    assert "hashpartitioning(doc_id" not in plan


def test_edit_distance_neardups_no_cartesian(spark, sf_dir):
    """The blocked Levenshtein self-join must plan as an equi-join on the
    block key — never a cartesian/nested-loop over the corpus."""
    from etl_mini_dw_spark.functions import dedup

    plan = _plan(dedup.edit_distance_neardups(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_expectations_row_checks_single_scan(spark, sf_dir):
    """All lineitem row-level expectations fold into ONE scan aggregate:
    exactly 3 lineitem scans total (row checks, PK groupBy, FK side) —
    not one per expectation."""
    from etl_mini_dw_spark.plans import expectations

    plan = _plan(expectations.expectations_report(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 3, plan.count("lineitem.parquet")


def test_anomaly_window_is_month_partitioned(spark, sf_dir):
    """The z-score window must partition by month — a global (empty
    partitionBy) window would single-task the day aggregate at scale."""
    from etl_mini_dw_spark.plans import anomaly

    plan = _plan(anomaly.revenue_anomaly_days(spark, sf_dir))
    assert "hashpartitioning(month" in plan, plan[:3000]


def test_pq_adc_join_is_broadcast(spark, sf_dir):
    """ADC scoring joins corpus codes to the per-query lookup tables —
    the tables are M×K×queries rows and must broadcast, never shuffle
    the code frame against them with sort-merge."""
    from etl_mini_dw_spark.functions import pq

    # pre-checkpoint builder: ann_pq_topk is stage-memoized since r09
    plan = _plan(pq._ann_pq_topk_build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_trend_slope_dims_broadcast(spark, sf_dir):
    """The trend query's customer→nation→region chain must broadcast —
    the fact-side shuffle is the only wide operator."""
    from etl_mini_dw_spark.plans import stats

    plan = _plan(stats.revenue_trend_slope(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2500]
    assert "SortMergeJoin" not in plan


def test_share_of_region_window_partitioned(spark, sf_dir):
    """Share-of-parent must window inside region partitions, never a
    global single-task window."""
    from etl_mini_dw_spark.plans import stats

    plan = _plan(stats.nation_share_of_region(spark, sf_dir))
    assert "hashpartitioning(region" in plan, plan[:2500]


def test_attribution_join_is_user_keyed(spark, sf_dir):
    """Purchases⋈touches must plan as an equi-join on user_id with the
    time band as residual — never a cartesian over the event log."""
    from etl_mini_dw_spark.plans import behavior

    plan = _plan(behavior.attribution_models(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime row-level filtering: with a selective dim-side filter and
    a shuffle join, the optimizer must inject a bloom_filter_agg on the
    creation side and a might_contain predicate on the fact scan — the
    100 TB mechanism that keeps a shuffle join from reading fact rows
    whose keys the filtered dim side can never match."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1000MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan(j)
        assert "bloom_filter_agg" in plan, plan[:2500]
        assert "might_contain" in plan, plan[:2500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_hitter_recount_is_broadcast(spark, sf_dir):
    """The exact-recount join against the MG candidate set must be a
    broadcast (map-side filter of the token stream), and the final
    count must be two-phase — the tail of the vocabulary must never
    enter a shuffle keyed by itself at full width."""
    from etl_mini_dw_spark.functions import text

    plan = _plan(text.heavy_hitter_tokens(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2500]
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_order_lifecycle_single_wide_join(spark, sf_dir):
    """Accumulating snapshot: milestone aggregate keyed by orderkey must
    be two-phase, and the orders join must reuse that partitioning —
    never a cartesian or nested loop."""
    from etl_mini_dw_spark.plans import marts

    plan = _plan(marts.fact_order_lifecycle(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_monthly_snapshot_spine_is_broadcast(spark, sf_dir):
    """Periodic snapshot: the month spine must broadcast against the
    customer dim; the cumulative window must partition by custkey,
    never run globally."""
    from etl_mini_dw_spark.plans import marts

    plan = _plan(marts.fact_customer_monthly_snapshot(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(custkey" in plan, plan[:2500]


def test_association_rules_item_counts_broadcast(spark, sf_dir):
    """Item counts and the total-orders scalar must broadcast back onto
    the pair counts; top-K must be TakeOrderedAndProject."""
    from etl_mini_dw_spark.plans import olap

    plan = _plan(olap.part_association_rules(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_join_is_broadcast(spark, sf_dir):
    """The Bloom table (≤2048 words) must broadcast to the probe side —
    the probe stream itself must never shuffle for the membership test."""
    from etl_mini_dw_spark.functions import sampling

    plan = _plan(sampling.bloom_membership_report(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2500]


def test_asof_attribution_snapshot_broadcast(spark, sf_dir):
    """The dim-sized as-of snapshot must broadcast onto the fact join —
    one shuffle total (lineitem⋈orders), never a sort-merge against the
    snapshot."""
    from etl_mini_dw_spark.plans import analytics

    plan = _plan(analytics.revenue_by_category_asof(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """A month-partitioned table must answer a month-filtered query with
    partition pruning: the filter shows up as a PartitionFilter on the
    scan, not a post-scan Filter over all files — at 100 TB this is the
    difference between touching one month and touching the table."""
    from pyspark.sql import functions as F

    from etl_mini_dw_spark.sources.tables import typed_table

    ev = typed_table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    path = str(tmp_path / "events_by_month")
    ev.write.mode("overwrite").partitionBy("month").parquet(path)
    q = (
        spark.read.parquet(path)
        .filter("month = '2024-01'")
        .groupBy("event_type")
        .count()
    )
    plan = _plan(q)
    assert "PartitionFilters" in plan and "month" in plan.split("PartitionFilters")[1][:120], (
        plan[:2500]
    )


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a month-partitioned fact to a
    FILTERED dim must inject a dynamicpruningexpression into the fact
    scan's PartitionFilters — the runtime analog of static pruning, and
    the mechanism that keeps a dim-filtered 100 TB fact join from
    scanning every partition."""
    from pyspark.sql import functions as F

    from etl_mini_dw_spark.sources.tables import typed_table

    ev = typed_table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    path = str(tmp_path / "events_dpp")
    ev.write.mode("overwrite").partitionBy("month").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("2024-01", "jan"), ("2024-02", "feb"), ("2025-06", "jun")],
        ["month", "label"],
    ).filter("label = 'jan'")
    plan = _plan(fact.join(dim, "month").groupBy("label").count())
    assert "dynamicpruningexpression" in plan, plan[:2500]


def test_contamination_bench_gram_set_broadcast(spark, sf_dir):
    """The benchmark gram set must broadcast — the train side never
    shuffles on gram (SCALE.md contamination-spans row)."""
    from etl_mini_dw_spark.functions import sampling

    plan = _plan(sampling.contamination_spans(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_pairs_are_block_equi_join(spark, sf_dir):
    """SemDeDup candidates come from a (cluster, bucket) equi-join —
    never a cartesian pair expansion over the corpus."""
    from etl_mini_dw_spark.functions import cluster

    plan = _plan(cluster.semdedup_prune(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only BroadcastNestedLoop allowed anywhere is a 1-row scalar
    # hoist; the pair join itself must be hash-keyed
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan


def test_bm25_qterms_broadcast_no_sort_merge(spark, sf_dir):
    """BM25's candidate join must broadcast the (queries ⋈ df) side into
    the postings stream — candidates ∝ Σ df over query terms; a
    SortMergeJoin here would shuffle the whole postings frame per query
    set at cluster scale."""
    from etl_mini_dw_spark.functions import retrieval

    # assert on the pre-checkpoint builder: bm25_topk is stage-memoized
    # since r09, so the public frame explains as a LogicalRDD (same
    # pre-checkpoint-frame rule as the lorenz window guard)
    plan = _plan(retrieval._bm25_topk_build(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_trigram_pattern_side_broadcast(spark, sf_dir):
    """The pattern-trigram side (a handful of literals) must broadcast
    into the posting join; the posting build is the only corpus pass."""
    from etl_mini_dw_spark.functions import retrieval

    plan = _plan(retrieval.trigram_search(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_hll_register_shuffle_is_partial_aggregable(spark, sf_dir):
    """The register build must be a two-phase (partial+final) max
    aggregate — the property that lets register tables merge shard-wise
    at 100 TB — and the 256-bucket spine join must broadcast."""
    from etl_mini_dw_spark.plans import sketches

    plan = _plan(sketches.hll_register_rollup(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_spearman_small_maps_broadcast_one_corpus_join(spark, sf_dir, monkeypatch):
    """Three ≤50-row midrank maps broadcast; only the near-unique
    l_extendedprice map joins by shuffle; no cartesian anywhere; the
    midrank windows are partitioned by (var, bucket), none global."""
    from etl_mini_dw_spark.plans import stats

    plan = _built_plans(monkeypatch, lambda: stats.spearman_rank_matrix(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "CartesianProduct" not in plan
    assert _unpartitioned_windows(plan) == [], plan[:3000]
    assert re.search(r"windowspecdefinition\(var#\d+, hb#", plan), plan[:3000]


def test_penny_allocation_windows_are_order_keyed(spark, sf_dir):
    """Per-order windows must partition by l_orderkey (bounded
    partitions), and candidate generation must never go cartesian."""
    from etl_mini_dw_spark.plans import allocation

    plan = _plan(allocation.penny_allocation_audit(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # formatted explain spells the partition spec inside
    # windowspecdefinition(<first partition key>#id, ...)
    assert re.search(r"windowspecdefinition\(l_orderkey#\d+", plan), plan[:3000]


def test_conformal_model_join_is_broadcast(spark, sf_dir):
    """The |quantity|-row predictor joins the corpus as a broadcast;
    residual histograms aggregate in two phases (map-side partials)."""
    from etl_mini_dw_spark.plans import conformal

    plan = _plan(conformal.conformal_coverage(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_hdr_sketch_aggregates_two_phase(spark, sf_dir):
    """The (bucket, count) histogram must reduce map-side before the
    shuffle — the sketch's whole reason to exist."""
    from etl_mini_dw_spark.plans import sketches

    plan = _plan(sketches.hdr_quantile_sketch(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan


def test_km_survival_no_cartesian_and_partitioned_windows(spark, sf_dir):
    from etl_mini_dw_spark.plans import survival

    plan = _plan(survival.survival_km_shipping(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # per-priority windows, never a global single partition
    assert "windowspecdefinition(priority" in plan, plan[:3000]


def test_theil_sen_pair_join_is_broadcast_no_cartesian(spark, sf_dir, monkeypatch):
    """Pair generation must stay a broadcast equi-join on the slice key
    (the daily frame is tiny); the median selection must not reintroduce
    a pair-sized global sort — its one window is partitioned by (slice,
    bucket). The pairs are read while the frame is built."""
    from etl_mini_dw_spark.plans import stats

    plan = _built_plans(monkeypatch, lambda: stats.theil_sen_trend(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert _unpartitioned_windows(plan) == [], plan[:3000]
    assert re.search(r"windowspecdefinition\(slice#\d+, hb#", plan), plan[:3000]


def test_knn_graph_no_cartesian_and_partial_aggregates(spark, sf_dir):
    from etl_mini_dw_spark.functions import simsearch

    plan = _plan(simsearch.knn_graph_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan.replace(
        "CartesianProduct", "X", 1
    ) or plan.count("CartesianProduct") <= 1  # 1-row scalar hoist only
    assert plan.count("HashAggregate") >= 4, plan[:2000]


def test_drilldown_levels_join_by_broadcast(spark, sf_dir):
    """Every bucket-restriction join in the drill-down walk must
    broadcast the (tiny) mismatched-bucket lists."""
    from etl_mini_dw_spark.plans import diff

    plan = _plan(diff.fact_diff_drilldown(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]


def test_counterfactual_single_corpus_pass(spark, sf_dir):
    """One corpus-side shuffle (the monthly rollup); all series joins
    and scalar hoists ride broadcasts."""
    from etl_mini_dw_spark.plans import experiment

    plan = _plan(experiment.counterfactual_lift(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_boundary_tiles_no_raw_row_ntile(spark, sf_dir, monkeypatch):
    """PSI / gains / quality-tile boundary deciles must come from the
    histogram selection (quantiles.ntile_bounds) — never an ntile over a
    single-partition Window of the raw rows, neither in the frame nor in
    the passes that read the bounds while it is built; the selection's
    own windows are partitioned by bucket."""
    from etl_mini_dw_spark.functions import curation
    from etl_mini_dw_spark.plans import stats

    for build in (
        lambda: stats.psi_drift_report(spark, sf_dir),
        lambda: stats.gains_lift_chart(spark, sf_dir),
        lambda: curation.quality_signal_agreement(spark, sf_dir),
    ):
        plan = _built_plans(monkeypatch, build)
        assert "ntile" not in plan, plan[:3000]
        assert re.search(r"windowspecdefinition\(hb#", plan), plan[:3000]


def test_rfm_no_global_metric_windows(spark, sf_dir, monkeypatch):
    """The RFM quintile boundaries must come from ceil_rank_bounds
    (histogram/dictionary windows), never a global row_number sort of
    the customer aggregate — no windowspecdefinition may order by a raw
    RFM metric column, in the frame or in the passes that read the
    bounds while it is built (there the metric is named ``val``), and
    those passes window by the coarse bucket only."""
    from etl_mini_dw_spark.plans import behavior

    plan = _built_plans(monkeypatch, lambda: behavior.customer_rfm_segments(spark, sf_dir))
    assert "ntile(" not in plan, plan[:3000]  # output cols are *_quintile
    assert not re.search(
        r"windowspecdefinition\((recency_days|frequency|monetary)#", plan
    ), plan[:3000]
    assert _unpartitioned_windows(plan) == [], plan[:3000]
    assert re.search(r"windowspecdefinition\(hb#", plan), plan[:3000]


def test_abc_xyz_no_global_cumulative_window(spark, sf_dir, monkeypatch):
    """The ABC cumulative share must decompose as S(>r) + tie_rank·r:
    S(>r) from a window partitioned by the coarse bucket (hb), tie_rank
    from one partitioned by r — no window without a partition, and none
    starting at r DESC over the per-part revenue frame."""
    from etl_mini_dw_spark.plans import classic

    plan = _built_plans(monkeypatch, lambda: classic.abc_xyz_matrix(spark, sf_dir))
    assert not re.search(r"windowspecdefinition\(r#\d+L? DESC", plan), plan[:3000]
    assert _unpartitioned_windows(plan) == [], plan[:3000]
    assert re.search(r"windowspecdefinition\(hb#", plan), plan[:3000]


def test_quality_deciles_windows_bucket_partitioned(spark, sf_dir, monkeypatch):
    """Per-row decile labels must be closed-form from histogram ranks:
    no ntile, and every row-level window partitioned by (lang, bucket)
    or by the (lang, score) tie group — never a per-language global
    sort."""
    from etl_mini_dw_spark.functions import curation

    plan = _built_plans(monkeypatch, lambda: curation.quality_deciles(spark, sf_dir))
    assert "ntile" not in plan, plan[:3000]
    heads = re.findall(r"windowspecdefinition\(([^,]+), ([^,]+)", plan)
    assert heads and all(
        a.startswith("lang#") and b.startswith(("hb#", "val#")) for a, b in heads
    ), (heads, plan[:3000])


def test_entity_blocking_is_banded(spark, sf_dir):
    """r8 SCALE_PROOF fix: ER candidates must come from the banded
    (brand, type, bucket±1) self-joins — the join keys must include the
    band bucket `bb`, never a bare (brand, type) equi-join (fixed
    cardinality ⇒ quadratic blocks at scale)."""
    from etl_mini_dw_spark.plans import entity

    plan = _plan(entity.part_entity_matches(spark, sf_dir))
    # both band passes join on [p_brand, p_type, bb]
    assert len(re.findall(r"p_brand#\d+[^\n]*p_type#\d+[^\n]*bb#\d+", plan)) >= 2, (
        plan[:3000]
    )


def test_ann_brute_force_windows_are_shard_pruned(spark, sf_dir):
    """r7 ADVICE: every brute-force per-query ranking must pass through
    the shard-local tournament prune (shard_topk_prune) before its
    per-query window — the plan must contain a window partitioned by
    (query key, _shard), so no task ever holds a corpus-sized partition."""
    from etl_mini_dw_spark.functions import pq, retrieval, simsearch

    for fn, key in (
        # pre-checkpoint builders: the top-k frames are stage-memoized
        # since r09 (recall report + own registry lines share them)
        (simsearch._ann_bruteforce_topk_build, "query_id"),
        (simsearch._ann_int8_topk_build, "query_id"),
        (simsearch._ann_hamming_topk_build, "query_id"),
        (pq._ann_pq_topk_build, "query_id"),
        (pq.ann_pq_refined_topk, "query_id"),
        # the MMR pool, before the driver collects it for the rounds
        (simsearch._mmr_pool, "query_id"),
        # the two RRF arms, pinned pre-checkpoint (both are stage-
        # memoized since r09; the fusion consumes their LogicalRDDs)
        (retrieval._bm25_topk_build, "q_doc"),
        (retrieval._sem_arm_topk_build, "q_doc"),
    ):
        plan = _plan(fn(spark, sf_dir))
        assert re.search(
            rf"windowspecdefinition\({key}#\d+L?, _shard#", plan
        ), (fn.__name__, plan[:2000])


def test_rrf_fusion_no_sort_merge(spark, sf_dir):
    """RRF fusion joins two top-k-bounded frames; the BM25 candidate
    join and the signature scan must never sort-merge the corpus."""
    from etl_mini_dw_spark.functions import retrieval

    # fusion itself must stay sort-merge-free; the corpus-pass pins live
    # on the pre-checkpoint arm builders (memoized since r09)
    plan = _plan(retrieval.rrf_hybrid_topk(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:3000]
    for build in (retrieval._bm25_topk_build, retrieval._sem_arm_topk_build):
        arm = _plan(build(spark, sf_dir))
        assert "SortMergeJoin" not in arm, arm[:3000]
        assert arm.count("BroadcastHashJoin") >= 2, arm[:3000]


def test_weighted_median_windows_group_partitioned(spark, sf_dir, monkeypatch):
    """The weighted selection must window by (stratum, bucket) over the
    target buckets' value dictionary, never a global or per-group row
    sort. The selection runs while the frame is built."""
    from etl_mini_dw_spark.plans import stats

    plan = _built_plans(monkeypatch, lambda: stats.weighted_median_price(spark, sf_dir))
    assert "ntile" not in plan
    assert _unpartitioned_windows(plan) == [], plan[:3000]
    assert re.search(r"windowspecdefinition\(m#\d+, hb#", plan), plan[:3000]


def test_price_volume_mix_pushdown_and_broadcast(spark, sf_dir):
    """The two-year predicate must reach the orders scan, and the part
    join must broadcast; one fact-side shuffle total."""
    from etl_mini_dw_spark.plans import classic

    plan = _plan(classic.price_volume_mix(spark, sf_dir))
    pushed = [
        seg.splitlines()[0] for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), pushed
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lorenz_no_global_customer_window(spark, sf_dir):
    """r8 continuation: the Lorenz decile rank must come from the coarse
    value-histogram (cumulative-before + in-bucket row_number), never a
    single global window ordering the raw per-customer frame — no
    windowspecdefinition may order by the raw revenue column y without a
    bucket partition."""
    import re as _re

    from etl_mini_dw_spark.plans import classic

    # assert on the pre-checkpoint frame: the public function's
    # localCheckpoint truncates explain() at a LogicalRDD, which made the
    # previous version of this assertion vacuous (r8 ADVICE).
    plan = _plan(classic._lorenz_scored(spark, sf_dir))
    assert "ntile(" not in plan, plan[:3000]
    # a windowspecdefinition whose FIRST argument is y is a global
    # (unpartitioned) window ordering the raw per-customer frame — a
    # bucket-partitioned window prints as windowspecdefinition(hb#, val# ...)
    assert not _re.search(r"windowspecdefinition\(y#\d+", plan), plan[:3000]
    assert _re.search(r"windowspecdefinition\(hb#\d+", plan), plan[:3000]
    # the one unpartitioned window left runs over the 10-row decile rollup
    assert all(
        h.startswith("decile#") for h in _unpartitioned_windows(plan)
    ), plan[:3000]


def test_zipf_head_window_is_shard_pruned(spark, sf_dir):
    """The Zipf head selection must run the shard-prune stage before the
    final bounded ranking window (two windowspecdefinitions: the _shard
    partitioned stage-1 and the survivors-only stage-2)."""
    from etl_mini_dw_spark.functions import text as text_mod

    plan = _plan(text_mod.zipf_fit_report(spark, sf_dir))
    assert "_shard" in plan, plan[:3000]


# ---------------------------------------------------------------------------
# r8-discovered defect classes, pinned (VERDICT r8 task #1).
#
# Class 1 — corpus-array broadcast: an explicit F.broadcast() around a
# per-doc frame is a driver-side collect, measured fatal at 1.5M docs
# (spark.driver.maxResultSize). The fix replaced every such hint with a
# shuffle hash join on the doc key. These tests walk the ANALYZED
# logical plan (not the physical one: at toy scale Catalyst chooses
# size-based broadcasts that legitimately flip to shuffle joins at
# scale) and assert no broadcast ResolvedHint outputs a doc-keyed or
# per-doc-array column.
#
# Class 2 — AQE byte-coalescing single-task fanout: KB-scale frames
# feeding CPU-heavy fan-outs (xB md5 explodes, 16x64-term projections,
# Levenshtein block pairs) must keep their explicit
# repartition/fanout_scan Exchange (REPARTITION_BY_NUM disables AQE
# coalescing). Removing it re-creates the measured 10-100x single-task
# stalls (CLAUDE.md).


_PER_DOC_BROADCAST_FORBIDDEN = {
    # doc-keyed frames are corpus-sized whatever the payload
    "doc_id",
    "doc_a",
    "doc_b",
    # per-doc array payloads (shingles, minhash sigs, hashed sets)
    "sorted_toks",
    "sh_arr",
    "mh_arr",
    "hs",
    "arr_a",
    "arr_b",
}


def _broadcast_hint_outputs(df):
    """Output column-name lists of every broadcast ResolvedHint in the
    analyzed logical plan (the user-forced hints; size-chosen physical
    broadcasts don't appear here)."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "ResolvedHint":
            if "broadcast" in node.hints().toString().lower():
                cols = [
                    node.output().apply(i).name()
                    for i in range(node.output().size())
                ]
                out.append(cols)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


def test_no_per_doc_array_broadcast_hints(spark, sf_dir):
    """The four r8-fixed queries must never regain a broadcast hint on a
    doc-keyed frame (dedup.py's never-broadcast-per-doc-arrays rule)."""
    from etl_mini_dw_spark.functions import dedup

    for fn in (
        dedup.prefix_filter_neardups,
        dedup.prefix_filter_capped_neardups,
        dedup.neardup_source_matrix,
        dedup.minhash_estimate_quality,
    ):
        for cols in _broadcast_hint_outputs(fn(spark, sf_dir)):
            bad = _PER_DOC_BROADCAST_FORBIDDEN & set(cols)
            assert not bad, f"{fn.__name__}: broadcast hint outputs {cols}"


def test_cpu_fanout_exchanges_survive(spark, sf_dir):
    """The explicit fanout Exchange (REPARTITION_BY_NUM, AQE-coalesce-
    proof) must survive optimization in the four r8-fixed CPU-fanout
    plans. The two checkpointed ones are asserted on their pre-checkpoint
    stage frames (explain truncates at LogicalRDD). fanout_scan's branch
    fires at fixture scale (single-split scans < defaultParallelism), so
    absence here means the node was dropped, not skipped."""
    from etl_mini_dw_spark.functions import dedup, simsearch
    from etl_mini_dw_spark.plans import experiment, stats

    for name, df in (
        ("bootstrap_ci_revenue", stats.bootstrap_ci_revenue(spark, sf_dir)),
        ("perm_units", experiment._perm_units(spark, sf_dir)),
        ("jl_staged", simsearch._jl_staged(spark, sf_dir)),
    ):
        plan = _plan(df)
        assert "RoundRobinPartitioning(" in plan, (name, plan[:2000])
        assert "REPARTITION_BY_NUM" in plan, (name, plan[:2000])
    # edit-distance: hash fanout of the probe side + broadcast tiny build
    plan = _plan(dedup.edit_distance_neardups(spark, sf_dir))
    assert re.search(r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


# Class 3 (r9) — single-buffer in-bucket pair expansion on an UNCAPPED
# bucket domain: flatten(transform(ds, ...)) over a collect_list bucket
# materializes the bucket's full m(m-1)/2 pair array in ONE task buffer.
# On a saturated signature space bucket sizes grow with the corpus, and
# at 4.5M fixture docs concurrent mega-bucket buffers exhausted the 48g
# heap (full-GC heartbeat storm, JVM death — SCALE_PROOF.md r9). Uncapped
# candidate generators must therefore STREAM via a band-key self-join
# (O(m) spill-able key groups); the HOF expansion is only legal where a
# bucket cap bounds the buffer (<= cap*(cap-1)/2 structs).


def test_uncapped_pair_expansion_streams(spark, sf_dir):
    from etl_mini_dw_spark.functions import dedup

    # uncapped arms: no single-buffer HOF pair expansion anywhere
    for name, df in (
        ("lsh_candidate_pairs", dedup.lsh_candidate_pairs(spark, sf_dir)),
        ("simhash64_neardups", dedup.simhash64_neardups(spark, sf_dir)),
    ):
        plan = _plan(df)
        assert "flatten(transform(" not in plan, (name, plan[:2000])
        # the streaming formulation joins on the band key; at fixture
        # scale Catalyst may pick broadcast or sort-merge — either is a
        # join, not a Generate over bucket arrays
        assert "Join" in plan, (name, plan[:2000])

    # detector sanity (guards against a vacuous check if explain output
    # ever changes shape): the CAPPED arm keeps the bounded HOF expansion
    capped = dedup.lsh_candidate_pairs(
        spark, sf_dir, bucket_cap=dedup.LSH_BUCKET_CAP
    )
    assert "flatten(transform(" in _plan(capped)


def test_matryoshka_windows_are_shard_pruned(spark, sf_dir):
    """Both matryoshka rankings (full-dim and truncated) score the whole
    corpus per query, so each must pass the shard tournament before its
    per-query window — two _shard-partitioned windowspecdefinitions."""
    from etl_mini_dw_spark.functions import simsearch

    plan = _plan(simsearch.matryoshka_overlap(spark, sf_dir))
    hits = re.findall(r"windowspecdefinition\(query_id#\d+L?, _shard#", plan)
    assert len(hits) >= 2, plan[:3000]


def test_hill_head_window_is_shard_pruned(spark, sf_dir):
    """The Hill top-(k+1) selection must shard-prune before the final
    bounded ranking window (the zipf-head pattern: the only unpartitioned
    window runs over <= 64*(k+1) survivor rows)."""
    from etl_mini_dw_spark.plans import stats as stats_mod

    plan = _plan(stats_mod.hill_tail_index(spark, sf_dir))
    assert "_shard" in plan, plan[:3000]


def test_simhash64_probes_multiblock_keys(spark, sf_dir):
    """r9: the simhash64 candidate join must key on the C(6,3) multiprobe
    block triples (combo, v1, v2, v3) — NOT the saturated 4x16-bit band
    domain (262k cells total; measured candidate volume ~n^2 and a heap
    OOM at 4.5M docs). Reverting to (band_idx, band_val) keys fails."""
    from etl_mini_dw_spark.functions import dedup

    plan = _plan(dedup.simhash64_neardups(spark, sf_dir))
    assert "combo" in plan and "v1" in plan and "v3" in plan, plan[:3000]
    assert "band_val" not in plan, plan[:3000]


def test_pagerank_is_one_lazy_plan_sharing_its_subplans(spark, sf_dir):
    """PageRank's three rounds are one plan: over a warm edge memo,
    building the frame runs no job, and the executed plan reuses the
    edges⋈degree and node exchanges across the rounds instead of
    checkpointing them."""
    from etl_mini_dw_spark.plans import graph

    graph.cooccur_edges_memo(spark, sf_dir).count()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = graph.pagerank_parts(spark, sf_dir)
    assert dag.nextJobId() == before
    df.collect()
    assert "ReusedExchange" in _plan(df)
