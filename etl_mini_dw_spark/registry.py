"""Central query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (and every extension) gets:
- a ``QUERIES[name]`` callable ``(spark, sf_dir) -> DataFrame``
- an ``ORACLE_SQL[name]`` DuckDB-runnable equivalent (omitted only for
  genuinely non-SQL-expressible ops → driver does a rows-only check).

Column names/types are aligned on both sides (the driver sorts columns by
name and value-hashes), so every computed column is explicitly aliased and
cast identically in the DataFrame code and the SQL text.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.functions import dimdate
from etl_mini_dw_spark.operators import fact, scd2
from etl_mini_dw_spark.oracle import fixture_sql, warehouse_sql
from etl_mini_dw_spark.plans import analytics
from etl_mini_dw_spark.sources import staging

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLE_SQL[name] = sql


# The SCD2 open-row sentinel (9999-12-31) overflows Arrow ns timestamps in
# pandas conversion on BOTH engines, so oracle-compared outputs carry
# validity columns as ISO strings; the library keeps real timestamps.
def _ts_as_str(df: DataFrame, *cols: str) -> DataFrame:
    from pyspark.sql import functions as F

    for c in cols:
        if c in df.columns:
            df = df.withColumn(c, F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
    return df


def _ts_as_str_sql(sql: str, *cols: str) -> str:
    repl = ", ".join(f"strftime({c}, '%Y-%m-%d %H:%M:%S') AS {c}" for c in cols)
    return f"SELECT * REPLACE ({repl}) FROM ({sql})"


_register(
    "flagship_revenue_by_month_segment",
    analytics.flagship_revenue_by_month_segment,
    analytics.FLAGSHIP_ORACLE_SQL,
)
_register("q1_pricing_summary", analytics.q1_pricing_summary, analytics.Q1_ORACLE_SQL)

# --- M1: DimDate (G1/P4/P8/X1) -------------------------------------------
# raw DATE columns convert to date-objects on Spark but datetime64 on
# DuckDB→pandas; the compared output keeps the ISO string `full_date`
# instead of `date_value` (library callers get the real DATE column).
_register(
    "dim_date_build",
    lambda spark, sf_dir: dimdate.build_dim_date(spark).drop("date_value"),
    f"SELECT * EXCLUDE (date_value) FROM ({dimdate.dim_date_oracle_sql()})",
)

# --- M2: staging delta extracts (S2/S3, F1/F3, P1/P6/P7) ------------------
for _dim_key, _dim in spec.DIMS.items():
    _register(
        f"delta_extract_{_dim_key}",
        (
            lambda d: lambda spark, sf_dir: _ts_as_str(
                staging.delta_extract(spark, sf_dir, d, spec.LOW), "valid_from", "valid_to"
            )
        )(_dim),
        _ts_as_str_sql(fixture_sql.delta_extract_sql(_dim, spec.LOW), "valid_from", "valid_to"),
    )
    _register(
        f"delta_extract_{_dim_key}_incremental",
        (
            lambda d: lambda spark, sf_dir: _ts_as_str(
                staging.delta_extract(spark, sf_dir, d, spec.MID), "valid_from", "valid_to"
            )
        )(_dim),
        _ts_as_str_sql(fixture_sql.delta_extract_sql(_dim, spec.MID), "valid_from", "valid_to"),
    )
    _register(
        f"current_snapshot_{_dim_key}",
        (lambda d: lambda spark, sf_dir: staging.current_snapshot(spark, sf_dir, d))(_dim),
        fixture_sql.current_snapshot_sql(_dim),
    )

# --- M4: SCD2 dimension builds (X2–X4, J5/J6/J8, F5, C1) ------------------
for _dim_key, _dim in spec.DIMS.items():
    _register(
        f"scd2_{_dim_key}_initial",
        (
            lambda d: lambda spark, sf_dir: _ts_as_str(
                scd2.dim_initial(spark, sf_dir, d), "active_from", "active_to"
            )
        )(_dim),
        _ts_as_str_sql(warehouse_sql.dim_initial_sql(_dim), "active_from", "active_to"),
    )
    _register(
        f"scd2_{_dim_key}_two_phase",
        (
            lambda d: lambda spark, sf_dir: _ts_as_str(
                scd2.dim_two_phase(spark, sf_dir, d, spec.MID, spec.NOW_FIXED),
                "active_from",
                "active_to",
            )
        )(_dim),
        _ts_as_str_sql(
            warehouse_sql.dim_two_phase_sql(_dim, spec.MID, spec.NOW_FIXED),
            "active_from",
            "active_to",
        ),
    )


# --- M5: FactSales (X5, J1/J3/J5, P2/P3/P5/P6/P12, F2/F6) -----------------
def _measures_as_double(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    for m in fact.MEASURES:
        df = df.withColumn(m, F.col(m).cast("double"))
    return df


_register(
    "fact_sales_initial",
    lambda spark, sf_dir: _measures_as_double(fact.fact_initial(spark, sf_dir)),
    warehouse_sql.fact_initial_sql(),
)
_register(
    "fact_sales_two_phase",
    lambda spark, sf_dir: _measures_as_double(fact.fact_two_phase(spark, sf_dir)),
    warehouse_sql.fact_two_phase_sql(),
)


# --- M6: validation suite + marts (Stage 4/5; A2/A3, J5/J7, O1/O2, C2–C5) --
# the validation/mart consumers read the memoized two-phase dim state
# (billed to bench's `memo:dim_states`); the `scd2_{dim}_two_phase` lines
# keep calling `scd2.dim_two_phase` so they still measure the real build
from etl_mini_dw_spark.api import dim_state
from etl_mini_dw_spark.oracle import validation_sql
from etl_mini_dw_spark.plans import marts, validation

for _dim_key, _dim in spec.DIMS.items():
    _register(
        f"validate_dup_current_{_dim_key}",
        (
            lambda k, d: lambda spark, sf_dir: validation.duplicate_current_per_nk(
                dim_state(spark, sf_dir, k), d.nk
            )
        )(_dim_key, _dim),
        validation_sql.dup_current_sql(
            warehouse_sql.dim_two_phase_sql(_dim, spec.MID, spec.NOW_FIXED), _dim.nk
        ),
    )
    _register(
        f"mart_{_dim_key}_current",
        (
            lambda k, d: lambda spark, sf_dir: marts.mart_dim_current(
                dim_state(spark, sf_dir, k), d
            )
        )(_dim_key, _dim),
        validation_sql.mart_dim_sql(
            warehouse_sql.dim_two_phase_sql(_dim, spec.MID, spec.NOW_FIXED), _dim
        ),
    )

# Full per-dim Stage-5 battery (`code/SQL_1…sql:1658–1737`): dup-versions,
# overlapping windows, null validity for EVERY dim — the generic functions
# applied per registration.
for _dim_key, _dim in spec.DIMS.items():
    _two_phase_sql = warehouse_sql.dim_two_phase_sql(_dim, spec.MID, spec.NOW_FIXED)
    _register(
        f"validate_dup_versions_{_dim_key}",
        (
            lambda k, d: lambda spark, sf_dir: validation.duplicate_version_windows(
                dim_state(spark, sf_dir, k), d.nk
            )
        )(_dim_key, _dim),
        validation_sql.dup_versions_sql(_two_phase_sql, _dim.nk),
    )
    _register(
        f"validate_overlaps_{_dim_key}",
        (
            lambda k, d: lambda spark, sf_dir: validation.overlapping_windows(
                dim_state(spark, sf_dir, k), d.nk, d.sk
            )
        )(_dim_key, _dim),
        validation_sql.overlaps_sql(_two_phase_sql, _dim.nk, _dim.sk),
    )
    _register(
        f"validate_null_validity_{_dim_key}",
        (
            lambda k, d: lambda spark, sf_dir: validation.null_validity(
                dim_state(spark, sf_dir, k), d.nk
            )
        )(_dim_key, _dim),
        validation_sql.null_validity_sql(_two_phase_sql, _dim.nk),
    )
_register(
    "validate_fact_nk_dups",
    lambda spark, sf_dir: validation.duplicate_fact_nk(fact.fact_initial_memo(spark, sf_dir)),
    validation_sql.fact_nk_dups_sql(warehouse_sql.fact_initial_sql()),
)
# Soft-FK orphan checks for ALL dims + DimDate (`code/SQL_1…sql:1745–1783`)
for _dim_key, _dim in spec.DIMS.items():
    _fk = {
        "customer": "sales_customerid",
        "salesperson": "sales_salespersonid",
        "product": "sales_productid",
    }[_dim_key]
    _register(
        f"validate_fact_orphans_{_dim_key}",
        (
            lambda d, fk: lambda spark, sf_dir: validation.fact_orphans(
                fact.fact_initial_memo(spark, sf_dir),
                scd2.dim_initial(spark, sf_dir, d),
                fk,
                d.sk,
            )
        )(_dim, _fk),
        validation_sql.fact_orphans_sql(
            warehouse_sql.fact_initial_sql(),
            warehouse_sql.dim_initial_sql(_dim),
            _fk,
            _dim.sk,
        ),
    )
# orphan check runs against the WAREHOUSE's DimDate horizon (the one the
# fact load inner-joins), not the build default — 0 rows by construction
_register(
    "validate_fact_orphans_date",
    lambda spark, sf_dir: validation.fact_orphans(
        fact.fact_initial_memo(spark, sf_dir),
        dimdate.build_dim_date(spark, spec.DATE_START, spec.DATE_END),
        "sales_order_datekey",
        "date_key",
    ),
    validation_sql.fact_orphans_sql(
        warehouse_sql.fact_initial_sql(),
        dimdate.dim_date_oracle_sql(spec.DATE_START, spec.DATE_END),
        "sales_order_datekey",
        "date_key",
    ),
)
# Stage 5.2 DimDate checks (`code/SQL_1…sql:1640–1656`)
_register(
    "validate_dimdate_dup_dates",
    lambda spark, sf_dir: validation.duplicate_dates(dimdate.build_dim_date(spark)),
    validation_sql.dimdate_dup_dates_sql(dimdate.dim_date_oracle_sql()),
)
_register(
    "validate_distinct_day_names",
    lambda spark, sf_dir: validation.distinct_day_names(dimdate.build_dim_date(spark)),
    f"SELECT DISTINCT day_of_week_name FROM ({dimdate.dim_date_oracle_sql()})",
)
_register(
    "validate_distinct_month_names",
    lambda spark, sf_dir: validation.distinct_month_names(dimdate.build_dim_date(spark)),
    f"SELECT DISTINCT month_name FROM ({dimdate.dim_date_oracle_sql()})",
)
# Stage 5.1 structure check (VALUES manifest vs resolved plan schemas)
from etl_mini_dw_spark.plans import structure

_register(
    "validate_expected_tables",
    structure.expected_tables_missing,
    structure.expected_tables_sql(),
)
# Stage 4 FactSales passthrough mart (`code/SQL_1…sql:1597–1612`)
_register(
    "mart_fact",
    lambda spark, sf_dir: _ts_as_str(
        _measures_as_double(marts.mart_fact(fact.fact_initial_memo(spark, sf_dir))),
        "sales_lasteditedwhen",
    ),
    _ts_as_str_sql(
        validation_sql.mart_fact_sql(warehouse_sql.fact_initial_sql()),
        "sales_lasteditedwhen",
    ),
)
_register(
    "current_member_counts_customer",
    lambda spark, sf_dir: validation.current_member_counts(
        dim_state(spark, sf_dir, "customer")
    ),
    validation_sql.current_counts_sql(
        warehouse_sql.dim_two_phase_sql(spec.CUSTOMER, spec.MID, spec.NOW_FIXED)
    ),
)


# --- M8: large-scale pipeline extensions ----------------------------------
from etl_mini_dw_spark.functions import dedup, multimodal, simsearch, text
from etl_mini_dw_spark.streaming import events as ev

# text analysis (M8b)
_register("ext_text_stats", text.text_stats, text.TEXT_STATS_SQL)
_register("ext_lang_id", text.lang_id, text.lang_id_sql())
_register("ext_token_count_by_source", text.token_count_by_source, text.TOKEN_COUNT_SQL)
_register("ext_doc_fingerprint", text.doc_fingerprint, text.DOC_FINGERPRINT_SQL)

# dedup (M8c)
_register("ext_dedup_exact", dedup.exact_dup_groups, dedup.EXACT_DUP_SQL)
_register("ext_minhash_signatures", dedup.minhash_signatures, dedup.MINHASH_SQL)
_register("ext_minhash_lsh_pairs", dedup.lsh_candidate_pairs, dedup.LSH_PAIRS_SQL)
_register("ext_ngram_jaccard_neardups", dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_SQL)
_register("ext_simhash_sketches", dedup.simhash16, dedup.SIMHASH_SQL)
_register("ext_simhash_dup_groups", dedup.simhash_dup_groups, dedup.SIMHASH_GROUPS_SQL)
_register("ext_simhash64_neardups", dedup.simhash64_neardups, dedup.simhash64_neardups_sql())

# similarity search (M8d)
_register("ext_ann_bruteforce_topk", simsearch.ann_bruteforce_topk, simsearch.ANN_BRUTEFORCE_SQL)
_register("ext_ann_lsh_bucket_histogram", simsearch.lsh_bucket_histogram, simsearch.LSH_HISTOGRAM_SQL)
_register("ext_embedding_neardup_pairs", simsearch.lsh_near_dup_pairs, simsearch.LSH_NEAR_DUP_SQL)

# events: batch windows + real structured streaming (M8a)
_register("ext_events_tumbling_hourly", ev.tumbling_hourly, ev.TUMBLING_SQL)
_register("ext_events_sliding_hourly", ev.sliding_hourly, ev.SLIDING_SQL)
_register("ext_events_sessionization", ev.sessionization, ev.SESSIONIZATION_SQL)
_register("ext_events_topk_users", ev.topk_users_by_value, ev.TOPK_USERS_SQL)
_register("ext_events_streaming_tumbling", ev.streaming_tumbling_hourly, ev.TUMBLING_SQL)

# multimodal plumbing (binary columns + metadata + mapInPandas features)
_register("ext_multimodal_metadata", multimodal.payload_metadata, multimodal.PAYLOAD_METADATA_SQL)
# mapInPandas codec paths: not SQL-expressible → rows-only checks
# per-doc value-checked projection of the real mapInPandas decode (was
# rows-only through r6); byte_len/mean_pixel stay pytest-pinned on the
# full extract_features output (multimodal.feature_projection docstring)
_register(
    "ext_multimodal_features",
    multimodal.feature_projection,
    multimodal.FEATURES_PROJECTION_SQL,
)
# per-row oracled since r7 (was rows-only; the frame-digest aggregate
# remains as the cross-check) — the mapInPandas fan-out is unchanged
_register(
    "ext_multimodal_frame_sample",
    multimodal.sample_frames,
    multimodal.FRAME_SAMPLE_SQL,
)
# ... but the codec itself IS value-checkable as far as SQL can recompute
# the rendered pixels: roundtrip identity + geometry + scanline-row-0 sums
_register(
    "ext_multimodal_codec_digest", multimodal.codec_digest, multimodal.CODEC_DIGEST_SQL
)
# frame-sampling digest: the fan-out geometry AND the per-frame rolling
# hashes replay in SQL (ASCII corpus ⇒ payload byte == codepoint), so the
# frame_sample pathway gets a fully value-checked sibling too (r5)
_register(
    "ext_multimodal_frame_digest",
    multimodal.frame_sample_digest,
    multimodal.FRAME_DIGEST_SQL,
)

_register("revenue_by_region", analytics.revenue_by_region, analytics.REVENUE_BY_REGION_SQL)
_register("top_unshipped_orders", analytics.top_unshipped_orders, analytics.TOP_UNSHIPPED_SQL)

# --- OLAP completeness beyond the reference (pivot/rollup/quantiles/session) --
from etl_mini_dw_spark.plans import olap

_register("ext_events_value_quantiles", olap.events_value_quantiles, olap.EVENTS_QUANTILES_SQL)
_register("ext_events_pivot_type_by_day", olap.events_pivot_type_by_day, olap.EVENTS_PIVOT_SQL)
_register("ext_sales_rollup", olap.sales_rollup, olap.SALES_ROLLUP_SQL)
_register("ext_events_session_window", ev.session_window_native, ev.SESSION_WINDOW_SQL)

# --- Stage X reconciliation (A4) + stateful streaming -----------------------
from etl_mini_dw_spark.streaming import stateful


def _reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    src = fact.src_sales(spark, sf_dir, spec.LOW).agg(
        F.sum("sales_value").cast("decimal(38,4)").cast("double").alias("src_total_value"),
        F.count(F.lit(1)).alias("src_rows"),
    )
    fct = fact.fact_initial_memo(spark, sf_dir).agg(
        F.sum("sales_value").cast("decimal(38,4)").cast("double").alias("fact_total_value"),
        F.count(F.lit(1)).alias("fact_rows"),
    )
    return src.crossJoin(fct)


_register("reconcile_fact_vs_source", _reconcile, warehouse_sql.reconcile_sql())

# Merkle-bucket reconciliation: full build vs incremental build as 64
# order-invariant bucket digests (the 100 TB shape of exceptAll-equality)
from etl_mini_dw_spark.plans import diff as _diff

_register("ext_fact_diff_digest", _diff.fact_diff_digest, _diff.fact_diff_digest_sql())
_register(
    "ext_streaming_stateful_user_totals",
    stateful.streaming_user_totals,
    stateful.STREAMING_USER_TOTALS_SQL,
)

_register("ext_ivf_multiprobe_topk", simsearch.ivf_multiprobe_topk, simsearch.IVF_MULTIPROBE_SQL)
_register("ext_corpus_quality_filter", olap.corpus_quality_filter, olap.CORPUS_QUALITY_SQL)

_register("ext_neardup_components", dedup.neardup_components, dedup.neardup_components_sql())

_register(
    "order_priority_with_returns",
    analytics.order_priority_with_returns,
    analytics.ORDER_PRIORITY_SQL,
)
_register(
    "distinct_suppliers_per_brand",
    analytics.distinct_suppliers_per_brand,
    analytics.DISTINCT_SUPPLIERS_SQL,
)
_register(
    "customer_order_distribution",
    analytics.customer_order_distribution,
    analytics.CUSTOMER_ORDER_DIST_SQL,
)

_register("ext_events_json_props", olap.events_json_props, olap.EVENTS_JSON_SQL)
_register("ext_segment_set_ops", olap.segment_set_ops, olap.SEGMENT_SET_OPS_SQL)
_register("ext_events_unpivot", olap.events_unpivot, olap.EVENTS_UNPIVOT_SQL)

# --- skew mitigation: salted two-phase aggregation --------------------------
from etl_mini_dw_spark.operators import skew

_register(
    "ext_salted_user_value_totals",
    skew.salted_user_value_totals,
    skew.SALTED_USER_TOTALS_SQL,
)

# --- generic temporal joins (as-of / banded range) --------------------------
from etl_mini_dw_spark.operators import asof

_register("ext_events_asof_order", asof.events_asof_latest_order, asof.EVENTS_ASOF_SQL)
_register(
    "ext_events_preceding_hour", asof.events_preceding_hour, asof.EVENTS_PRECEDING_HOUR_SQL
)

# --- deterministic sampling / split / decontamination / PII -----------------
from etl_mini_dw_spark.functions import sampling

_register("ext_stratified_sample", sampling.stratified_sample, sampling.STRATIFIED_SAMPLE_SQL)
_register("ext_train_test_split", sampling.train_test_split, sampling.TRAIN_TEST_SPLIT_SQL)
_register("ext_decontaminate", sampling.decontaminate, sampling.DECONTAMINATE_SQL)
_register("ext_pii_redaction", sampling.pii_redaction, sampling.PII_REDACTION_SQL)

# --- round 2 breadth: windows battery, full grouping lattice, trained IVF,
# --- embedding clustering, streaming dedup, bucketed co-located join --------
from etl_mini_dw_spark.functions import cluster
from etl_mini_dw_spark.plans import bucketing

_register(
    "ext_order_window_battery", olap.order_window_battery, olap.ORDER_WINDOW_BATTERY_SQL
)
_register("ext_orders_cube", olap.orders_cube, olap.ORDERS_CUBE_SQL)
_register(
    "ext_revenue_grouping_sets", olap.revenue_grouping_sets, olap.REVENUE_GROUPING_SETS_SQL
)
_register("ext_kmeans_ivf_assign", cluster._assign_memo, cluster.kmeans_assign_sql())
_register(
    "ext_embedding_cluster_components",
    simsearch.embedding_cluster_components,
    simsearch.embedding_cluster_components_sql(),
)
_register(
    "ext_streaming_dedup_users", ev.streaming_dedup_distinct_users, ev.STREAMING_DEDUP_SQL
)
_register(
    "ext_bucketed_revenue_by_priority",
    bucketing.bucketed_revenue_by_priority,
    bucketing.BUCKETED_REVENUE_SQL,
)

# --- round 2: five more classic OLAP shapes (Q2/Q10/Q11/Q14/Q18) ------------
_register(
    "min_price_supplier_per_part",
    analytics.min_price_supplier_per_part,
    analytics.MIN_PRICE_SUPPLIER_SQL,
)
_register(
    "top_returned_customers",
    analytics.top_returned_customers,
    analytics.TOP_RETURNED_CUSTOMERS_SQL,
)
_register("promo_revenue_ratio", analytics.promo_revenue_ratio, analytics.PROMO_REVENUE_SQL)
_register(
    "large_volume_customers",
    analytics.large_volume_customers,
    analytics.LARGE_VOLUME_CUSTOMERS_SQL,
)
_register(
    "nation_revenue_share", analytics.nation_revenue_share, analytics.NATION_REVENUE_SHARE_SQL
)

# --- round 2: landing formats proven in tests; corpus n-grams; stream-static --
from etl_mini_dw_spark.functions import text as _text

_register("ext_top_bigrams", _text.top_bigrams, _text.TOP_BIGRAMS_SQL)
_register(
    "ext_streaming_enriched_segments",
    ev.streaming_enriched_segment_counts,
    ev.STREAMING_ENRICHED_SQL,
)
_register(
    "ext_streaming_click_attribution",
    ev.streaming_click_purchase_attribution,
    ev.STREAMING_ATTRIBUTION_SQL,
)
_register("ext_tfidf_top_terms", _text.tfidf_top_terms, _text.TFIDF_SQL)
_register(
    "ext_repetition_signals", _text.repetition_signals, _text.REPETITION_SIGNALS_SQL
)
_register(
    "ext_doc_length_histogram", _text.doc_length_histogram, _text.DOC_LENGTH_HISTOGRAM_SQL
)

# --- round 2: classic battery II (Q7/Q8/Q9/Q15/Q17/Q19/Q21/Q22 analogues) ---
from etl_mini_dw_spark.plans import classic

_register(
    "bilateral_nation_trade", classic.bilateral_nation_trade, classic.BILATERAL_TRADE_SQL
)
_register(
    "regional_market_share", classic.regional_market_share, classic.REGIONAL_MARKET_SHARE_SQL
)
_register("product_line_profit", classic.product_line_profit, classic.PRODUCT_LINE_PROFIT_SQL)
_register(
    "ext_lorenz_concentration", classic.lorenz_concentration, classic.LORENZ_SQL
)
_register("top_supplier_by_quarter", classic.top_supplier_by_quarter, classic.TOP_SUPPLIER_SQL)
_register(
    "small_quantity_order_revenue",
    classic.small_quantity_order_revenue,
    classic.SMALL_QTY_REVENUE_SQL,
)
_register(
    "disjunctive_promo_revenue",
    classic.disjunctive_promo_revenue,
    classic.DISJUNCTIVE_REVENUE_SQL,
)
_register(
    "sole_returning_supplier",
    classic.sole_returning_supplier,
    classic.SOLE_RETURNING_SUPPLIER_SQL,
)
_register(
    "idle_high_balance_customers",
    classic.idle_high_balance_customers,
    classic.IDLE_CUSTOMERS_SQL,
)

# --- round 3: the last classic shapes (Q6/Q12/Q20 analogues) ----------------
_register(
    "forecast_revenue_change", classic.forecast_revenue_change, classic.FORECAST_REVENUE_SQL
)
_register(
    "line_status_priority_counts",
    classic.line_status_priority_counts,
    classic.LINE_STATUS_PRIORITY_SQL,
)
_register(
    "bulk_shipping_suppliers",
    classic.bulk_shipping_suppliers,
    classic.BULK_SHIPPING_SUPPLIERS_SQL,
)

# --- round 3: training-corpus assembly (chunking / packing / mixing) --------
from etl_mini_dw_spark.functions import corpus

_register("ext_doc_chunks", corpus.doc_chunks, corpus.DOC_CHUNKS_SQL)
_register("ext_sequence_packing", corpus.sequence_packing, corpus.SEQUENCE_PACKING_SQL)
_register("ext_mixture_sampling", corpus.mixture_sampling, corpus.MIXTURE_SAMPLING_SQL)

# --- round 3: int8 quantization + integer-exact quantized ANN ---------------
_register(
    "ext_embedding_quantize", simsearch.embedding_quantize, simsearch.EMBEDDING_QUANTIZE_SQL
)
_register("ext_ann_int8_topk", simsearch.ann_int8_topk, simsearch.ANN_INT8_SQL)

# --- round 3: incremental aggregate maintenance through the MERGE seam ------
from etl_mini_dw_spark.plans import incremental

_register(
    "ext_incremental_rollup",
    incremental.incremental_monthly_rollup,
    incremental.INCREMENTAL_ROLLUP_SQL,
)
_register(
    "ext_streaming_merge_totals",
    ev.streaming_merge_user_totals,
    ev.STREAMING_MERGE_TOTALS_SQL,
)

# --- round 3: time-series features, dedup decisions, inverted index,
# --- storage layout (Z-order zone maps) and exact table profiling -----------
from etl_mini_dw_spark.functions import timeseries
from etl_mini_dw_spark.plans import layout

_register(
    "ext_rolling_user_features",
    timeseries.rolling_user_features,
    timeseries.rolling_user_features_sql(),
)
_register("ext_events_gapfill", timeseries.gapfill_user_hourly, timeseries.GAPFILL_SQL)
_register(
    "ext_neardup_keep_canonical",
    dedup.neardup_keep_canonical,
    dedup.neardup_keep_canonical_sql(),
)
_register("ext_token_postings", text.token_postings, text.TOKEN_POSTINGS_SQL)
_register("ext_zorder_zonemap", layout.zorder_zonemap, layout.ZORDER_ZONEMAP_SQL)
_register("ext_table_profile", layout.table_profile, layout.table_profile_sql())
_register("ext_equidepth_histogram", layout.equidepth_histogram, layout.EQUIDEPTH_HIST_SQL)
_register("ext_reservoir_per_source", sampling.reservoir_per_source, sampling.RESERVOIR_SQL)
_register(
    "ext_kmeans_cluster_quality",
    cluster.kmeans_cluster_quality,
    cluster.kmeans_cluster_quality_sql(),
)
_register("ext_vocab_stats", text.vocab_stats, text.VOCAB_STATS_SQL)
_register("ext_langid_confusion", text.langid_confusion, text.langid_confusion_sql())
_register("ext_part_cooccurrence", olap.part_cooccurrence, olap.PART_COOCCURRENCE_SQL)
_register(
    "ext_streaming_session_windows",
    ev.streaming_session_windows,
    ev.STREAMING_SESSION_SQL,
)

# --- round 3: behavioral analytics (ordered funnel, cohort retention) -------
from etl_mini_dw_spark.plans import behavior

_register(
    "ext_funnel_view_click_purchase",
    behavior.funnel_view_click_purchase,
    behavior.FUNNEL_SQL,
)
_register("ext_cohort_retention", behavior.cohort_retention, behavior.COHORT_RETENTION_SQL)
_register("ext_growth_accounting", behavior.growth_accounting, behavior.GROWTH_ACCOUNTING_SQL)
_register("ext_event_transitions", behavior.event_transitions, behavior.EVENT_TRANSITIONS_SQL)
_register(
    "ext_session_path_trigrams",
    behavior.session_path_trigrams,
    behavior.session_path_trigrams_sql(),
)

# --- round 3: snapshot-diff CDC (reverse change-data-capture) ---------------
from etl_mini_dw_spark.fixtures_spec import DIMS as _CDC_DIMS

_register(
    "ext_snapshot_cdc_customer",
    lambda spark, sf_dir: staging.snapshot_cdc(spark, sf_dir, _CDC_DIMS["customer"]),
    staging.snapshot_cdc_sql(_CDC_DIMS["customer"]),
)

# --- round 3b: edit-distance dedup, PPS weighted sampling, anomaly days -----
from etl_mini_dw_spark.plans import anomaly

_register("ext_edit_distance_neardups", dedup.edit_distance_neardups, dedup.EDIT_DISTANCE_SQL)
_register("ext_pps_weighted_sample", sampling.pps_weighted_sample, sampling.PPS_SAMPLE_SQL)
_register(
    "ext_revenue_anomaly_days", anomaly.revenue_anomaly_days, anomaly.REVENUE_ANOMALY_SQL
)

# --- round 3b: corpus bigram-LM surprisal scoring ---------------------------
from etl_mini_dw_spark.functions import lm

_register("ext_lm_surprisal_score", lm.lm_surprisal_score, lm.LM_SURPRISAL_SQL)

# --- round 3b: integer-exact PageRank over part co-occurrence ---------------
from etl_mini_dw_spark.plans import graph

_register("ext_pagerank_parts", graph.pagerank_parts, graph.pagerank_parts_sql())
_register(
    "ext_triangle_count_parts",
    graph.triangle_count_parts,
    graph.triangle_count_parts_sql(),
)

# --- round 3b: mergeable HLL sketch rollup (rows-only: estimate is
# engine-specific by design; tolerance + merge-consistency contracts are
# pinned in tests/test_approx_sketches.py) ----------------------------------
from etl_mini_dw_spark.plans import sketches

_register("ext_hll_user_rollup", sketches.hll_user_rollup, None)

# --- round 3b: product-quantization ANN (codes + asymmetric distance) -------
from etl_mini_dw_spark.functions import pq

_register("ext_pq_codes", pq.pq_codes, pq.pq_codes_sql())
_register("ext_ann_pq_topk", pq.ann_pq_topk, pq.ann_pq_topk_sql())
_register(
    "ext_ann_pq_refined_topk", pq.ann_pq_refined_topk, pq.ann_pq_refined_topk_sql()
)

# --- round 3b: entity resolution + declarative expectations suite -----------
from etl_mini_dw_spark.plans import entity, expectations

_register("ext_part_entity_matches", entity.part_entity_matches, entity.PART_ENTITY_SQL)
_register(
    "ext_part_golden_records", entity.part_golden_records, entity.part_golden_records_sql()
)
_register(
    "ext_expectations_report",
    expectations.expectations_report,
    expectations.EXPECTATIONS_SQL,
)

# --- round 3b: corpus curation (budgeted selection, curriculum deciles) -----
from etl_mini_dw_spark.functions import curation

_register("ext_budget_curation", curation.budget_curation, curation.BUDGET_CURATION_SQL)
_register("ext_quality_deciles", curation.quality_deciles, curation.QUALITY_DECILES_SQL)

# --- round 3b: winsorized robust means over the event measure ---------------
from etl_mini_dw_spark.plans import winsorize

_register("ext_value_winsorized", winsorize.value_winsorized, winsorize.VALUE_WINSORIZED_SQL)

# --- round 3b: multi-granularity rollup tree from one staged day grain ------
from etl_mini_dw_spark.plans import rollup_tree

_register("ext_rollup_tree", rollup_tree.rollup_tree, rollup_tree.ROLLUP_TREE_SQL)

# --- round 3b: multi-model attribution (exact largest-remainder splits) -----
_register(
    "ext_attribution_models", behavior.attribution_models, behavior.ATTRIBUTION_SQL
)

# --- round 3b: end-to-end corpus pipeline composition ------------------------
from etl_mini_dw_spark.plans import pipeline

_register(
    "ext_corpus_pipeline_summary",
    pipeline.corpus_pipeline_summary,
    pipeline.corpus_pipeline_summary_sql(),
)

# --- round 3b: ANN index recall report ---------------------------------------
from etl_mini_dw_spark.plans import ann_quality

_register(
    "ext_ann_recall_report",
    ann_quality.ann_recall_report,
    ann_quality.ann_recall_report_sql(),
)

# --- round 3b: raw-SQL warehouse surface (temp-view layer stack) -------------
from etl_mini_dw_spark import api

_register(
    "ext_sql_mart_category_counts",
    api.sql_mart_category_counts,
    api.sql_mart_category_counts_sql(),
)

# --- round 3b: trend slopes + hierarchical shares ----------------------------
from etl_mini_dw_spark.plans import stats as _stats

_register("ext_revenue_trend_slope", _stats.revenue_trend_slope, _stats.REVENUE_TREND_SQL)
_register(
    "ext_nation_share_of_region",
    _stats.nation_share_of_region,
    _stats.NATION_SHARE_SQL,
)

# --- round 3b: key-skew diagnostics + rank normalization ---------------------
from etl_mini_dw_spark.plans import skew_report

_register("ext_key_skew_report", skew_report.key_skew_report, skew_report.key_skew_report_sql())
_register(
    "ext_value_rank_normalized", _stats.value_rank_normalized, _stats.VALUE_RANK_NORM_SQL
)

# --- round 3b: incremental ingest dedup (new batch vs corpus index) ----------
_register(
    "ext_incremental_newbatch_dedup",
    dedup.incremental_newbatch_dedup,
    dedup.INCREMENTAL_NEWBATCH_SQL,
)

# --- round 3b: streaming mergeable-sketch maintenance (rows-only) -----------
_register("ext_streaming_hll_sketches", ev.streaming_hll_user_sketches, None)

# --- round 3b: event-sourced SCD2 with late-arriving splice -----------------
from etl_mini_dw_spark.operators import scd2_events

_register(
    "scd2_customer_late_splice",
    scd2_events.customer_late_splice,
    scd2_events.customer_late_splice_sql(),
)

# --- round 3c: point-in-time SCD2 snapshot ----------------------------------
_register(
    "scd2_customer_asof_snapshot",
    lambda spark, sf_dir: _ts_as_str(
        scd2.dim_asof_snapshot(spark, sf_dir, spec.DIMS["customer"], spec.MID),
        "active_from",
        "active_to",
    ),
    _ts_as_str_sql(
        f"SELECT * FROM ({warehouse_sql.dim_initial_sql(spec.DIMS['customer'])}) "
        f"WHERE active_from <= TIMESTAMP '{spec.MID}' AND active_to > TIMESTAMP '{spec.MID}'",
        "active_from",
        "active_to",
    ),
)

# --- round 3c: heavy hitters (Misra-Gries summary + exact recount) ----------
_register("ext_heavy_hitter_tokens", text.heavy_hitter_tokens, text.HEAVY_HITTER_SQL)
_register("ext_gopher_rule_filter", text.gopher_rule_filter, text.GOPHER_RULES_SQL)

# --- round 3c: prefix-filter set-similarity join (PPJoin-style) -------------
_register(
    "ext_prefix_filter_neardups", dedup.prefix_filter_neardups, dedup.PREFIX_FILTER_SQL
)
_register(
    "ext_prefix_filter_capped",
    dedup.prefix_filter_capped_neardups,
    dedup.PREFIX_FILTER_CAPPED_SQL,
)

# --- round 3c: containment near-dups (subset duplication) -------------------
_register(
    "ext_containment_neardups", dedup.containment_neardups, dedup.CONTAINMENT_SQL
)

# --- round 3c: cross-source duplication matrix -------------------------------
_register(
    "ext_neardup_source_matrix",
    dedup.neardup_source_matrix,
    dedup.NEARDUP_SOURCE_MATRIX_SQL,
)

# --- round 3c: role-playing date dimension ----------------------------------
_register(
    "ext_revenue_role_playing_dates",
    analytics.revenue_by_role_playing_dates,
    analytics.revenue_by_role_playing_dates_sql(),
)

# --- round 3c: Pareto / ABC concentration -----------------------------------
_register("ext_customer_pareto", _stats.customer_pareto, _stats.CUSTOMER_PARETO_SQL)

# --- round 3c: correlation matrix from exact sufficient statistics ----------
_register(
    "ext_lineitem_corr_matrix",
    _stats.lineitem_corr_matrix,
    _stats.lineitem_corr_matrix_sql(),
)

# --- round 3c: categorical association (chi-square) -------------------------
_register("ext_chi2_lang_source", _stats.chi2_lang_source, _stats.CHI2_LANG_SOURCE_SQL)

# --- round 3c: concentration + time-series association ----------------------
_register("ext_supplier_hhi_by_type", _stats.supplier_hhi_by_type, _stats.SUPPLIER_HHI_SQL)
_register(
    "ext_events_autocorr_lag1", _stats.events_autocorr_lag1, _stats.EVENTS_AUTOCORR_SQL
)


# --- round 3c: one-frame warehouse health summary (#200) --------------------
def _health_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Stage-5 battery as ONE dashboard frame: (check, violations)
    for every structural invariant — the operational "is the warehouse
    green" query. Dim states and the resolved fact come from the shared
    stage memos, so the 15 checks pay the builds once per session.
    """
    from pyspark.sql import functions as F

    rows = []

    def _count(name: str, frame: DataFrame) -> None:
        rows.append(
            frame.agg(F.count(F.lit(1)).alias("violations")).select(
                F.lit(name).alias("check"),
                F.col("violations").cast("bigint").alias("violations"),
            )
        )

    for key, d in spec.DIMS.items():
        dim_df = dim_state(spark, sf_dir, key)
        _count(f"{key}.dup_current", validation.duplicate_current_per_nk(dim_df, d.nk))
        _count(f"{key}.dup_versions", validation.duplicate_version_windows(dim_df, d.nk))
        _count(f"{key}.overlaps", validation.overlapping_windows(dim_df, d.nk, d.sk))
    fact_df = fact.fact_initial_memo(spark, sf_dir)
    _count("fact.nk_dups", validation.duplicate_fact_nk(fact_df))
    for key, d in spec.DIMS.items():
        fk = {
            "customer": "sales_customerid",
            "salesperson": "sales_salespersonid",
            "product": "sales_productid",
        }[key]
        _count(
            f"fact.orphans_{key}",
            validation.fact_orphans(
                fact_df, scd2.dim_initial(spark, sf_dir, d), fk, d.sk
            ),
        )
    _count(
        "fact.orphans_date",
        validation.fact_orphans(
            fact_df,
            dimdate.build_dim_date(spark, spec.DATE_START, spec.DATE_END),
            "sales_order_datekey",
            "date_key",
        ),
    )
    _count(
        "dimdate.dup_dates", validation.duplicate_dates(dimdate.build_dim_date(spark))
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _health_summary_sql() -> str:
    parts = []

    def _add(name: str, sql: str) -> None:
        parts.append(
            f"SELECT '{name}' AS check, CAST(COUNT(*) AS BIGINT) AS violations"
            f" FROM ({sql})"
        )

    for key, d in spec.DIMS.items():
        two = warehouse_sql.dim_two_phase_sql(d, spec.MID, spec.NOW_FIXED)
        _add(f"{key}.dup_current", validation_sql.dup_current_sql(two, d.nk))
        _add(f"{key}.dup_versions", validation_sql.dup_versions_sql(two, d.nk))
        _add(f"{key}.overlaps", validation_sql.overlaps_sql(two, d.nk, d.sk))
    fact_sql = warehouse_sql.fact_initial_sql()
    _add("fact.nk_dups", validation_sql.fact_nk_dups_sql(fact_sql))
    for key, d in spec.DIMS.items():
        fk = {
            "customer": "sales_customerid",
            "salesperson": "sales_salespersonid",
            "product": "sales_productid",
        }[key]
        _add(
            f"fact.orphans_{key}",
            validation_sql.fact_orphans_sql(
                fact_sql, warehouse_sql.dim_initial_sql(d), fk, d.sk
            ),
        )
    _add(
        "fact.orphans_date",
        validation_sql.fact_orphans_sql(
            fact_sql,
            dimdate.dim_date_oracle_sql(spec.DATE_START, spec.DATE_END),
            "sales_order_datekey",
            "date_key",
        ),
    )
    _add(
        "dimdate.dup_dates",
        validation_sql.dimdate_dup_dates_sql(dimdate.dim_date_oracle_sql()),
    )
    return "\nUNION ALL\n".join(parts)


_register("ext_warehouse_health_summary", _health_summary, _health_summary_sql())

# --- round 3c: repeat-purchase cadence ---------------------------------------
from etl_mini_dw_spark.plans import behavior as _behavior_early

_register(
    "ext_reorder_interval_stats",
    _behavior_early.reorder_interval_stats,
    _behavior_early.REORDER_INTERVAL_SQL,
)

# --- round 3c: integer-exact power iteration (top principal direction) ------
_register(
    "ext_power_iteration_direction",
    cluster.power_iteration_direction,
    cluster.power_iteration_sql(),
)

# --- round 3c: functional-dependency profiler -------------------------------
from etl_mini_dw_spark.plans import expectations as _expect

_register(
    "ext_fd_violation_report", _expect.fd_violation_report, _expect.FD_VIOLATION_SQL
)
_register(
    "ext_ind_violation_report", _expect.ind_violation_report, _expect.IND_VIOLATION_SQL
)

# --- round 3c: stream-static AS-OF enrichment (topology #11) ----------------
_STREAM_ASOF_SQL = f"""
WITH dim AS ({warehouse_sql.dim_initial_sql(spec.DIMS["customer"])}),
ev AS (
  SELECT event_id, user_id,
         CAST(ts AS TIMESTAMP) - INTERVAL {ev.ASOF_SHIFT_DAYS} DAY AS eff_ts
  FROM events
)
SELECT d.customer_category_name AS category,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e
JOIN dim d ON d.customer_nk = e.user_id
          AND e.eff_ts >= d.active_from AND e.eff_ts < d.active_to
GROUP BY 1
"""
_register("ext_streaming_asof_enrichment", ev.streaming_asof_enrichment, _STREAM_ASOF_SQL)

# --- round 3c: bounded-state streaming dedup (topology #10) -----------------
_register(
    "ext_streaming_dedup_within_watermark",
    ev.streaming_dedup_within_watermark,
    ev.STREAMING_DEDUP_SQL,  # same global-distinct truth, exact on bounded replay
)

# --- round 3c: stream-stream LEFT OUTER interval join (topology #8) ---------
_register(
    "ext_streaming_left_outer_attribution",
    ev.streaming_left_outer_attribution,
    ev.STREAMING_LEFT_OUTER_SQL,
)

# --- round 3c: accumulating-snapshot fact (order lifecycle) -----------------
_register(
    "fact_order_lifecycle", marts.fact_order_lifecycle, marts.ORDER_LIFECYCLE_SQL
)

# --- round 3c: periodic-snapshot fact (customer × month spine) --------------
_register(
    "fact_customer_monthly_snapshot",
    marts.fact_customer_monthly_snapshot,
    marts.CUSTOMER_MONTHLY_SNAPSHOT_SQL,
)

# --- round 3c: distribution-window battery ----------------------------------
_register(
    "ext_order_window_battery2", olap.order_window_battery2, olap.ORDER_WINDOW_BATTERY2_SQL
)

# --- round 3c: semi-structured schema profiling -----------------------------
_register("ext_props_schema_report", olap.props_schema_report, olap.PROPS_SCHEMA_SQL)

# --- round 3c: seasonal index -----------------------------------------------
_register(
    "ext_revenue_seasonal_index", _stats.revenue_seasonal_index, _stats.REVENUE_SEASONAL_SQL
)

# --- round 3c: exact median by distributed selection ------------------------
_register(
    "ext_value_exact_median", _stats.value_exact_median, _stats.VALUE_EXACT_MEDIAN_SQL
)

# --- round 3c: as-of revenue re-attribution (the snapshot's payoff query) ---
_register(
    "ext_revenue_by_category_asof",
    analytics.revenue_by_category_asof,
    analytics.revenue_by_category_asof_sql(
        warehouse_sql.dim_initial_sql(spec.DIMS["customer"]), spec.MID
    ),
)

# --- round 3c: Bloom-filter membership (decontamination sketch) -------------
_register(
    "ext_bloom_membership_report",
    sampling.bloom_membership_report,
    sampling.BLOOM_MEMBERSHIP_SQL,
)

# --- round 3c: SCD2 version-churn report ------------------------------------
_register(
    "ext_customer_version_churn",
    lambda spark, sf_dir: scd2.dim_version_churn(spark, sf_dir, spec.DIMS["customer"]),
    scd2.dim_version_churn_sql(
        warehouse_sql.dim_initial_sql(spec.DIMS["customer"]),
        spec.DIMS["customer"].nk,
        spec.HIGH,
    ),
)

# --- round 3c: association rules (support / confidence / lift) --------------
_register(
    "ext_part_association_rules", olap.part_association_rules, olap.PART_ASSOCIATION_SQL
)

# --- round 3c: RFM segmentation ---------------------------------------------
from etl_mini_dw_spark.plans import behavior as _behavior

_register(
    "ext_customer_rfm_segments",
    _behavior.customer_rfm_segments,
    _behavior.CUSTOMER_RFM_SQL,
)

# --- round 3c: embedding column QA ------------------------------------------
_register(
    "ext_embedding_dim_stats", simsearch.embedding_dim_stats, simsearch.EMBEDDING_DIM_STATS_SQL
)

# --- round 4: semantic prune + contamination span coverage -------------------
_register("ext_semdedup_prune", cluster.semdedup_prune, cluster.semdedup_prune_sql())
_register(
    "ext_contamination_spans",
    sampling.contamination_spans,
    sampling.CONTAMINATION_SPANS_SQL,
)

from etl_mini_dw_spark.functions import bpe

_register("ext_bpe_train_merges", bpe.bpe_train_merges, bpe.bpe_train_merges_sql())
_register("ext_bpe_apply_report", bpe.bpe_apply_report, bpe.bpe_apply_report_sql())

from etl_mini_dw_spark.plans import sketches as _sketches

_register(
    "ext_cms_token_counts", _sketches.cms_token_counts, _sketches.cms_token_counts_sql()
)

# --- round 5: portable distinct sketch, corpus-internal dup spans,
# lexical retrieval ----------------------------------------------------------
_register(
    "ext_hll_register_rollup",
    _sketches.hll_register_rollup,
    _sketches.hll_register_rollup_sql(),
)
_register(
    "ext_dup_ngram_coverage", dedup.dup_ngram_coverage, dedup.DUP_NGRAM_COVERAGE_SQL
)

from etl_mini_dw_spark.functions import retrieval as _retrieval

_register("ext_bm25_topk", _retrieval.bm25_topk, _retrieval.BM25_TOPK_SQL)
_register(
    "ext_leakage_free_split",
    sampling.leakage_free_split,
    sampling.leakage_free_split_sql(),
)
_register(
    "ext_bpe_fertility_by_lang",
    bpe.bpe_fertility_by_lang,
    bpe.bpe_fertility_by_lang_sql(),
)
# streaming topology #12 — the first VALUE-CHECKED streaming sketch
# (integer CMS cells replay in DuckDB; the HLL twin is rows-only)
_register(
    "ext_streaming_cms_activity",
    ev.streaming_cms_user_activity,
    ev.streaming_cms_sql(),
)
_register(
    "ext_trigram_search", _retrieval.trigram_search, _retrieval.trigram_search_sql()
)
_register(
    "ext_ann_hamming_topk", simsearch.ann_hamming_topk, simsearch.ann_hamming_topk_sql()
)
_register(
    "ext_psi_drift_report", _stats.psi_drift_report, _stats.psi_drift_report_sql()
)
_register(
    "ext_cms_join_size_estimate",
    _sketches.cms_join_size_estimate,
    _sketches.cms_join_size_sql(),
)
_register(
    "ext_revenue_cusum_shifts",
    anomaly.revenue_cusum_shifts,
    anomaly.REVENUE_CUSUM_SQL,
)
_register(
    "ext_boxplot_digest", _stats.boxplot_digest, _stats.BOXPLOT_DIGEST_SQL
)
_register(
    "ext_minhash_estimate_quality",
    dedup.minhash_estimate_quality,
    dedup.MINHASH_QUALITY_SQL,
)
_register(
    "ext_mad_outlier_days", anomaly.mad_outlier_days, anomaly.MAD_OUTLIER_SQL
)
# completes the multimodal quartet (decode / feature-extract / RESIZE /
# frame-sample) with a value-checked stage
_register(
    "ext_multimodal_resize_digest",
    multimodal.resize_digest,
    multimodal.RESIZE_DIGEST_SQL,
)
_register(
    "ext_shapley_attribution",
    _behavior.shapley_attribution,
    _behavior.SHAPLEY_ATTRIBUTION_SQL,
)
_register(
    "ext_ks_drift_report", _stats.ks_drift_report, _stats.ks_drift_report_sql()
)
_register(
    "ext_benford_digit_audit",
    expectations.benford_digit_audit,
    expectations.BENFORD_AUDIT_SQL,
)
_register(
    "ext_lexical_diversity",
    text.lexical_diversity_report,
    text.LEXICAL_DIVERSITY_SQL,
)
_register(
    "ext_jl_projection_audit",
    simsearch.jl_projection_audit,
    simsearch.jl_projection_audit_sql(),
)
_register(
    "ext_distinctive_terms",
    text.distinctive_terms,
    text.DISTINCTIVE_TERMS_SQL,
)
_register("ext_zipf_fit", text.zipf_fit_report, text.ZIPF_FIT_SQL)
_register("ext_kcore_peel", graph.kcore_peel_report, graph.kcore_peel_report_sql())
_register(
    "ext_degree_assortativity",
    graph.degree_assortativity,
    graph.degree_assortativity_sql(),
)
_register(
    "ext_auc_rank_quality", _stats.auc_rank_quality, _stats.auc_rank_quality_sql()
)
_register(
    "ext_spearman_rank_matrix",
    _stats.spearman_rank_matrix,
    _stats.spearman_rank_matrix_sql(),
)
_register("ext_revenue_acf", anomaly.revenue_acf, anomaly.revenue_acf_sql())
_register(
    "ext_gains_lift_chart", _stats.gains_lift_chart, _stats.gains_lift_chart_sql()
)

from etl_mini_dw_spark.plans import survival as _survival  # noqa: E402

_register(
    "ext_survival_km_shipping",
    _survival.survival_km_shipping,
    _survival.survival_km_shipping_sql(),
)

from etl_mini_dw_spark.plans import preference as _pref  # noqa: E402

_register(
    "ext_bradley_terry_brands",
    _pref.bradley_terry_brands,
    _pref.bradley_terry_brands_sql(),
)
_register(
    "ext_incremental_join_view",
    incremental.incremental_join_view,
    incremental.INCREMENTAL_JOIN_VIEW_SQL,
)
_register(
    "ext_hdr_quantile_sketch",
    sketches.hdr_quantile_sketch,
    sketches.hdr_quantile_sketch_sql(),
)

from etl_mini_dw_spark.plans import allocation as _alloc  # noqa: E402

_register(
    "ext_penny_allocation_audit",
    _alloc.penny_allocation_audit,
    _alloc.PENNY_ALLOCATION_SQL,
)

from etl_mini_dw_spark.plans import conformal as _conformal  # noqa: E402

_register(
    "ext_conformal_coverage",
    _conformal.conformal_coverage,
    _conformal.conformal_coverage_sql(),
)
_register(
    "ext_trending_parts",
    behavior.trending_parts,
    behavior.TRENDING_PARTS_SQL,
)

from etl_mini_dw_spark.plans import experiment as _experiment  # noqa: E402

_register(
    "ext_ab_cuped_lift",
    _experiment.ab_cuped_lift,
    _experiment.ab_cuped_lift_sql(),
)
_register(
    "ext_permutation_test_lift",
    _experiment.permutation_test_lift,
    _experiment.permutation_test_lift_sql(),
)
_register(
    "ext_group_sequential_lift",
    _experiment.group_sequential_lift,
    _experiment.group_sequential_lift_sql(),
)
_register(
    "ext_calibration_brier",
    _experiment.calibration_brier,
    _experiment.calibration_brier_sql(),
)
_register(
    "ext_theil_sen_trend",
    _stats.theil_sen_trend,
    _stats.THEIL_SEN_SQL,
)
_register(
    "ext_compaction_plan",
    layout.compaction_plan,
    layout.COMPACTION_PLAN_SQL,
)
_register(
    "ext_knn_graph_stats",
    simsearch.knn_graph_stats,
    simsearch.KNN_GRAPH_SQL,
)

from etl_mini_dw_spark.operators import scd2_events as _scd2ev  # noqa: E402

_register(
    "ext_bitemporal_asof_matrix",
    _scd2ev.bitemporal_asof_matrix,
    _scd2ev.bitemporal_asof_matrix_sql(),
)

from etl_mini_dw_spark.functions import timeseries as _tseries  # noqa: E402

_register(
    "ext_forecast_backtest",
    _tseries.forecast_backtest,
    _tseries.FORECAST_BACKTEST_SQL,
)
_register(
    "ext_woe_encoding",
    _experiment.woe_encoding,
    _experiment.woe_encoding_sql(),
)
_register(
    "ext_did_by_segment",
    _experiment.did_by_segment,
    _experiment.did_by_segment_sql(),
)

from etl_mini_dw_spark.plans import privacy as _privacy  # noqa: E402

_register(
    "ext_k_anonymity_report",
    _privacy.k_anonymity_report,
    _privacy.K_ANONYMITY_SQL,
)
_register(
    "ext_neyman_allocation",
    _alloc.neyman_allocation,
    _alloc.NEYMAN_ALLOCATION_SQL,
)
_register(
    "ext_streaming_hdr_quantiles",
    ev.streaming_hdr_quantiles,
    ev.streaming_hdr_sql(),
)
_register(
    "ext_winnowing_matches",
    dedup.winnowing_matches,
    dedup.WINNOWING_SQL,
)
_register(
    "ext_fact_diff_drilldown",
    _diff.fact_diff_drilldown,
    _diff.fact_diff_drilldown_sql(),
)
_register(
    "ext_layout_pruning_tradeoff",
    layout.layout_pruning_tradeoff,
    layout.layout_pruning_tradeoff_sql(),
)
_register(
    "ext_markov_stationary",
    behavior.markov_stationary,
    behavior.markov_stationary_sql(),
)
_register(
    "ext_hash_uniformity_audit",
    expectations.hash_uniformity_audit,
    expectations.hash_uniformity_audit_sql(),
)
_register(
    "ext_pareto_skyline_parts",
    classic.pareto_skyline_parts,
    classic.PARETO_SKYLINE_SQL,
)
_register(
    "ext_mde_power_report",
    _experiment.mde_power_report,
    _experiment.mde_power_report_sql(),
)
_register(
    "ext_abc_xyz_matrix",
    classic.abc_xyz_matrix,
    classic.ABC_XYZ_SQL,
)
_register(
    "ext_dedup_threshold_sweep",
    dedup.dedup_threshold_sweep,
    dedup.dedup_threshold_sweep_sql(),
)
_register(
    "ext_poststratified_lift",
    _experiment.poststratified_lift,
    _experiment.poststratified_lift_sql(),
)
_register(
    "ext_sales_opportunity",
    classic.sales_opportunity,
    classic.SALES_OPPORTUNITY_SQL,
)
_register(
    "ext_promo_revenue_disjunction",
    classic.promo_revenue_disjunction,
    classic.PROMO_DISJUNCTION_SQL,
)
_register(
    "ext_hdr_monthly_rollup",
    sketches.hdr_monthly_rollup,
    sketches.hdr_monthly_rollup_sql(),
)
_register(
    "ext_categorical_drift",
    _stats.categorical_drift_report,
    _stats.categorical_drift_report_sql(),
)
_register(
    "ext_quality_signal_agreement",
    curation.quality_signal_agreement,
    curation.quality_signal_agreement_sql(),
)
_register(
    "ext_ngram_novelty",
    sampling.ngram_novelty_report,
    sampling.ngram_novelty_report_sql(),
)
_register(
    "ext_streaming_bloom_membership",
    ev.streaming_bloom_membership,
    ev.streaming_bloom_sql(),
)
_register(
    "ext_ewma_control_chart",
    anomaly.ewma_control_chart,
    anomaly.ewma_control_chart_sql(),
)
_register(
    "ext_cohort_ltv_curve",
    behavior.cohort_ltv_curve,
    behavior.COHORT_LTV_SQL,
)
_register(
    "ext_counterfactual_lift",
    _experiment.counterfactual_lift,
    _experiment.counterfactual_lift_sql(),
)
_register(
    "ext_price_elasticity",
    _experiment.price_elasticity,
    _experiment.price_elasticity_sql(),
)
_register(
    "ext_duplicate_payment_audit",
    expectations.duplicate_payment_audit,
    expectations.duplicate_payment_audit_sql(),
)
_register(
    "ext_supplier_scorecard",
    classic.supplier_scorecard,
    classic.SUPPLIER_SCORECARD_SQL,
)

# --- round 7: gap-fill registrations (capped batch — r6 VERDICT task #1:
# every new name must fit the r7 driver window alongside the backlog) ---
_register(
    "ext_ab_srm_check", _experiment.ab_srm_check, _experiment.ab_srm_check_sql()
)
_register("ext_token_pmi_pairs", _text.token_pmi_pairs, _text.TOKEN_PMI_SQL)
_register(
    "ext_rrf_hybrid_topk",
    _retrieval.rrf_hybrid_topk,
    _retrieval.rrf_hybrid_topk_sql(),
)
_register(
    "ext_weighted_median_price",
    _stats.weighted_median_price,
    _stats.WEIGHTED_MEDIAN_SQL,
)
_register(
    "ext_price_volume_mix",
    classic.price_volume_mix,
    classic.PRICE_VOLUME_MIX_SQL,
)
_register(
    "ext_hll_cumulative_users",
    sketches.hll_cumulative_users,
    sketches.hll_cumulative_users_sql(),
)
_register(
    "ext_quantile_forecast_pinball",
    _tseries.quantile_forecast_pinball,
    _tseries.quantile_forecast_pinball_sql(),
)
_register(
    "ext_hard_negative_mining",
    _retrieval.hard_negative_mining,
    _retrieval.hard_negative_mining_sql(),
)

# --- round 8: embedding drift / diversity selection / resampling -----------
_register(
    "ext_embedding_label_drift",
    simsearch.embedding_label_drift,
    simsearch.EMBEDDING_LABEL_DRIFT_SQL,
)
_register(
    "ext_mmr_diverse_topk",
    simsearch.mmr_diverse_topk,
    simsearch.mmr_diverse_topk_sql(),
)
_register(
    "ext_bootstrap_ci_revenue",
    _stats.bootstrap_ci_revenue,
    _stats.bootstrap_ci_revenue_sql(),
)
_register(
    "ext_item_item_similarity",
    olap.item_item_similarity,
    olap.ITEM_ITEM_SIMILARITY_SQL,
)
_register(
    "ext_forecast_reconciliation",
    _tseries.forecast_reconciliation,
    _tseries.FORECAST_RECONCILIATION_SQL,
)

# --- round 9: stop-bucket capped LSH verify (scale-path sibling of ----------
# ext_ngram_jaccard_neardups, the same mitigation that took the PPJoin
# from alpha 1.40 to 0.99-linear)
_register(
    "ext_ngram_jaccard_capped",
    dedup.ngram_jaccard_capped_neardups,
    dedup.NGRAM_JACCARD_CAPPED_SQL,
)

# --- round 9: data-mixture diagnostics (plans/mixture.py) --------------------
from etl_mini_dw_spark.plans import mixture

_register(
    "ext_source_js_divergence",
    mixture.source_js_divergence,
    mixture.SOURCE_JS_SQL,
)
_register(
    "ext_temperature_sampling_weights",
    mixture.temperature_sampling_weights,
    mixture.TEMPERATURE_WEIGHTS_SQL,
)
_register(
    "ext_loo_source_contribution",
    mixture.loo_source_contribution,
    mixture.LOO_SOURCE_SQL,
)

# --- round 9: tail index + metric-aware drift + panel FE ---------------------
_register("ext_hill_tail_index", _stats.hill_tail_index, _stats.HILL_TAIL_SQL)
_register(
    "ext_wasserstein_segment_drift",
    _stats.wasserstein_segment_drift,
    _stats.WASSERSTEIN_SQL,
)
_register(
    "ext_panel_fixed_effects",
    _experiment.panel_fixed_effects,
    _experiment.PANEL_FE_SQL,
)

# --- round 9: Matryoshka truncation quality (simsearch.py) -------------------
_register(
    "ext_matryoshka_overlap",
    simsearch.matryoshka_overlap,
    simsearch.MATRYOSHKA_SQL,
)

# --- round 9 wave 2: arm-agreement RBO + FDR screening ------------------------
from etl_mini_dw_spark.functions import retrieval as _retrieval

_register(
    "ext_rbo_arm_agreement",
    _retrieval.rbo_arm_agreement,
    _retrieval.rbo_arm_agreement_sql(),
)
_register(
    "ext_bh_fdr_nation_screen",
    _experiment.bh_fdr_nation_screen,
    _experiment.bh_fdr_nation_screen_sql(),
)

# --- round 9 wave 3: observational matching + source frequency capping --------
_register("ext_cem_att", _experiment.cem_att, _experiment.cem_att_sql())
_register(
    "ext_freq_cap_per_source",
    curation.freq_cap_per_source,
    curation.FREQ_CAP_SQL,
)

# --- driver-visibility ordering ---------------------------------------------
# The external driver's correctness gate compares only the FIRST 50
# ``queries()`` entries (registration order). The rotation is fully
# self-maintaining: `_DRIVER_WINDOW_SEED` below is a *value ranking* of
# queries worth checking early, NOT a pinned window — at import time it
# is filtered down to names with no row in any CORRECTNESS_r*.json, so
# once a round's file lands those names drop out and the next
# never-checked block floats forward automatically, no per-round edit.
# The window each round is therefore: (seed ∩ unchecked) first, then
# every other unchecked query in registration order, then the checked
# backlog. tests/test_oracle_parity.py still runs ALL entries, so
# nothing loses its value gate by moving.
_DRIVER_WINDOW_SEED = [
    # r6 value-ranked seeds (r5 VERDICT task #2). Earlier rounds' seeds
    # are all driver-green now, so they self-filtered out of this list.
    # closes the HLL rows-only residual with a value-checked twin:
    "ext_hll_register_rollup",
    "ext_bm25_topk",
    "ext_ann_hamming_topk",
    "ext_dup_ngram_coverage",
    "ext_winnowing_matches",
    "ext_leakage_free_split",
    "ext_multimodal_resize_digest",
    # the experimentation suite
    "ext_ab_cuped_lift",
    "ext_did_by_segment",
    "ext_mde_power_report",
    "ext_conformal_coverage",
    "ext_neyman_allocation",
    # plan-history headliners
    "ext_theil_sen_trend",
    "ext_fact_diff_drilldown",
]

# Deliberately LAST among the unchecked block: with 53 unchecked names
# and a 50-row window, three must wait for round 6 — pick the three whose
# coverage most overlaps already-green rows (lang_id, the mart count
# battery, and region revenue shares are driver-green since r1–r4).
_DRIVER_WINDOW_DEFER = [
    "ext_langid_confusion",
    "ext_sql_mart_category_counts",
    "ext_nation_share_of_region",
]
def _driver_green_rounds(root: str | None = None) -> dict[str, int]:
    """name → LATEST round with a SUCCESSFUL driver correctness row.

    The external driver writes CORRECTNESS_r{N}.json (first-50-only) into
    the repo root each round; reading them here makes the rotation
    self-maintaining: once this round's file lands, its successful names
    count as checked, the seed list filters itself down, and the next
    never-checked block floats forward automatically — no manual edit.

    "Successful" means the row's value hash matched (``hash_match`` true)
    or the query is rows-only by design (``err == "no_oracle"``, the
    driver's weaker check for queries without an oracle_sql entry). A row
    whose comparison ERRORED or value-mismatched does NOT count — that
    query re-floats to the front of the next window so the fix actually
    gets a green row (r4 lesson: ``ext_token_postings`` errored in the
    driver canonicalizer and would otherwise have been filed as done
    forever). Legacy rows that predate hash reporting but carry
    ``rows_match`` and no err are kept as checked.

    The LATEST-green round drives the all-checked steady state
    (r6 VERDICT task #6): once nothing is unchecked, the window fills
    with the names whose most-recent confirmation is oldest, so the
    window ROTATES through the registry round-over-round. (r9 fix: this
    originally kept the EARLIEST round, which made the steady-state
    window re-check the same r1-era names forever — a name re-confirmed
    last round sorted as if it were still stale.)
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            ok = v.get("hash_match") is True or v.get("err") == "no_oracle"
            if not ok and v.get("err") is None and v.get("rows_match") is not None:
                # legacy / reduced-signal row: no comparison error recorded
                ok = v.get("rows_match") is True and v.get("hash_match") is None
            if ok:
                seen[k] = max(seen.get(k, rnd), rnd)
    return seen


def _driver_checked_names(root: str | None = None) -> set[str]:
    """Query names with any successful driver row (see _driver_green_rounds)."""
    return set(_driver_green_rounds(root))


assert set(_DRIVER_WINDOW_SEED) <= set(QUERIES), (
    set(_DRIVER_WINDOW_SEED) - set(QUERIES)
)
assert set(_DRIVER_WINDOW_DEFER) <= set(QUERIES), (
    set(_DRIVER_WINDOW_DEFER) - set(QUERIES)
)
assert not set(_DRIVER_WINDOW_DEFER) & set(_DRIVER_WINDOW_SEED)
_green_round = _driver_green_rounds()
_checked = set(_green_round)
# value-ranked seed minus anything already driver-checked ...
_seed = [n for n in _DRIVER_WINDOW_SEED if n not in _checked]
# ... then the rest of the unchecked backlog in registration order,
# with explicitly deferred names pushed to the back of that block ...
_unchecked = [
    n
    for n in QUERIES
    if n not in _checked and n not in _seed and n not in _DRIVER_WINDOW_DEFER
]
_deferred = [
    n for n in _DRIVER_WINDOW_DEFER if n not in _checked and n not in _seed
]
# ... then names whose SEMANTICS changed after their green row landed
# (r7: ext_multimodal_features went rows-only → per-doc oracled), which
# need a fresh compare ahead of the green backlog ...
_DRIVER_WINDOW_RECHECK = [
    # (r8's ext_rrf_hybrid_topk recheck landed green in CORRECTNESS_r08 —
    # removed so it stops pinning a window slot; r9's window is pure
    # stalest-first. Add names here ONLY when a value-changing rewrite
    # lands after their last green row.)
]
_recheck = [
    n
    for n in _DRIVER_WINDOW_RECHECK
    if n in _checked and n in QUERIES and n not in _seed
]
# ... then the green backlog, STALEST round first (ties: registration
# order) — in the all-checked steady state the 50-row window therefore
# re-verifies the oldest results each round instead of no-oping
_reg_idx = {n: i for i, n in enumerate(QUERIES)}
_done = sorted(
    (n for n in QUERIES if n in _checked and n not in _recheck),
    key=lambda n: (_green_round[n], _reg_idx[n]),
)
_ordered = _seed + _unchecked + _deferred + _recheck + _done
QUERIES = {name: QUERIES[name] for name in _ordered}
