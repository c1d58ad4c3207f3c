"""Spark-job budgets for the lines whose rounds run over bounded state or
train on the driver, for the lines that read order statistics through
functions/quantiles.py, for every streaming line and for the SCD2/fact
lifecycle lines; and the incremental loads' job counts, which must not
vary from run to run.

At fixture scale the unit of cost is the Spark job (each shuffle or
broadcast stage under AQE is one driver job), and job counts do not
depend on machine load. A line's count is construction (jobs fired
while `QUERIES[name]` builds the frame) plus execution (a noop write),
read as the DAG scheduler's next job id before and after: micro-batch
jobs run under the stream's own job group, so the status tracker's
default group would miss them. Memo hits only lower a count, so each
budget is a ceiling; budgets may only be tightened.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl import runlog, tracker
from etl_mini_dw_spark.etl.orchestrate import Warehouse
from etl_mini_dw_spark.etl.store import ParquetStore
from etl_mini_dw_spark.registry import QUERIES

BUDGETS = {
    # driver-exact rounds: one collect of the bounded statistics
    "ext_bradley_terry_brands": 10,
    "ext_markov_stationary": 8,
    "ext_mmr_diverse_topk": 8,
    # integer k-means: one job per literal-argmin training round
    "ext_kmeans_ivf_assign": 7,
    "ext_pq_codes": 8,
    # trained once on the driver, applied as literals (a cold session:
    # the word memo and the histogram collect land on the first line)
    "ext_bpe_apply_report": 7,
    "ext_bpe_fertility_by_lang": 7,
    "ext_bpe_train_merges": 5,
    "ext_power_iteration_direction": 8,
    # the graph family over the shared edge memo (built cold here):
    # PageRank is one lazy plan, k-core stops at its fixpoint
    "ext_degree_assortativity": 10,
    "ext_kcore_peel": 12,
    "ext_pagerank_parts": 17,
    "ext_triangle_count_parts": 14,
    # exact order statistics: the coarse histogram and target buckets are
    # collected while the frame is built (cold process, sf0.001, 4 cores)
    "ext_abc_xyz_matrix": 18,
    "ext_customer_rfm_segments": 26,
    "ext_gains_lift_chart": 30,
    "ext_lorenz_concentration": 19,
    "ext_psi_drift_report": 34,
    "ext_quality_deciles": 8,
    "ext_quality_signal_agreement": 31,
    "ext_spearman_rank_matrix": 42,
    "ext_theil_sen_trend": 17,
    "ext_value_exact_median": 9,
    "ext_weighted_median_price": 9,
    # bounded-replay streaming: micro-batches + sink writes + read-back
    "ext_events_streaming_tumbling": 3,
    "ext_streaming_asof_enrichment": 9,
    "ext_streaming_bloom_membership": 16,
    "ext_streaming_click_attribution": 5,
    "ext_streaming_cms_activity": 11,
    "ext_streaming_dedup_users": 4,
    "ext_streaming_dedup_within_watermark": 7,
    "ext_streaming_enriched_segments": 5,
    "ext_streaming_hdr_quantiles": 15,
    "ext_streaming_hll_sketches": 3,
    "ext_streaming_left_outer_attribution": 7,
    "ext_streaming_merge_totals": 3,
    "ext_streaming_session_windows": 4,
    "ext_streaming_stateful_user_totals": 3,
    # the load lifecycle: an initial load as of a split, then one increment
    "scd2_customer_two_phase": 27,
    "scd2_salesperson_two_phase": 16,
    "scd2_product_two_phase": 17,
    "fact_sales_two_phase": 48,
}


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs(spark, fn) -> int:
    before = _next_job(spark)
    fn()
    return _next_job(spark) - before


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_line_stays_within_job_budget(spark, sf_dir, name):
    before = _next_job(spark)
    df = QUERIES[name](spark, sf_dir)
    built = _next_job(spark)
    df.write.format("noop").mode("overwrite").save()
    jobs = _next_job(spark) - before
    assert jobs <= BUDGETS[name], (
        f"{name}: {built - before} construction + "
        f"{jobs - (built - before)} execution jobs > budget {BUDGETS[name]}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "ext_bpe_apply_report",
        "ext_bpe_fertility_by_lang",
        "ext_bpe_train_merges",
        "ext_bradley_terry_brands",
        "ext_markov_stationary",
        "ext_mmr_diverse_topk",
        "ext_power_iteration_direction",
        "ext_pq_codes",
        "ext_triangle_count_parts",
    ],
)
def test_trained_line_builds_without_jobs_once_trained(spark, sf_dir, name):
    """A line that trains on the driver, or checkpoints an intermediate,
    stages it: once one call has built it, building the frame again (for
    an ``explain()``, say) fires no job."""
    QUERIES[name](spark, sf_dir)
    assert _jobs(spark, lambda: QUERIES[name](spark, sf_dir)) == 0


def test_bookkeeping_job_counts_do_not_depend_on_file_order(spark, tmp_path):
    """The tracker and run log fire one fixed job count per call, whatever
    the sizes of their files: the execution times written (null, or with
    different sub-second parts) change the file sizes, and a read that
    follows file-size order would fire a varying count."""
    store = ParquetStore(str(tmp_path))
    tracker.seed(spark, store)
    first = datetime(2001, 1, 1)
    runlog.append(spark, store, "seed", first, first)  # later appends read a log
    counts: dict[str, set[int]] = {"read_watermark": set(), "advance": set(), "append": set()}
    for rnd in range(3):
        for i, table in enumerate(tracker.TRACKED_TABLES):
            executed = datetime(2001, 1 + i, 1 + rnd, i, rnd, i, (i + 1) * 10**rnd)
            loaded = datetime(1996, 1 + rnd, 1 + i) if (i + rnd) % 2 else None
            counts["read_watermark"].add(
                _jobs(spark, lambda: tracker.read_watermark(spark, store, table))
            )
            counts["advance"].add(
                _jobs(spark, lambda: tracker.advance(spark, store, table, loaded, executed))
            )
            counts["append"].add(
                _jobs(
                    spark,
                    lambda: runlog.append(
                        spark, store, f"etl_load_{table}", executed, executed, rows_inserted=i
                    ),
                )
            )
    assert all(len(c) == 1 for c in counts.values()), counts
    # a load reads the watermark, advances it and appends one run row
    assert sum(min(c) for c in counts.values()) <= 5, counts


def test_load_job_counts_repeat_across_fresh_stores(spark, sf_dir, tmp_path):
    """The initial load and one incremental cycle fire the same job count
    per load on two fresh stores, once a third store has warmed the
    session (staged memos, source reads)."""
    cuts = ["1996-01-01 00:00:00", "1996-02-01 00:00:00"]

    def per_load(name: str) -> list[int]:
        wh = Warehouse(spark, str(tmp_path / name), sf_dir)
        wh.init()
        out = []
        for cut in cuts:
            for key in spec.DIMS:
                out.append(
                    _jobs(spark, lambda: wh.load_dim(key, as_of=cut, now_ts=spec.NOW_FIXED))
                )
            out.append(_jobs(spark, lambda: wh.load_fact(as_of=cut)))
        return out

    per_load("warm")
    assert per_load("a") == per_load("b")
