"""Spark-job budgets for the lines whose rounds run over bounded state,
and for every streaming line.

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

import pytest

from etl_mini_dw_spark.registry import QUERIES

BUDGETS = {
    # driver-exact rounds: one collect of the bounded statistics
    "ext_bradley_terry_brands": 10,
    "ext_markov_stationary": 15,
    "ext_mmr_diverse_topk": 8,
    # integer k-means: one job per literal-argmin training round
    "ext_kmeans_ivf_assign": 7,
    "ext_pq_codes": 8,
    # bounded-replay streaming: micro-batches + sink writes + read-back
    "ext_events_streaming_tumbling": 3,
    "ext_streaming_asof_enrichment": 9,
    "ext_streaming_bloom_membership": 20,
    "ext_streaming_click_attribution": 5,
    "ext_streaming_cms_activity": 15,
    "ext_streaming_dedup_users": 4,
    "ext_streaming_dedup_within_watermark": 7,
    "ext_streaming_enriched_segments": 5,
    "ext_streaming_hdr_quantiles": 19,
    "ext_streaming_hll_sketches": 4,
    "ext_streaming_left_outer_attribution": 7,
    "ext_streaming_merge_totals": 4,
    "ext_streaming_session_windows": 4,
    "ext_streaming_stateful_user_totals": 5,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_line_stays_within_job_budget(spark, sf_dir, name):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    df = QUERIES[name](spark, sf_dir)
    built = int(dag.nextJobId())
    df.write.format("noop").mode("overwrite").save()
    jobs = int(dag.nextJobId()) - before
    assert jobs <= BUDGETS[name], (
        f"{name}: {built - before} construction + "
        f"{jobs - (built - before)} execution jobs > budget {BUDGETS[name]}"
    )
