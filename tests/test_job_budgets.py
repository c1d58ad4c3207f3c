"""Spark-job budgets for the lines whose rounds run over bounded state.

At fixture scale the unit of cost is the Spark job (each shuffle or
broadcast stage under AQE is one driver job), and job counts do not
depend on machine load. A line's count is construction (jobs fired
while `QUERIES[name]` builds the frame) plus execution (a noop write).
Memo hits only lower a count, so each budget is a ceiling; budgets may
only be tightened.
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
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_line_stays_within_job_budget(spark, sf_dir, name):
    tracker = spark.sparkContext.statusTracker()

    def job_ids() -> set[int]:
        return set(tracker.getJobIdsForGroup(None))

    before = job_ids()
    df = QUERIES[name](spark, sf_dir)
    built = job_ids()
    df.write.format("noop").mode("overwrite").save()
    jobs = len(job_ids() - before)
    assert jobs <= BUDGETS[name], (
        f"{name}: {len(built - before)} construction + "
        f"{jobs - len(built - before)} execution jobs > budget {BUDGETS[name]}"
    )
