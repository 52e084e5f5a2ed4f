"""Job budget of the dedup and ANN driver entries: each entry's Spark job
count at sf0.01 must not rise above the checked-in figure. Every job is one
stage (AQE submits each query stage as its own job), so at this scale jobs,
not compute, are the cost; a new barrier, probe or second pass shows up
here as a higher count. Counts are read per job group through
`statusTracker`, as in test_kernel_sizing.py, over the entry's call and the
driver's `toPandas()` collect. When a change lowers a count, lower its
figure here with it."""

import pytest

SF_DIR = "/root/testdata/sf0.01"

# measured on local[8] (the test session's master)
JOBS_AT_SF001 = {
    "minhash_dedup": 21,
    "simhash_dedup": 13,
    "embedding_near_dups": 21,
    "delta_dedup": 109,
    "delta_embedding_dedup": 74,
    "ivf_index_delta": 53,
    "near_dup_components": 22,
}


@pytest.mark.parametrize("name", sorted(JOBS_AT_SF001))
def test_entry_job_count_does_not_rise(spark, name):
    import __spark_entry__ as em

    sc = spark.sparkContext
    group = f"test-job-count-{name}"
    sc.setJobGroup(group, name)
    try:
        em.queries()[name](spark, SF_DIR).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOBS_AT_SF001[name], (
        f"{name} ran {jobs} jobs; budget {JOBS_AT_SF001[name]}")
