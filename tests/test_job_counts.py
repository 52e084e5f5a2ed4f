"""Job budget of the dedup and ANN driver entries: each entry's Spark job
count at sf0.01 must not rise above the checked-in figure. Every job is one
stage (AQE submits each query stage as its own job), so at this scale jobs,
not compute, are the cost; a new barrier, probe or second pass shows up
here as a higher count. Counts are read per job group through
`statusTracker`, as in test_kernel_sizing.py, over the entry's call and the
driver's `toPandas()` collect. When a change lowers a count, lower its
figure here with it. The collected rows must also pass the entries' own
proofs: every self-validating column that an entry emits holds."""

import pytest

SF_DIR = "/root/testdata/sf0.01"

# measured on local[8] (the test session's master)
JOBS_AT_SF001 = {
    "minhash_dedup": 21,
    "simhash_dedup": 13,
    "embedding_near_dups": 21,
    "delta_dedup": 76,
    "delta_embedding_dedup": 68,
    "ivf_index_delta": 47,
    "near_dup_components": 21,
}

# the self-validating columns and the value each must hold
PROOFS = {
    "pair_sym_diff": lambda v: v == 0,
    "keep_sym_diff": lambda v: v == 0,
    "meets_threshold": bool,
    "within_cutoff": bool,
    "slice_recall_ok": bool,
    "delta_meets_floor": bool,
    "recall_parity_ok": bool,
}


@pytest.mark.parametrize("name", sorted(JOBS_AT_SF001))
def test_entry_job_count_does_not_rise(spark, name):
    import __spark_entry__ as em

    sc = spark.sparkContext
    group = f"test-job-count-{name}"
    sc.setJobGroup(group, name)
    try:
        rows = em.queries()[name](spark, SF_DIR).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOBS_AT_SF001[name], (
        f"{name} ran {jobs} jobs; budget {JOBS_AT_SF001[name]}")
    for col, holds in PROOFS.items():
        if col in rows:
            assert rows[col].map(holds).all(), (name, col, list(rows[col]))
