"""The extraction kernel's Python stage is sized to the data by AQE, not
to `spark.sql.shuffle.partitions`: each Python task has a fixed start-up
cost, so a small run must not fan out into one task per shuffle partition.
Pinning the count (`parallelism=`) must not change what is written."""

import os

import pytest

from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark.fixtures import write_corpus
from ocr_toolkit_spark.pipeline import run_extraction

SHUFFLE_PARTITIONS = 32
EXTRACTED_COLS = ["doc_id", "out_spans", "success", "error", "method",
                  "n_spans", "n_chars"]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("sizing") / "docs.parquet")
    write_corpus(p, n_docs=300, seed=42)  # includes the salted skew slice
    return p


def _run(spark, corpus, root, **kwargs):
    out, lineage = os.path.join(root, "out"), os.path.join(root, "lineage")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
    try:
        run_extraction(spark, corpus, out, lineage, run_id="sizing", **kwargs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out, lineage


def _stage_task_counts(sc, group: str) -> list[int]:
    """Tasks run by each stage of the group's jobs (skipped stages run 0)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }
    return [tracker.getStageInfo(sid).numCompletedTasks for sid in stages]


def test_kernel_stage_is_sized_to_the_data(spark, corpus, tmpdir_path):
    sc = spark.sparkContext
    group = "test-kernel-sizing"
    sc.setJobGroup(group, "run_extraction, AQE-sized kernel stage")
    try:
        _run(spark, corpus, tmpdir_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counts = _stage_task_counts(sc, group)
    assert counts, "no stages recorded for the job group"
    # the kernel stage is the widest stage of the run; a pinned
    # repartition(shuffle.partitions) would run SHUFFLE_PARTITIONS tasks
    assert SHUFFLE_PARTITIONS > 2 * sc.defaultParallelism
    assert max(counts) <= 2 * sc.defaultParallelism, counts


def test_pinned_parallelism_writes_the_same_rows(spark, corpus, tmpdir_path):
    def rows(root, **kwargs):
        out, lineage = _run(spark, corpus, os.path.join(tmpdir_path, root), **kwargs)
        extracted = (tio.read_extracted(spark, out).select(*EXTRACTED_COLS)
                     .orderBy("doc_id").collect())
        lin = sorted(tio.read_lineage(spark, lineage).drop("committed_at").collect())
        return extracted, lin

    sized, sized_lin = rows("sized")
    pinned, pinned_lin = rows("pinned", parallelism=SHUFFLE_PARTITIONS)
    assert len(sized) == 300
    assert sized == pinned
    assert sized_lin == pinned_lin
