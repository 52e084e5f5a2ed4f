"""The extraction kernel writes its own partition files
(operators/extract.write_partition_files) and the driver publishes them
from the returned manifest (io.publish_partition_files). The rows, layout
and read schema equal Spark's dynamic-overwrite writer's; only manifest
files are ever published; the staging directory never outlives a run; a
crash before the snapshot is repaired by the next run; lineage written by
either writer reads back as one table."""

import os

import pytest

from pyspark.sql import functions as F

from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark import pipeline
from ocr_toolkit_spark.fixtures import write_corpus
from ocr_toolkit_spark.operators.extract import extract_spans
from ocr_toolkit_spark.pipeline import (
    kernel_input,
    run_extraction,
    with_partition_id,
)
from ocr_toolkit_spark.schema import LINEAGE_SCHEMA

ROW_COLS = ["doc_id", "out_spans", "success", "error", "method", "n_spans",
            "n_chars"]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("writer") / "docs.parquet")
    # the salted oversized slice and the hostile slices are both in it
    write_corpus(p, n_docs=300, seed=42)
    return p


def _by_partition_dir(spark, table):
    """{`partition_id=N` directory: sorted rows read from that directory
    alone}."""
    dirs = sorted(n for n in os.listdir(table) if n.startswith("partition_id="))
    return {
        d: sorted(spark.read.parquet(os.path.join(table, d))
                  .select(*ROW_COLS).collect())
        for d in dirs
    }


def _staging_dirs(table):
    return [n for n in os.listdir(table) if n.startswith(tio.STAGING_PREFIX)]


def test_rows_layout_and_schema_equal_the_spark_writer(spark, corpus,
                                                       tmpdir_path):
    new = os.path.join(tmpdir_path, "new")
    old = os.path.join(tmpdir_path, "old")
    stats = run_extraction(spark, corpus, new,
                           os.path.join(tmpdir_path, "lineage"), run_id="r")
    docs = with_partition_id(tio.read_documents(spark, corpus))
    tio.write_extracted(
        with_partition_id(extract_spans(kernel_input(docs))), old)

    got, want = _by_partition_dir(spark, new), _by_partition_dir(spark, old)
    assert got.keys() == want.keys()
    assert got == want
    assert sum(len(v) for v in got.values()) == 300
    assert stats.failure_count > 0  # the hostile docs are error rows
    assert any(r["n_spans"] > 500 for v in got.values() for r in v), \
        "the salted oversized docs must be in the comparison"
    assert (tio.read_extracted(spark, new).schema
            == tio.read_extracted(spark, old).schema)


def test_unlisted_staged_file_is_never_published(spark, corpus, tmpdir_path,
                                                 monkeypatch):
    """A staged file the manifest does not list, standing in for a failed
    task attempt's, stays out of every partition directory."""
    out = os.path.join(tmpdir_path, "out")
    real = pipeline.write_partition_files
    stray = "part-00000-999999-0.parquet"

    def with_stray(df, staging, *args):
        with open(os.path.join(staging, stray), "wb") as f:
            f.write(b"a failed attempt's bytes")
        return real(df, staging, *args)

    monkeypatch.setattr(pipeline, "write_partition_files", with_stray)
    stats = run_extraction(spark, corpus, out,
                           os.path.join(tmpdir_path, "lineage"), run_id="r")
    published = [f for _, _, files in os.walk(out) for f in files]
    assert stray not in published
    assert _staging_dirs(out) == []
    assert tio.read_extracted(spark, out).count() == stats.doc_count == 300


def test_staging_dir_is_removed_when_the_job_raises(spark, corpus,
                                                    tmpdir_path, monkeypatch):
    out = os.path.join(tmpdir_path, "out")
    real = pipeline.write_partition_files
    seen = []

    def failing(df, staging, *args):
        seen.append(staging)
        # the files are written, then the job fails on the manifest rows
        return real(df, staging, *args).withColumn(
            "file", F.raise_error(F.lit("writer job failed")))

    monkeypatch.setattr(pipeline, "write_partition_files", failing)
    with pytest.raises(Exception, match="writer job failed"):
        run_extraction(spark, corpus, out,
                       os.path.join(tmpdir_path, "lineage"), run_id="r")
    assert seen and not os.path.exists(seen[0])
    assert os.listdir(out) == []  # nothing published, no snapshot


def test_crash_between_publish_and_snapshot_is_replaced(spark, corpus,
                                                        tmpdir_path,
                                                        monkeypatch):
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")

    def crash(*args, **kwargs):
        raise RuntimeError("driver died before the snapshot")

    monkeypatch.setattr(tio, "snapshot_commit", crash)
    with pytest.raises(RuntimeError, match="driver died"):
        run_extraction(spark, corpus, out, lineage, run_id="crashed")
    monkeypatch.undo()
    first = {f for _, _, files in os.walk(out) for f in files}
    assert first and tio.latest_snapshot_id(out) == 0
    assert not os.path.exists(lineage)

    stats = run_extraction(spark, corpus, out, lineage, run_id="rerun")
    assert stats.partitions_skipped == 0
    ids = [r["doc_id"] for r in
           tio.read_extracted(spark, out).select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == 300
    assert not first & {f for _, _, files in os.walk(out) for f in files}


def test_lineage_of_both_writers_reads_as_one_table(spark, corpus,
                                                    tmpdir_path):
    """A lineage directory holding a Spark-written file (the format before
    the driver wrote lineage) and a driver-written one reads back with
    LINEAGE_SCHEMA, and resume skips both runs' partitions."""
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    early = docs.filter(F.col("partition_id") < 32)
    tio.write_extracted(
        with_partition_id(extract_spans(early.select("doc_id", "spans")), 64),
        out)
    counts = {
        r["partition_id"]: r["n"]
        for r in early.groupBy("partition_id")
        .agg(F.count("*").alias("n")).collect()
    }
    spark_rows = [("spark-run", p, n, None, None, None)
                  for p, n in counts.items() if p < 16]
    # the earlier format: Spark's append of rows stamped in the JVM
    spark.createDataFrame(
        spark_rows,
        "run_id string, partition_id int, doc_count long, span_count long, "
        "byte_count long, failure_count long",
    ).withColumn("committed_at", F.current_timestamp()) \
        .write.mode("append").parquet(lineage)
    driver_rows = [("driver-run", p, n, None, None, None)
                   for p, n in counts.items() if p >= 16]
    tio.append_lineage(driver_rows, lineage)

    lin = tio.read_lineage(spark, lineage)
    # a file source reads every column as nullable, whichever writer wrote it
    assert ([(f.name, f.dataType) for f in lin.schema]
            == [(f.name, f.dataType) for f in LINEAGE_SCHEMA])
    got = sorted(tuple(r)[:6] for r in lin.collect())
    assert got == sorted(spark_rows + driver_rows)
    assert all(r["committed_at"] is not None for r in lin.collect())

    stats = run_extraction(spark, corpus, out, lineage, run_id="resume")
    assert stats.partitions_skipped == len(counts)
    assert stats.doc_count == 300 - sum(counts.values())
    ids = [r["doc_id"] for r in
           tio.read_extracted(spark, out).select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == 300
