"""Structured Streaming extraction: availableNow drain of a documents
directory, exactly-once via checkpoint, output equal to the batch path."""

import os

import pyarrow.parquet as pq

from ocr_toolkit_spark.fixtures import generate_documents, to_arrow


def test_stream_extract_committed_snapshots(spark, tmpdir_path):
    """Streaming ingest with snapshot commits (r4): every micro-batch is
    one snapshot; restarts neither duplicate data nor re-commit snapshots;
    time-travel and incremental reads work over the batch dimension; a
    replayed batch id is skipped (crash-after-commit) or idempotently
    rewritten (crash-before-commit)."""
    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.streaming.stream_extract import (
        stream_extract_committed,
    )

    docs = generate_documents(80, 42)
    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    half = len(docs) // 2
    pq.write_table(to_arrow(docs[:half]), os.path.join(in_dir, "a.parquet"))
    pq.write_table(to_arrow(docs[half:]), os.path.join(in_dir, "b.parquet"))

    out = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    # one file per trigger → one snapshot per file
    q = stream_extract_committed(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(600)

    snaps = tio.snapshots(out)
    assert len(snaps) == 2
    assert all(s["run_id"].startswith("stream-")
               and s["run_id"].endswith(f"batch-{i}")
               for i, s in enumerate(snaps))
    table = spark.read.parquet(out)
    assert table.count() == len(docs)
    assert table.select("doc_id").distinct().count() == len(docs)

    # time travel over the batch dimension: snapshot 1 = first batch only
    at1 = tio.read_extracted_as_of(spark, out, 1, partition_col="batch_id")
    assert 0 < at1.count() < len(docs)
    assert at1.select("batch_id").distinct().collect()[0][0] == 0

    # restart, nothing new: no new snapshots, no duplicates
    q2 = stream_extract_committed(spark, in_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(600)
    assert len(tio.snapshots(out)) == 2
    assert spark.read.parquet(out).count() == len(docs)

    # new file lands → exactly one more snapshot, incremental read sees
    # only the new batch
    extra = [(f"extra-{i}", [{"kind": "text", "text": f"new doc {i}",
                              "media_ref": "", "offset": 0}])
             for i in range(5)]
    pq.write_table(to_arrow(extra), os.path.join(in_dir, "c.parquet"))
    q3 = stream_extract_committed(spark, in_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q3.awaitTermination(600)
    assert len(tio.snapshots(out)) == 3
    inc = tio.read_extracted_changes(spark, out, 2, 3,
                                     partition_col="batch_id")
    assert inc.count() == 5
    assert inc.filter("doc_id like 'extra-%'").count() == 5
    final = spark.read.parquet(out)
    assert final.count() == len(docs) + 5
    assert final.select("doc_id").distinct().count() == len(docs) + 5

    # stream-identity guard: a FRESH checkpoint pointed at this table
    # restarts batch ids at 0, which a different identity already owns —
    # the sink must fail loudly instead of silently skipping or
    # clobbering committed batches
    before = spark.read.parquet(out).count()
    tip = tio.latest_snapshot_id(out)
    assert str(0) in tio.partitions_as_of(out, tip)  # batch 0 committed
    ckpt2 = os.path.join(tmpdir_path, "ckpt2")
    q4 = stream_extract_committed(spark, in_dir, out, ckpt2,
                                  max_files_per_trigger=None)
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="already committed"):
        q4.awaitTermination(600)
    assert len(tio.snapshots(out)) == 3  # nothing re-committed
    assert spark.read.parquet(out).count() == before


def test_streaming_table_compact_and_report(spark, tmpdir_path):
    """Maintenance surface on the STREAMING table: flat batch_id layout,
    table_report/compaction/auto-detect work on it, a replayed uncommitted
    batch drops its first attempt's debris, compaction is a 'replace'
    snapshot (invisible to incremental consumers), and — the review-r5 #1
    regression — a NEW batch after compaction keeps the table readable."""
    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.streaming.stream_extract import (
        stream_extract_committed,
    )

    docs = generate_documents(60, 7)
    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    half = len(docs) // 2
    pq.write_table(to_arrow(docs[:half]), os.path.join(in_dir, "a.parquet"))
    pq.write_table(to_arrow(docs[half:]), os.path.join(in_dir, "b.parquet"))

    out = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")

    # crash-before-commit simulation: batch 0's first attempt left debris
    # in a sub-dir the flat retry would never overwrite — the sink must
    # rmtree the uncommitted batch dir first
    stale = os.path.join(out, "batch_id=0", "partition_id=999")
    os.makedirs(stale)
    with open(os.path.join(stale, "stale.parquet"), "w") as f:
        f.write("not parquet")

    q = stream_extract_committed(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1, n_buckets=4)
    q.awaitTermination(600)
    assert not os.path.exists(stale)  # first attempt's files dropped

    assert tio.detect_partition_col(out) == "batch_id"
    rep = tio.table_report(out)
    assert rep["partitions"] == 2
    assert rep["total_files"] > 0 and rep["total_bytes"] > 0

    before = sorted(
        (r["doc_id"], r["n_spans"], r["batch_id"], r["partition_id"])
        for r in spark.read.parquet(out)
        .select("doc_id", "n_spans", "batch_id", "partition_id").collect())

    res = tio.compact_extracted(spark, out, run_id="compact-s")
    assert res["partition_col"] == "batch_id"
    assert res["files_after"] == res["partitions"] == 2
    assert res["files_before"] >= res["files_after"]
    tip_after_compact = tio.latest_snapshot_id(out)

    # compaction is operation=replace: incremental consumers see NOTHING
    assert tio.changed_partitions_between(
        out, tip_after_compact - 1, tip_after_compact) == {}
    assert tio.read_extracted_changes(
        spark, out, tip_after_compact - 1, tip_after_compact,
        partition_col="batch_id").count() == 0
    # ...but ownership folds include the rewrite
    owners = tio.partitions_as_of(out, tip_after_compact)
    assert set(owners.values()) == {"compact-s"}

    after = sorted(
        (r["doc_id"], r["n_spans"], r["batch_id"], r["partition_id"])
        for r in spark.read.parquet(out)
        .select("doc_id", "n_spans", "batch_id", "partition_id").collect())
    assert after == before  # rows identical; partition_id stays a column
    # time travel over the batch dimension still works post-compaction
    at1 = tio.read_extracted_as_of(spark, out, 1, partition_col="batch_id")
    assert at1.count() == len(docs) // 2

    # THE regression: a NEW batch lands after compaction — layout stays
    # flat, the table stays readable, incremental read sees only the new
    # batch
    extra = [(f"post-{i}", [{"kind": "text", "text": f"post doc {i}",
                             "media_ref": "", "offset": 0}])
             for i in range(5)]
    pq.write_table(to_arrow(extra), os.path.join(in_dir, "c.parquet"))
    q2 = stream_extract_committed(spark, in_dir, out, ckpt,
                                  max_files_per_trigger=1, n_buckets=4)
    q2.awaitTermination(600)
    table = spark.read.parquet(out)
    assert table.count() == len(docs) + 5
    tip = tio.latest_snapshot_id(out)
    inc = tio.read_extracted_changes(spark, out, tip_after_compact, tip,
                                     partition_col="batch_id")
    assert inc.count() == 5
    assert inc.filter("doc_id like 'post-%'").count() == 5


def test_committed_sink_r6c_guards(spark, tmpdir_path):
    """r6c review fixes, pinned: (1) a wiped-and-recreated checkpoint at
    the SAME path fails loudly on the colliding batch id instead of
    silently skipping it (identity = checkpoint QUERY id, not path);
    (2) a replay after table compaction is recognized through log
    HISTORY (the tip owner is compaction's re-claim) — equivalently, a
    manually planted snapshot under this stream's identity makes the
    batch skip, not error; (3) an empty micro-batch commits no snapshot,
    so the table never has a tip with zero files."""
    import json

    import pyarrow as pa
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.streaming.stream_extract import (
        stream_extract_committed,
    )

    docs = generate_documents(60, 7)
    in_dir = os.path.join(tmpdir_path, "in")
    os.makedirs(in_dir)
    pq.write_table(to_arrow(docs), os.path.join(in_dir, "a.parquet"))
    out = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    q = stream_extract_committed(spark, in_dir, out, ckpt)
    q.awaitTermination(600)
    assert tio.latest_snapshot_id(out) == 1
    n0 = spark.read.parquet(out).count()

    # (3) an EMPTY new input file → batch drains, nothing committed,
    # table still readable with the same rows
    empty = to_arrow(docs[:1]).slice(0, 0)
    assert isinstance(empty, pa.Table) and empty.num_rows == 0
    pq.write_table(empty, os.path.join(in_dir, "empty.parquet"))
    q2 = stream_extract_committed(spark, in_dir, out, ckpt)
    q2.awaitTermination(600)
    assert tio.latest_snapshot_id(out) == 1
    assert spark.read.parquet(out).count() == n0

    # (2) replay-through-history: compact the table (re-claims batch 0
    # under a "replace" run), then plant batch 1's snapshot under THIS
    # stream's identity — the restarted stream must SKIP it (crash was
    # after the commit), never error on the foreign tip owner and never
    # double-commit
    import hashlib

    tio.compact_extracted(spark, out, "compact-x", partition_col="batch_id")
    with open(os.path.join(ckpt, "metadata")) as f:
        qid = json.load(f)["id"]
    sid = hashlib.sha256(qid.encode()).hexdigest()[:12]
    # the next batch id comes from the CHECKPOINT's offsets log, not the
    # table: the skipped empty batch consumed an id without committing
    nxt = 1 + max(
        int(n) for n in os.listdir(os.path.join(ckpt, "offsets"))
        if n.isdigit()
    )
    # the plant needs the batch's data on disk too (commit follows write)
    spark.read.parquet(out).limit(3).withColumn(
        "batch_id", F.lit(nxt)
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(out)
    tio.snapshot_commit(out, f"stream-{sid}-batch-{nxt}", [nxt])
    tip_before = tio.latest_snapshot_id(out)
    rows_before = spark.read.parquet(out).count()
    extra = [(f"x-{i}", [{"kind": "text", "text": f"d {i}",
                          "media_ref": "", "offset": 0}]) for i in range(4)]
    pq.write_table(to_arrow(extra), os.path.join(in_dir, "b.parquet"))
    q3 = stream_extract_committed(spark, in_dir, out, ckpt)
    q3.awaitTermination(600)  # batch 1 replays → skip, no error
    assert tio.latest_snapshot_id(out) == tip_before
    assert spark.read.parquet(out).count() == rows_before

    # (1) wiped-and-recreated checkpoint, same path: batch ids restart at
    # 0, which old history owns under the OLD query id → loud failure,
    # nothing skipped or clobbered
    import shutil

    shutil.rmtree(ckpt)
    pq.write_table(to_arrow(docs), os.path.join(in_dir, "c.parquet"))
    q4 = stream_extract_committed(spark, in_dir, out, ckpt)
    with pytest.raises(StreamingQueryException, match="already committed"):
        q4.awaitTermination(600)
    assert tio.latest_snapshot_id(out) == tip_before
