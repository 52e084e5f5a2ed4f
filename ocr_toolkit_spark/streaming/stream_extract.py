"""Streaming extraction: the same Arrow-batched stage over a file stream.

The reference is strictly batch (SURVEY.md §2.6 — no streaming operators);
this module is the engine's incremental-ingest path: new parquet files
landing under the documents directory are extracted exactly once, with
Spark's checkpointing providing the resume semantics the batch path gets
from the lineage table.

The sink runs `Trigger.AvailableNow`: each start drains everything
currently available and stops — the streaming analog of an idempotent batch
catch-up run, suitable for cron-style incremental processing at scale.

`stream_extract_committed` lands each micro-batch through io.py's
table-commit steps (replay by run_id, uncommitted-dir clear + partition
write, snapshot publish), like every other snapshot-committed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import extract_spans
from ..schema import DOCUMENTS_SCHEMA


def read_documents_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract_committed(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    with_images: bool = True,
    max_files_per_trigger: int | None = None,
    n_buckets: int = 64,
) -> StreamingQuery:
    """Streaming extraction with SNAPSHOT COMMITS: every micro-batch lands
    as one snapshot in the output table's log — the Iceberg streaming-
    ingest shape (each commit = one append snapshot), giving streaming
    output the same time-travel / incremental-read / expiry surface as the
    batch pipeline (io.py).

    Exactly-once across restarts, twice over:

    - the data write partitions by batch_id (FLAT layout — partition_id
      rides as a stored column, schema-identical to the batch pipeline's
      output rows) through io.write_new_partition, so a REPLAYED batch
      (crash before the checkpoint advanced) replaces exactly its own
      directory — never duplicates. Flat-by-batch also means compaction
      preserves the layout: a post-compaction table accepts new batches
      without mixing directory depths (review r5 #1), and each micro-batch
      writes one file per task instead of one per (task, bucket) — fewer,
      larger files;
    - the snapshot log claims the batch id under THIS STREAM's identity
      — the checkpoint's QUERY ID (Spark persists it in
      `<checkpoint>/metadata`; it survives restarts of the same
      checkpoint and is REGENERATED when the checkpoint dir is wiped and
      recreated) — the Iceberg (queryId, epochId) replay key. A replayed
      batch whose snapshot already exists with the same identity is
      skipped (crash was after the commit, before the checkpoint
      advance; the check reads the log's retained HISTORY via
      io.find_run_snapshot, so a later maintenance re-claim such as
      compaction's "replace" cannot make a legitimate replay look
      foreign and wedge the stream — r6c review). A batch id owned by
      any other run id raises: a fresh checkpoint pointed at an existing
      table must fail loudly, not silently skip or clobber committed
      batches — and because the identity is the query id, not the
      checkpoint PATH, a wiped-and-recreated checkpoint at the SAME path
      also fails loudly instead of silently dropping every batch id that
      collides with old history.

    - EMPTY micro-batches commit nothing (r6c review): claiming a batch
      id whose dynamic overwrite wrote zero files would leave a tip>0
      table with no parquet underneath — unreadable until the next
      non-empty batch (the brick mode append_signatures refuses).

    Readers: `io.read_extracted_as_of(spark, out, N,
    partition_col="batch_id")` pins the first N committed batches;
    `read_extracted_changes(..., partition_col="batch_id")` reads just the
    batches an incremental consumer hasn't seen; `expire_snapshots` prunes
    history. The snapshot 'partition' dimension here is the BATCH — the
    streaming analog of the batch pipeline's bucket partitions. Files are
    written with the session's parquet codec (zstd, session.py)."""
    import hashlib
    import json as _json
    import os

    from .. import io as tio
    from ..pipeline import with_partition_id

    def stream_identity() -> str:
        """The checkpoint's query id (stable across restarts, regenerated
        when the checkpoint is wiped). Spark writes `<ckpt>/metadata`
        at query start, so it exists by the first foreachBatch call."""
        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                qid = _json.load(f)["id"]
        except (OSError, KeyError, ValueError):
            # unreachable in practice; fall back to the path so the
            # foreign-owner check still fires rather than crashing here
            qid = os.path.abspath(checkpoint_dir)
        return hashlib.sha256(qid.encode()).hexdigest()[:12]

    extracted = extract_spans(
        read_documents_stream(spark, input_dir, max_files_per_trigger),
        with_images,
    )

    def commit_batch(df: DataFrame, batch_id: int) -> None:
        b = int(batch_id)
        run_id = f"stream-{stream_identity()}-batch-{b}"
        if df.isEmpty():
            return  # never claim a batch id with zero files under it
        # replay check against retained HISTORY, not the tip owner: a
        # maintenance re-claim (compaction "replace") must not make a
        # legitimate crash-window replay look foreign (r6c review)
        if tio.find_run_snapshot(output_dir, run_id):
            return  # replayed batch, already durable in data AND log
        tip = tio.latest_snapshot_id(output_dir)
        owner = (
            tio.partitions_as_of(output_dir, tip).get(str(b)) if tip else None
        )
        if owner == run_id:
            return  # ours (history pruned past the snapshot): a replay
        if owner is not None:
            raise RuntimeError(
                f"batch id {b} of {output_dir} is already committed by "
                f"{owner!r}; this stream (checkpoint {checkpoint_dir}) "
                "would clobber it — a fresh checkpoint must write to a "
                "fresh table"
            )
        # crash-after-data-write, before-commit replay: the first attempt's
        # files exist but no snapshot owns them; debris the flat overwrite
        # would not reach is cleared with the uncommitted batch dir
        # (io.write_new_partition)
        tio.write_new_partition(
            with_partition_id(df, n_buckets).withColumn("batch_id", F.lit(b)),
            output_dir, b, "batch_id",
        )
        tio.snapshot_commit(output_dir, run_id, [b])

    return (
        extracted.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
