"""Thin spark-submit entrypoint for the extraction pipeline.

Usage:
    spark-submit --py-files <(zip of ocr_toolkit_spark) job.py \
        --input /path/documents.parquet --output /path/out \
        --lineage /path/lineage --run-id run-001 [--no-images] \
        [--buckets 64] [--salt-threshold 500]

Distributed replacement for the reference `ocr-convert` CLI
(`ocr_toolkit/cli/convert.py`). Prints a one-line JSON result; its `report`
is pipeline.run_report over the output table: the conversion summary
(success rate, per-doc time, failure top-k) and the per-method counts (the
analog of the reference's ProcessingStats report, stats.py:28-85).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid


def list_formats() -> None:
    """--list-formats analog (reference cli/convert.py:152-179): the engine
    dispatches on span KINDS, not file extensions — print the dispatch
    table from the frozen spec (docs/SPANS.md §1)."""
    from ocr_toolkit_spark.operators.extract import KNOWN_KINDS

    print("Supported input span kinds:")
    print("===========================")
    print(f"  {', '.join(KNOWN_KINDS)}")
    print("\nFormat dispatch (first matching rule wins — SPANS.md §1):")
    for rule, fmt in [
        ("spans NULL or empty", "error"),
        ("any kind='html'", "html"),
        ("any kind='table_row'", "sheet"),
        ("any kind='page_break'", "paged"),
        ("any kind='bytes'", "bytes_text (UTF-8 → GBK fallback)"),
        ("first text matches '^#{1,6} '", "markdown"),
        ("any known kind", "text"),
        ("only unknown kinds", "error"),
    ]:
        print(f"  {rule:38s} → {fmt}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ocr_toolkit_spark extraction job")
    p.add_argument("--list-formats", action="store_true",
                   help="list supported span kinds + dispatch rules and exit")
    p.add_argument("--list-snapshots", metavar="TABLE_PATH",
                   help="print the output table's snapshot log "
                        "(id, run, partitions, commit time) and exit")
    p.add_argument("--expire-snapshots", nargs=2,
                   metavar=("TABLE_PATH", "KEEP_LAST"),
                   help="drop snapshot history older than the last "
                        "KEEP_LAST snapshots (checkpoint-safe; expired "
                        "ids become unreadable, like Iceberg "
                        "expireSnapshots) and exit")
    p.add_argument("--compact", metavar="TABLE_PATH",
                   help="rewrite every committed partition to one file "
                        "each (Iceberg rewriteDataFiles analog; row "
                        "content unchanged, new snapshot appended) and "
                        "exit")
    p.add_argument("--table-report", metavar="TABLE_PATH",
                   help="print per-partition file/byte layout + snapshot "
                        "depth and exit (no Spark job)")
    p.add_argument("--merge-state", metavar="STATE_PATH",
                   help="collapse a dedup signature state's committed "
                        "ingest partitions into one (delta-round pair "
                        "sets unchanged; the partition-count answer "
                        "--compact does not give) and exit")
    p.add_argument("--compact-index", metavar="INDEX_PATH",
                   help="merge an IVF index's committed ingest partitions "
                        "into one, preserving the nested cell= probe-"
                        "pruning layout (the index-aware rewrite that "
                        "--compact refuses to attempt) and exit")
    p.add_argument("--sweep-orphans", metavar="TABLE_PATH",
                   help="delete partition dirs on disk but absent from "
                        "the snapshot log (debris of a writer that died "
                        "before its commit; Iceberg removeOrphanFiles "
                        "analog) and exit — only dirs older than "
                        "--orphan-age-s, so an in-flight append is never "
                        "raced (no Spark job)")
    p.add_argument("--orphan-age-s", type=float, default=72 * 3600,
                   help="minimum age (newest mtime, seconds) before "
                        "--sweep-orphans may delete a partition "
                        "(default 72h, the Iceberg default)")
    p.add_argument("--read-changes", nargs=3,
                   metavar=("TABLE_PATH", "FROM_SNAPSHOT", "TO_SNAPSHOT"),
                   help="incremental consumer: count rows of partitions "
                        "committed in (FROM, TO] — the Iceberg "
                        "incremental-scan analog; partition column is "
                        "auto-detected (partition_id for batch tables, "
                        "batch_id for streaming tables); exits after "
                        "printing one JSON line")
    p.add_argument("--dedup-delta", nargs=4,
                   metavar=("TABLE_PATH", "STATE_PATH", "FROM_SNAPSHOT",
                            "TO_SNAPSHOT"),
                   help="incremental near-dedup round: render the docs of "
                        "partitions committed in (FROM, TO], compute their "
                        "MinHash signatures only, find candidates against "
                        "the persisted signature state (broadcast semi-"
                        "join, state never shuffled), Jaccard-verify, "
                        "append this round's signatures to STATE_PATH, "
                        "print one JSON line with the verified pair count; "
                        "cost tracks the delta, not the table. Retrying "
                        "the same (FROM, TO] interval is safe: the state "
                        "append is idempotent on the interval")
    p.add_argument("--dedup-delta-embed", nargs=3,
                   metavar=("DELTA_PARQUET", "CORPUS_PARQUET",
                            "STATE_PATH"),
                   help="incremental EMBEDDING near-dedup round (r6c): "
                        "SRP-bucket the delta vectors only, find "
                        "candidates against the persisted bucket state "
                        "(broadcast semi-join, state never shuffled), "
                        "exact-cosine-verify against CORPUS_PARQUET (the "
                        "old+new union; only candidate vectors are read), "
                        "append this round's buckets to STATE_PATH, print "
                        "one JSON line with the verified pair count. "
                        "run_id derives from the delta file set, so "
                        "retrying the same delta is idempotent. Expects "
                        "(vec_id, embedding) columns; tune with "
                        "--embed-threshold/--embed-bits")
    p.add_argument("--embed-threshold", type=float, default=0.9,
                   help="cosine threshold for --dedup-delta-embed "
                        "(default 0.9; pinned in the state meta)")
    p.add_argument("--embed-bits", type=int, default=12,
                   help="SRP bits per table for --dedup-delta-embed "
                        "(default 12; pinned in the state meta)")
    p.add_argument("--state-gc", nargs=3,
                   metavar=("STATE_PATH", "TOMBSTONES_PARQUET",
                            "CORPUS_PARQUET"),
                   help="signature-state GC: drop tombstoned docs' bands "
                        "from the dedup state (partition-level rewrite, "
                        "operation=delete snapshot) and print the "
                        "Jaccard-verified repair pairs that re-point "
                        "star-capped buckets whose min-id rep was "
                        "tombstoned. TOMBSTONES_PARQUET: one id column; "
                        "CORPUS_PARQUET: the live (doc_id, text) corpus")
    p.add_argument("--dedup-k", type=int, default=5,
                   help="shingle width for --dedup-delta (must match the "
                        "state's pinned config)")
    p.add_argument("--dedup-hashes", type=int, default=32,
                   help="MinHash count for --dedup-delta")
    p.add_argument("--dedup-bands", type=int, default=8,
                   help="LSH bands for --dedup-delta")
    p.add_argument("--dedup-threshold", type=float, default=0.5,
                   help="Jaccard verify threshold for --dedup-delta")
    p.add_argument("--dedup-max-bucket", type=int, default=256,
                   help="star-cap bucket bound for --dedup-delta")
    p.add_argument("--input", help="documents parquet path")
    p.add_argument("--output", help="extracted output path")
    p.add_argument("--lineage", help="lineage table path")
    p.add_argument("--run-id", default=None)
    p.add_argument("--no-images", action="store_true", help="strip image spans")
    p.add_argument("--pages", default=None,
                   help='page selection for paged docs, e.g. "1-5,10" '
                        "(reference --pages semantics)")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--salt-threshold", type=int, default=500)
    p.add_argument("--doc-budget-ms", type=float, default=None,
                   help="per-document time budget for the per-doc Python "
                        "kernels (html/sheet/bytes). Cooperative "
                        "preemption: the HTML token loop and the sheet "
                        "split/format/assembly loops check the deadline "
                        "mid-parse, so a pathological doc aborts at "
                        "~budget and becomes an error row — in-process "
                        "parity with the reference's per-file timeout "
                        "(cli/benchmark.py:45); the per-span bytes-decode "
                        "loop checks between spans")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    if args.list_formats:
        list_formats()
        return 0
    if args.list_snapshots:
        from ocr_toolkit_spark import io as tio

        snaps = tio.snapshots(args.list_snapshots)
        if not snaps:
            print(f"no snapshots under {args.list_snapshots}")
            return 1
        for s in snaps:
            print(json.dumps({
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "run_id": s["run_id"],
                "committed_ms": s["committed_ms"],
                "n_partitions": len(s["partitions"]),
            }))
        return 0
    if args.expire_snapshots:
        from ocr_toolkit_spark import io as tio

        table, keep = args.expire_snapshots
        expired = tio.expire_snapshots(table, int(keep))
        print(json.dumps({"expired": expired,
                          "tip": tio.latest_snapshot_id(table)}))
        return 0
    if args.table_report:
        from ocr_toolkit_spark import io as tio

        rep = tio.table_report(args.table_report)
        rep.pop("by_partition")  # totals only on the CLI
        print(json.dumps(rep))
        return 0
    if args.sweep_orphans:
        from ocr_toolkit_spark import io as tio

        swept = tio.sweep_orphan_partitions(
            args.sweep_orphans, older_than_s=args.orphan_age_s
        )
        print(json.dumps({"swept": swept,
                          "tip": tio.latest_snapshot_id(args.sweep_orphans)}))
        return 0
    if args.compact_index:
        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.operators.ivf_index import compact_ivf_index
        from ocr_toolkit_spark.session import get_spark

        spark = get_spark(app_name="ocr-compact-index", master=args.master)
        # deterministic run_id from the pre-compaction tip: a retry after
        # a CRASH (tip unchanged) replays through the log instead of
        # appending a second merged partition; a rerun after SUCCESS hits
        # the already-compact noop inside compact_ivf_index
        tip = tio.latest_snapshot_id(args.compact_index)
        res = compact_ivf_index(
            spark, args.compact_index,
            run_id=f"compact-index-snap{tip}")
        print(json.dumps(res))
        spark.stop()
        return 0
    if args.merge_state:
        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.operators.incremental import (
            merge_signature_state,
        )
        from ocr_toolkit_spark.session import get_spark

        spark = get_spark(app_name="ocr-merge-state", master=args.master)
        # deterministic run_id from the pre-merge tip: a retry after a
        # CRASH (tip unchanged) replays through the log instead of
        # appending a second merged partition; a rerun after SUCCESS
        # hits the single-owner noop inside merge_signature_state
        tip = tio.latest_snapshot_id(args.merge_state)
        res = merge_signature_state(
            spark, args.merge_state,
            run_id=f"merge-state-snap{tip}")
        print(json.dumps(res))
        spark.stop()
        return 0
    if args.read_changes:
        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.session import get_spark

        table, lo, hi = args.read_changes
        spark = get_spark(app_name="ocr-read-changes", master=args.master)
        col = tio.detect_partition_col(table)
        df = tio.read_extracted_changes(spark, table, int(lo), int(hi),
                                        partition_col=col)
        changed = sorted(
            r[0] for r in df.select(col).distinct().collect()
        )
        print(json.dumps({"from": int(lo), "to": int(hi),
                          "partition_col": col,
                          "changed_partitions": changed,
                          "rows": df.count()}))
        spark.stop()
        return 0
    if args.dedup_delta:
        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.operators.incremental import (
            dedup_extracted_changes,
        )
        from ocr_toolkit_spark.session import get_spark

        table, state, lo, hi = args.dedup_delta
        spark = get_spark(app_name="ocr-dedup-delta", master=args.master)
        col = tio.detect_partition_col(table)
        # deterministic run_id per consumed interval: a retry of a round
        # whose commit landed appends nothing (append_signatures is
        # idempotent on run_id) instead of doubling the state
        pairs = dedup_extracted_changes(
            spark, table, state, int(lo), int(hi),
            run_id=f"dedup-delta-{int(lo)}-{int(hi)}", partition_col=col,
            k=args.dedup_k, n_hashes=args.dedup_hashes,
            bands=args.dedup_bands, threshold=args.dedup_threshold,
            max_bucket=args.dedup_max_bucket,
        )
        from pyspark.sql import functions as F

        agg = pairs.agg(
            F.count("*").alias("pairs"),
            F.round(F.coalesce(F.min("jaccard"), F.lit(1.0)), 4).alias(
                "min_jaccard"),
        ).collect()[0]
        print(json.dumps({"from": int(lo), "to": int(hi),
                          "partition_col": col,
                          "pairs": agg["pairs"],
                          "min_jaccard": agg["min_jaccard"],
                          # dense snapshot ids: the tip IS the commit
                          # count, valid even after expiry pruned history
                          "state_commits": tio.latest_snapshot_id(state)}))
        spark.stop()
        return 0
    if args.dedup_delta_embed:
        import hashlib
        import os

        from pyspark.sql import functions as F

        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.operators.incremental import (
            incremental_embedding_round,
        )
        from ocr_toolkit_spark.session import get_spark

        delta_path, corpus_path, state = args.dedup_delta_embed
        # deterministic run_id from the delta FILE SET (names + sizes):
        # a retry of the same delta replays through the state log instead
        # of doubling the buckets — the --dedup-delta interval discipline,
        # keyed on what an external vector drop actually has
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(delta_path)) or [
            (os.path.dirname(delta_path), None, [os.path.basename(delta_path)])
        ]:
            for f in sorted(files):
                fp = os.path.join(root, f)
                # r7 (ADVICE r6): key on path relative to the delta root +
                # size + mtime, not basename+size alone — a re-drop of
                # corrected vectors in same-named same-size files (likely
                # for fixed-width embedding parquet) must be a NEW ingest,
                # not a silent replay.
                rel = os.path.relpath(fp, delta_path)
                st = os.stat(fp)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
        run_id = f"embed-delta-{h.hexdigest()[:16]}"

        spark = get_spark(app_name="ocr-dedup-delta-embed",
                          master=args.master)
        delta = spark.read.parquet(delta_path)
        corpus = spark.read.parquet(corpus_path)
        head = delta.select("embedding").first()
        if head is None or head[0] is None:
            # r7 (ADVICE r6): an empty delta drop used to die in len(None);
            # mirror incremental_embedding_round's graceful empty-round
            # path — zero pairs, NO state commit.
            print(json.dumps({"run_id": run_id, "pairs": 0,
                              "min_sim": 1.0,
                              "state_commits": tio.latest_snapshot_id(state)}))
            spark.stop()
            return 0
        dim = len(head[0])
        pairs = incremental_embedding_round(
            spark, delta, corpus, state, run_id, dim=dim,
            threshold=args.embed_threshold, n_bits=args.embed_bits,
        )
        agg = pairs.agg(
            F.count("*").alias("pairs"),
            F.round(F.coalesce(F.min("sim"), F.lit(1.0)), 4).alias(
                "min_sim"),
        ).collect()[0]
        print(json.dumps({"run_id": run_id,
                          "pairs": agg["pairs"],
                          "min_sim": agg["min_sim"],
                          "state_commits": tio.latest_snapshot_id(state)}))
        spark.stop()
        return 0
    if args.state_gc:
        from pyspark.sql import functions as F

        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.operators.incremental import (
            gc_signature_state,
        )
        from ocr_toolkit_spark.session import get_spark

        state, tomb_path, corpus_path = args.state_gc
        spark = get_spark(app_name="ocr-state-gc", master=args.master)
        # the contract is "one id column", not "a column named id"
        # (r6c review: gc_signature_state's toDF("id") renames whatever
        # arrives; doc_id-named tombstone files failed before GC started)
        tomb_raw = spark.read.parquet(tomb_path)
        if len(tomb_raw.columns) != 1:
            p.error(f"--state-gc tombstone file {tomb_path} must have "
                    f"exactly one id column, found {tomb_raw.columns}")
        tomb = tomb_raw.select(F.col(tomb_raw.columns[0]).alias("id"))
        corpus = spark.read.parquet(corpus_path)
        # deterministic run_id over the tombstone batch (order-independent
        # sum of per-id hashes): a retried GC of the same batch replays —
        # it returns the PERSISTED repair pairs of the committed run and
        # appends nothing (r6b; see gc_signature_state's replay note)
        batch_id = tomb.agg(
            F.sum(F.xxhash64(F.col("id").cast("string")))
        ).collect()[0][0]
        repair = gc_signature_state(
            spark, tomb, corpus, state, run_id=f"state-gc-{batch_id}",
        )
        agg = repair.agg(
            F.count("*").alias("repair_pairs"),
            F.round(F.coalesce(F.min("jaccard"), F.lit(1.0)), 4).alias(
                "min_jaccard"),
        ).collect()[0]
        print(json.dumps({"tombstones": tomb.count(),
                          "repair_pairs": agg["repair_pairs"],
                          "min_jaccard": agg["min_jaccard"],
                          "state_commits": tio.latest_snapshot_id(state)}))
        spark.stop()
        return 0
    if args.compact:
        import uuid as _uuid

        from ocr_toolkit_spark import io as tio
        from ocr_toolkit_spark.session import get_spark

        spark = get_spark(app_name="ocr-compact", master=args.master)
        res = tio.compact_extracted(
            spark, args.compact,
            run_id=f"compact-{_uuid.uuid4().hex[:8]}")
        print(json.dumps(res))
        spark.stop()
        return 0
    if not (args.input and args.output and args.lineage):
        p.error("--input, --output and --lineage are required "
                "(unless using --list-formats, --list-snapshots, "
                "--expire-snapshots, --compact, --compact-index, "
                "--merge-state, --sweep-orphans, --read-changes, "
                "--dedup-delta, --dedup-delta-embed, --state-gc or "
                "--table-report)")

    from ocr_toolkit_spark.pipeline import run_extraction, run_report
    from ocr_toolkit_spark.session import get_spark
    from ocr_toolkit_spark import io as tio

    spark = get_spark(app_name="ocr-extract", master=args.master)
    run_id = args.run_id or f"run-{uuid.uuid4().hex[:8]}"
    stats = run_extraction(
        spark,
        input_path=args.input,
        output_path=args.output,
        lineage_path=args.lineage,
        run_id=run_id,
        with_images=not args.no_images,
        pages=args.pages,
        n_buckets=args.buckets,
        salt_threshold=args.salt_threshold,
        doc_budget_ms=args.doc_budget_ms,
    )
    report = run_report(tio.read_extracted(spark, args.output))
    print(
        json.dumps(
            {
                "run_id": run_id,
                "partitions_processed": stats.partitions_processed,
                "partitions_skipped": stats.partitions_skipped,
                "docs": report["docs"],
                "failed_docs": report["failed"],
                "report": report,
            }
        )
    )
    spark.stop()
    return 1 if report["docs"] == 0 else 0


if __name__ == "__main__":
    sys.exit(main())
