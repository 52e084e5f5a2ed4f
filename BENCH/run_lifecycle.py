"""Full table-maintenance lifecycle soak (r4 verdict #8): N ingest cycles
into ONE snapshot-committed streaming table, with an incremental consumer
and snapshot expiry running every cycle, and a final whole-table
compaction — the complete operate-it-for-a-month story in one driveable
scenario.

Per cycle:
1. a new documents file lands; `stream_extract_committed` (availableNow)
   drains it — one snapshot per micro-batch;
2. the incremental consumer reads ONLY the batches committed since its
   cursor (`read_extracted_changes(partition_col='batch_id')` — the
   Iceberg incremental-scan analog, also exposed as `job.py
   --read-changes`) and advances the cursor;
3. `expire_snapshots(keep_last=KEEP)` prunes history (the consumer's
   cursor stays inside the retained window, so it never goes stale);
4. `table_report` tracks the small-file buildup that motivates step 5.

After all cycles: `compact_extracted` (auto-detects the flat batch_id
layout, rewrites each batch to one file) and a post-compaction
full-count identity check.

Prints one JSON object; results land in BENCH/lifecycle.json.

Usage: python BENCH/run_lifecycle.py [cycles] [docs_per_cycle]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _measure import cpu_stat, steal_pct  # noqa: E402


def main() -> int:
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    docs_per_cycle = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    keep_last = int(os.environ.get("SPARK_GRAFT_KEEP_LAST", "8"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE",
                           "/dev/shm/ocr_toolkit_bench")
    root = os.path.join(cache, "lifecycle")
    shutil.rmtree(root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    out = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(in_dir)

    from ocr_toolkit_spark import io as tio
    from ocr_toolkit_spark.fixtures import generate_documents, to_arrow
    from ocr_toolkit_spark.session import get_spark
    from ocr_toolkit_spark.streaming.stream_extract import (
        stream_extract_committed,
    )

    import pyarrow.parquet as pq

    spark = get_spark(app_name="lifecycle_bench", master=f"local[{cpus}]")
    out_j: dict = {"cycles": cycles, "docs_per_cycle": docs_per_cycle,
                   "keep_last": keep_last, "cpus": cpus, "per_cycle": []}

    cursor = 0
    total_docs = 0
    for c in range(cycles):
        docs = generate_documents(docs_per_cycle, seed=1000 + c)
        docs = [(f"c{c}-{did}", spans) for did, spans in docs]
        pq.write_table(to_arrow(docs), os.path.join(in_dir, f"c{c}.parquet"))
        total_docs += len(docs)

        c0, t0 = cpu_stat(), time.time()
        q = stream_extract_committed(spark, in_dir, out, ckpt,
                                     max_files_per_trigger=None)
        q.awaitTermination(600)
        t_ingest = time.time() - t0
        st_ingest = steal_pct(c0, cpu_stat())

        tip = tio.latest_snapshot_id(out)
        t0 = time.time()
        inc = tio.read_extracted_changes(spark, out, cursor, tip,
                                         partition_col="batch_id")
        inc_rows = inc.count()
        t_inc = time.time() - t0
        assert inc_rows == len(docs), (c, inc_rows)
        cursor = tip

        t0 = time.time()
        expired = tio.expire_snapshots(out, keep_last)
        t_expire = time.time() - t0

        rep = tio.table_report(out)
        out_j["per_cycle"].append({
            "cycle": c,
            "ingest_sec": round(t_ingest, 2),
            "ingest_steal_pct": round(st_ingest, 1),
            "incremental_read_sec": round(t_inc, 2),
            "incremental_rows": inc_rows,
            "expire_sec": round(t_expire, 3),
            "expired": len(expired),
            "snapshots_tip": tip,
            "total_files": rep["total_files"],
            "total_mb": round(rep["total_bytes"] / 1e6, 1),
        })
        print(json.dumps(out_j["per_cycle"][-1]), flush=True)

    # consumer sanity: full table == everything ever ingested
    assert spark.read.parquet(out).count() == total_docs

    c0, t0 = cpu_stat(), time.time()
    res = tio.compact_extracted(spark, out, run_id="lifecycle-compact")
    out_j["compact"] = {
        "sec": round(time.time() - t0, 2),
        "steal_pct": round(steal_pct(c0, cpu_stat()), 1),
        **res,
    }
    assert spark.read.parquet(out).count() == total_docs
    out_j["post_compact_files"] = tio.table_report(out)["total_files"]
    out_j["total_docs"] = total_docs
    out_j["ingest_docs_per_sec"] = round(
        total_docs / sum(x["ingest_sec"] for x in out_j["per_cycle"]), 1)

    print(json.dumps(out_j), flush=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "lifecycle.json"), "w") as f:
        json.dump(out_j, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
