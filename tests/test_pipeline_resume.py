"""Resume/idempotency: kill after partition k, re-run, no dupes, full
coverage via lineage (north_rule; absent from the reference — SURVEY.md §2.5 E5)."""

import os

from pyspark.sql import functions as F

from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark.fixtures import write_corpus
from ocr_toolkit_spark.pipeline import run_extraction, with_partition_id


def test_resume_after_partial_commit(spark, tmpdir_path):
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    # simulate a killed run: process only partitions 0..15, commit their lineage
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    partial = docs.filter(F.col("partition_id") < 16)
    from ocr_toolkit_spark.operators.extract import extract_spans

    partial_out = with_partition_id(extract_spans(partial.select("doc_id", "spans")), 64)
    tio.write_extracted(partial_out, out)
    lin = [
        ("killed-run", r["partition_id"], r["doc_count"], r["span_count"],
         r["byte_count"], 0)
        for r in partial_out.groupBy("partition_id")
        .agg(F.count("*").alias("doc_count"),
             F.sum("n_spans").cast("long").alias("span_count"),
             F.sum("n_chars").cast("long").alias("byte_count"))
        .collect()
    ]
    tio.append_lineage(lin, lineage)
    committed_before = len(lin)

    # resume run: must process only the remaining partitions
    stats = run_extraction(spark, corpus, out, lineage, run_id="resume-run")
    assert stats.partitions_skipped == committed_before
    assert stats.partitions_processed > 0

    result = tio.read_extracted(spark, out)
    n_docs_in = tio.read_documents(spark, corpus).count()
    assert result.count() == n_docs_in  # full coverage
    assert result.select("doc_id").distinct().count() == n_docs_in  # no dupes

    # run-summary row (partition_id = -1): observed metrics must equal the
    # truth recomputed from the written output — and must never be treated
    # as a committed partition by the resume anti-join
    lin_rows = tio.read_lineage(spark, lineage)
    summary = lin_rows.filter("partition_id = -1 and run_id = 'resume-run'").collect()
    assert len(summary) == 1
    resumed = result.join(
        lin_rows.filter("run_id = 'resume-run' and partition_id >= 0")
        .select("partition_id"),
        "partition_id",
    )
    truth = resumed.agg(
        F.count("*").alias("d"), F.sum("n_spans").alias("s"),
        F.sum("n_chars").alias("b"),
        F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("f")).collect()[0]
    assert summary[0]["doc_count"] == truth["d"] == stats.doc_count
    assert summary[0]["span_count"] == truth["s"] == stats.span_count
    assert summary[0]["byte_count"] == truth["b"] == stats.byte_count
    assert summary[0]["failure_count"] == truth["f"] == stats.failure_count

    # second resume: everything committed → nothing to do, output unchanged
    stats2 = run_extraction(spark, corpus, out, lineage, run_id="noop-run")
    assert stats2.partitions_processed == 0
    assert stats2.doc_count == 0
    assert result.count() == n_docs_in


def test_crash_between_data_write_and_lineage_commit(spark, tmpdir_path):
    """Commit-protocol hardening (io.py contract): lineage is appended AFTER
    the data write, so a crash in between leaves orphan data files but no
    commit record. The next run must re-process those partitions and the
    dynamic partition overwrite must REPLACE the orphan files — full
    coverage, zero duplicates."""
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    # crashed run: data files written for partitions 0..15, NO lineage append
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    from ocr_toolkit_spark.operators.extract import extract_spans

    partial_out = with_partition_id(
        extract_spans(docs.filter(F.col("partition_id") < 16)
                      .select("doc_id", "spans")), 64)
    tio.write_extracted(partial_out, out)

    # recovery run: sees no lineage → processes EVERYTHING
    stats = run_extraction(spark, corpus, out, lineage, run_id="recovery")
    assert stats.partitions_skipped == 0

    result = tio.read_extracted(spark, out)
    n_docs_in = tio.read_documents(spark, corpus).count()
    assert result.count() == n_docs_in  # orphans replaced, not duplicated
    assert result.select("doc_id").distinct().count() == n_docs_in


def test_run_report_and_profile(spark, tmpdir_path):
    """A2 run report + A4 named-section profiler: one call, exact totals,
    failure top-k, per-kernel batch timings under profile=True."""
    from ocr_toolkit_spark.operators.extract import extract_spans
    from ocr_toolkit_spark.pipeline import run_report

    corpus = os.path.join(tmpdir_path, "docs.parquet")
    write_corpus(corpus, n_docs=200, seed=42)
    docs = tio.read_documents(spark, corpus)
    extracted = extract_spans(docs, profile=True).cache()
    try:
        rep = run_report(extracted)
        assert rep["docs"] == 200
        assert rep["succeeded"] + rep["failed"] == 200
        assert 0 < rep["success_rate"] <= 1
        assert rep["docs_per_sec_per_core"] > 0
        assert 0 < rep["min_elapsed_ms"] <= rep["avg_elapsed_ms"] <= rep["max_elapsed_ms"]
        assert sum(m["docs"] for m in rep["by_method"].values()) == 200
        assert rep["failed"] == sum(e["docs"] for e in rep["top_errors"])
        assert all(e["error"] for e in rep["top_errors"])
        prof = rep["profile_avg_batch_ms"]
        assert {"setup_dispatch", "bytes_decode", "text_markdown", "paged",
                "sheet", "html", "finalize"} == set(prof)
        assert all(v >= 0 for v in prof.values())
        # profile column must not change the data columns
        plain = extract_spans(docs)
        assert plain.columns + ["section_ms"] == extracted.columns
    finally:
        extracted.unpersist()


def test_salting_splits_oversized(spark, tmpdir_path):
    from ocr_toolkit_spark.pipeline import salt_oversized

    corpus = os.path.join(tmpdir_path, "docs.parquet")
    write_corpus(corpus, n_docs=300, seed=42)  # includes the skew slice
    docs = salt_oversized(tio.read_documents(spark, corpus), threshold=500, k=8)
    big = docs.filter(F.size("spans") > 500)
    assert big.count() > 0, "fixture must contain oversized docs"
    assert docs.filter(F.size("spans") <= 500).select("salt").distinct().collect() == [
        spark.createDataFrame([(0,)], "salt int").collect()[0]]


def test_snapshot_commit_and_time_travel(spark, tmpdir_path):
    """Iceberg-seam exercise (r2 review 'missing' #1): two committed runs
    produce two snapshots; a reader pinned to snapshot 1 sees exactly the
    first run's partitions (pruned at file-listing time), the latest
    snapshot sees everything, and the partition→run ownership map is
    consistent with lineage."""
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    # run 1 covers only partitions 0..31 (drop the rest from the input),
    # run 2 resumes over the full corpus and commits the remainder
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    half = os.path.join(tmpdir_path, "half.parquet")
    docs.filter(F.col("partition_id") < 32).drop("partition_id") \
        .write.parquet(half)
    s1 = run_extraction(spark, half, out, lineage, run_id="run-1")
    s2 = run_extraction(spark, corpus, out, lineage, run_id="run-2")
    assert s1.partitions_processed > 0 and s2.partitions_processed > 0

    snaps = tio.snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["parent_id"] is None and snaps[1]["parent_id"] == 1
    assert snaps[0]["run_id"] == "run-1" and snaps[1]["run_id"] == "run-2"
    # cumulative ownership: snapshot 2 keeps run-1's partitions
    owners = set(snaps[1]["partitions"].values())
    assert owners == {"run-1", "run-2"}

    at1 = tio.read_extracted_as_of(spark, out, 1)
    at2 = tio.read_extracted_as_of(spark, out, 2)
    n_half = tio.read_documents(spark, half).count()
    n_full = tio.read_documents(spark, corpus).count()
    assert at1.count() == n_half == s1.doc_count
    assert at2.count() == n_full
    # pinned reader sees ONLY run-1 partitions
    assert sorted(
        int(r["partition_id"]) for r in at1.select("partition_id").distinct().collect()
    ) == sorted(int(p) for p in snaps[0]["partitions"])
    # the snapshot filter prunes partitions at listing time, not post-scan
    from ocr_toolkit_spark.plans import formatted_plan

    assert "PartitionFilters: [partition_id" in formatted_plan(at1)

    import pytest

    with pytest.raises(ValueError):
        tio.read_extracted_as_of(spark, out, 99)


def test_crash_between_snapshot_and_lineage_commit(spark, tmpdir_path):
    """r3 ADVICE (medium): a crash AFTER snapshot_commit but BEFORE
    append_lineage must NOT cause a re-process — a rewrite would replace
    the parquet files the pre-crash snapshot's time-travel read pins.
    The resume must treat snapshot-owned partitions as committed, heal
    their lineage rows (owner = crashed run), and leave the snapshot-1
    view byte-identical."""
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    # crashed run: data written AND snapshot committed for partitions
    # 0..15, but NO lineage append (the exact crash window)
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    from ocr_toolkit_spark.operators.extract import extract_spans

    partial = docs.filter(F.col("partition_id") < 16)
    partial_out = with_partition_id(
        extract_spans(partial.select("doc_id", "spans")), 64)
    tio.write_extracted(partial_out, out)
    crashed_pids = sorted(
        int(r["partition_id"])
        for r in partial_out.select("partition_id").distinct().collect())
    tio.snapshot_commit(out, "crashed-run", crashed_pids)
    before = {
        r["doc_id"]: r["n_spans"]
        for r in tio.read_extracted_as_of(spark, out, 1)
        .select("doc_id", "n_spans").collect()
    }

    # recovery: snapshot-owned partitions are skipped, not rewritten
    stats = run_extraction(spark, corpus, out, lineage, run_id="recovery")
    assert stats.partitions_skipped == len(crashed_pids)
    processed = {
        int(r["partition_id"])
        for r in tio.read_lineage(spark, lineage)
        .filter("run_id = 'recovery' and partition_id >= 0")
        .select("partition_id").collect()
    }
    assert not processed & set(crashed_pids)

    # lineage healed: crashed partitions now carry rows owned by the
    # crashed run, with exact doc counts
    healed = tio.read_lineage(spark, lineage).filter(
        "run_id = 'crashed-run'").collect()
    assert sorted(int(r["partition_id"]) for r in healed) == crashed_pids
    truth = {
        int(r["partition_id"]): int(r["n"])
        for r in partial.groupBy("partition_id")
        .agg(F.count("*").alias("n")).collect()
    }
    assert {int(r["partition_id"]): int(r["doc_count"]) for r in healed} == truth

    # snapshot-1 time travel still returns the pre-crash data, and the
    # full table has complete coverage with no duplicates
    after = {
        r["doc_id"]: r["n_spans"]
        for r in tio.read_extracted_as_of(spark, out, 1)
        .select("doc_id", "n_spans").collect()
    }
    assert after == before
    n_docs_in = tio.read_documents(spark, corpus).count()
    result = tio.read_extracted(spark, out)
    assert result.count() == n_docs_in
    assert result.select("doc_id").distinct().count() == n_docs_in

    # a second resume is a no-op (lineage and snapshot log now agree)
    stats2 = run_extraction(spark, corpus, out, lineage, run_id="noop")
    assert stats2.partitions_processed == 0


def test_snapshot_log_checkpoint_fold_and_commit_cost(tmpdir_path):
    """Delta-log scaling (r3 verdict #4): state reconstruction folds from
    the nearest checkpoint (≤ CHECKPOINT_EVERY + 1 file reads however long
    the log), non-checkpoint commits read ZERO snapshot files, every
    as-of view equals the prefix fold across checkpoint boundaries, and a
    record without a delta is refused rather than folded."""
    from ocr_toolkit_spark import io as tio

    table = os.path.join(tmpdir_path, "ckptlog")
    ck = tio.CHECKPOINT_EVERY
    n = 2 * ck + 6
    prefixes, expected = [], {}
    for i in range(1, n + 1):
        pids = [i % 16, (i * 7) % 16]
        tio.snapshot_commit(table, f"run-{i}", pids)
        for p in pids:
            expected[str(p)] = f"run-{i}"
        prefixes.append(dict(expected))
    assert tio.latest_snapshot_id(table) == n

    # as-of equals prefix fold at and around every checkpoint boundary
    for sid in {1, ck - 1, ck, ck + 1, 2 * ck, 2 * ck + 1, n}:
        assert tio.partitions_as_of(table, sid) == prefixes[sid - 1], sid

    # instrument file reads: non-checkpoint commit reads 0 snapshot files,
    # checkpoint commit ≤ CHECKPOINT_EVERY + 1, as-of read ≤ CHECKPOINT_EVERY + 1
    reads = []
    real = tio._read_snap

    def counting(d, sid):
        reads.append(sid)
        return real(d, sid)

    tio._read_snap = counting
    try:
        tio.snapshot_commit(table, "cheap", [0])  # id n+1: not a checkpoint
        assert reads == []
        while tio.latest_snapshot_id(table) % ck != ck - 1:
            tio.snapshot_commit(table, "filler", [1])
        reads.clear()
        tio.snapshot_commit(table, "ckpt", [2])  # lands ON a checkpoint id
        assert 0 < len(reads) <= ck + 1
        reads.clear()
        tip = tio.latest_snapshot_id(table)
        tio.partitions_as_of(table, tip)
        assert len(reads) <= ck + 1
    finally:
        tio._read_snap = real

    # one on-disk format: a record without `delta` is refused by every
    # log reader, never folded as some other layout
    odd = os.path.join(tmpdir_path, "oddlog")
    tio.snapshot_commit(odd, "r1", [3])
    import json as _json

    with open(os.path.join(odd, "_snapshots", "snap-00000002.json"),
              "w") as f:
        _json.dump({"snapshot_id": 2, "parent_id": 1, "run_id": "r2",
                    "committed_ms": 0, "operation": "append",
                    "partitions": {"3": "r1", "4": "r2"}}, f)
    import pytest

    for read, args in ((tio.partitions_as_of, (2,)), (tio.snapshots, ()),
                       (tio.retained_partitions, ()),
                       (tio.changed_partitions_between, (1, 2)),
                       (tio.find_run_snapshot, ("r1",))):
        with pytest.raises(ValueError, match="not a record this engine"):
            read(odd, *args)

    # a record with `delta` but no `operation` is refused the same way by
    # the readers that branch on `operation`
    noop = os.path.join(tmpdir_path, "noop_log")
    tio.snapshot_commit(noop, "r1", [3])
    with open(os.path.join(noop, "_snapshots", "snap-00000002.json"),
              "w") as f:
        _json.dump({"snapshot_id": 2, "parent_id": 1, "run_id": "r2",
                    "committed_ms": 0, "delta": {"4": "r2"}}, f)
    for read, args in ((tio.changed_partitions_between, (1, 2)),
                       (tio.find_run_snapshot, ("r1",))):
        with pytest.raises(ValueError, match="no operation: not a record"):
            read(noop, *args)


def test_incremental_read_and_snapshot_expiry(spark, tmpdir_path):
    """Iceberg-parity additions (r4): read_extracted_changes returns
    exactly the rows of partitions committed in (from, to], and
    expire_snapshots drops old history while every retained snapshot stays
    readable (checkpoint-safe boundary)."""
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    half = os.path.join(tmpdir_path, "half.parquet")
    docs.filter(F.col("partition_id") < 32).drop("partition_id") \
        .write.parquet(half)
    s1 = run_extraction(spark, half, out, lineage, run_id="run-1")
    s2 = run_extraction(spark, corpus, out, lineage, run_id="run-2")

    # incremental (1, 2]: exactly run-2's partitions/rows
    changed = tio.changed_partitions_between(out, 1, 2)
    assert set(changed.values()) == {"run-2"}
    inc = tio.read_extracted_changes(spark, out, 1, 2)
    assert inc.count() == s2.doc_count
    assert not {
        int(r["partition_id"])
        for r in inc.select("partition_id").distinct().collect()
    } & set(int(p) for p in tio.partitions_as_of(out, 1))
    # (0, 2] = everything; (2, 2] = empty
    assert tio.read_extracted_changes(spark, out, 0, 2).count() == \
        s1.doc_count + s2.doc_count
    assert tio.read_extracted_changes(spark, out, 2, 2).count() == 0

    import pytest

    with pytest.raises(ValueError):
        tio.changed_partitions_between(out, 2, 1)
    # a bogus/stale cursor must raise even for an empty interval, never
    # silently report "no changes" (r4 review pass 2, #2)
    with pytest.raises(ValueError):
        tio.changed_partitions_between(out, 99, 99)
    assert tio.changed_partitions_between(out, 2, 2) == {}

    # expiry on a long synthetic log: retained ids stay readable, expired
    # ids raise, and the boundary never outruns the nearest checkpoint
    table = os.path.join(tmpdir_path, "expirylog")
    ck = tio.CHECKPOINT_EVERY
    n = 2 * ck + 5
    prefixes, state = [], {}
    for i in range(1, n + 1):
        tio.snapshot_commit(table, f"r{i}", [i % 16])
        state[str(i % 16)] = f"r{i}"
        prefixes.append(dict(state))
    expired = tio.expire_snapshots(table, keep_last=4)
    # oldest retained = n-3 (= 2*ck+2) → boundary = 2*ck → 1..2*ck-1 gone
    assert expired == list(range(1, 2 * ck))
    for sid in range(2 * ck, n + 1):  # boundary checkpoint + retained
        assert tio.partitions_as_of(table, sid) == prefixes[sid - 1], sid
    with pytest.raises(ValueError):
        tio.partitions_as_of(table, 2 * ck - 1)
    # history listing skips the expired prefix and folds from the boundary
    snaps = tio.snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == list(range(2 * ck, n + 1))
    assert snaps[-1]["partitions"] == prefixes[-1]
    # commits continue on top of the truncated log
    tio.snapshot_commit(table, "post-expiry", [3])
    assert tio.partitions_as_of(table, n + 1)["3"] == "post-expiry"


def test_concurrent_snapshot_commits_all_land(tmpdir_path):
    """os.link optimistic concurrency under REAL thread contention: 8
    writers x 5 commits race on one table (crossing the CHECKPOINT_EVERY
    boundary, so checkpoint folds race too). Every commit must land, ids
    must be dense and parent-linked, and the final fold must equal the
    log-order replay with per-partition ownership matching each
    partition's last claiming commit."""
    import threading

    table = os.path.join(tmpdir_path, "racelog")
    errs: list[Exception] = []

    def worker(t: int) -> None:
        try:
            for i in range(5):
                tio.snapshot_commit(table, f"t{t}-c{i}", [t, 15 - t])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert tio.latest_snapshot_id(table) == 40  # every commit landed
    snaps = tio.snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == list(range(1, 41))
    assert [s["parent_id"] for s in snaps] == [None, *range(1, 40)]
    final = tio.partitions_as_of(table, 40)
    replay: dict[str, str] = {}
    for s in snaps:
        replay.update(s["delta"])
    assert final == replay
    for p, owner in final.items():
        last = max(s["snapshot_id"] for s in snaps if p in s["delta"])
        assert owner == next(
            s["run_id"] for s in snaps if s["snapshot_id"] == last)


def test_cross_process_snapshot_commit_race(tmpdir_path):
    """r4 verdict #6: the optimistic os.link claim is atomic across
    PROCESSES, not just threads — two separate interpreters hammering one
    table must produce dense parent-linked ids with no lost claims (the
    two-spark-submit-jobs-one-table scenario)."""
    import subprocess
    import sys as _sys

    table = os.path.join(tmpdir_path, "table")
    script = (
        "import sys; sys.path.insert(0, sys.argv[3]);"
        "from ocr_toolkit_spark import io as tio;"
        "proc = int(sys.argv[2]);"
        "[tio.snapshot_commit(sys.argv[1], f'proc{proc}-c{i}',"
        " [proc * 1000 + i, 999]) for i in range(20)]"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen([_sys.executable, "-c", script, table, str(p), repo])
        for p in (1, 2)
    ]
    for p in procs:
        assert p.wait(timeout=120) == 0

    assert tio.latest_snapshot_id(table) == 40  # every commit landed
    snaps = tio.snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == list(range(1, 41))
    assert [s["parent_id"] for s in snaps] == [None, *range(1, 40)]
    final = tio.partitions_as_of(table, 40)
    # disjoint claims all survive; the contended partition has ONE owner
    # equal to its last committer in log order
    for proc in (1, 2):
        for i in range(20):
            assert final[str(proc * 1000 + i)] == f"proc{proc}-c{i}"
    last_999 = max(s["snapshot_id"] for s in snaps if "999" in s["delta"])
    assert final["999"] == next(
        s["run_id"] for s in snaps if s["snapshot_id"] == last_999)


def test_compaction_and_table_report(spark, tmpdir_path):
    """compact_extracted (Iceberg rewriteDataFiles analog): collapses each
    partition to one file, preserves every row byte-for-byte, appends a
    snapshot, and leaves earlier snapshots' reads row-identical;
    table_report reflects the layout before and after."""
    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=300, seed=42)
    run_extraction(spark, corpus, out, lineage, run_id="run-1",
                   parallelism=16)

    rep0 = tio.table_report(out)
    assert rep0["partitions"] > 0 and rep0["snapshots"] == 1
    before_rows = sorted(
        (r["doc_id"], r["n_spans"], r["n_chars"], r["success"])
        for r in tio.read_extracted(spark, out)
        .select("doc_id", "n_spans", "n_chars", "success").collect())
    at1_before = sorted(
        r["doc_id"] for r in tio.read_extracted_as_of(spark, out, 1)
        .select("doc_id").collect())

    res = tio.compact_extracted(spark, out, run_id="compact-1")
    assert res["files_after"] <= res["files_before"]
    assert res["files_after"] == res["partitions"]  # one file each

    rep1 = tio.table_report(out)
    assert rep1["max_files_per_partition"] == 1
    assert rep1["snapshots"] == 2
    after_rows = sorted(
        (r["doc_id"], r["n_spans"], r["n_chars"], r["success"])
        for r in tio.read_extracted(spark, out)
        .select("doc_id", "n_spans", "n_chars", "success").collect())
    assert after_rows == before_rows
    # pre-compaction snapshot still readable, same rows (emulation
    # honesty: same content, new files)
    at1_after = sorted(
        r["doc_id"] for r in tio.read_extracted_as_of(spark, out, 1)
        .select("doc_id").collect())
    assert at1_after == at1_before
    # sort-order rewrite: rows inside each compacted file are doc_id-
    # sorted, so the parquet column statistics on doc_id are tight
    # (non-overlapping across row groups within a file)
    import pyarrow.parquet as _pq

    checked = 0
    for name in os.listdir(out):
        if not name.startswith("partition_id="):
            continue
        pdir = os.path.join(out, name)
        for f in os.listdir(pdir):
            if not f.endswith(".parquet"):
                continue
            pf = _pq.ParquetFile(os.path.join(pdir, f))
            ids = pf.read(columns=["doc_id"])["doc_id"].to_pylist()
            assert ids == sorted(ids), name
            checked += 1
        if checked >= 8:
            break
    assert checked > 0

    # resume after compaction: everything still committed → no-op
    stats = run_extraction(spark, corpus, out, lineage, run_id="post")
    assert stats.partitions_processed == 0


def test_snapshot_log_random_run_sequences(tmpdir_path):
    """Property: for ANY sequence of commits (random partition subsets,
    overlapping owners), the latest snapshot's mapping equals the
    fold-left of the commits, ids are dense and parent-linked, and every
    as-of view equals the prefix fold — the invariant the resume +
    time-travel story rests on."""
    import random as _random

    from ocr_toolkit_spark import io as tio

    rng = _random.Random(73)
    for trial in range(5):
        table = os.path.join(tmpdir_path, f"snaplog{trial}")
        expected: dict[str, str] = {}
        rows_expected: dict[str, str] = {}  # append-only fold (row changes)
        prefixes = []
        rows_prefixes = []
        commit_log: list[dict[str, str]] = []  # each commit's claim set
        for i in range(rng.randrange(2, 7)):
            run = f"run-{i}"
            pids = rng.sample(range(16), rng.randrange(1, 6))
            # ~1/4 of commits are row-preserving rewrites ("replace", the
            # compaction operation): ownership folds include them, but
            # incremental scans must NOT report them as changes (r5)
            op = "replace" if rng.random() < 0.25 else "append"
            # merge-style rewrites (r6b): a replace commit may also
            # DE-OWN currently-owned partitions outside its claim set —
            # ownership folds drop them, incremental scans never see them
            removals = []
            if op == "replace" and rng.random() < 0.5:
                pool = [int(q) for q in expected if int(q) not in pids]
                if pool:
                    removals = rng.sample(pool, rng.randrange(1, len(pool) + 1))
            tio.snapshot_commit(table, run, pids, operation=op,
                                remove_partition_ids=removals)
            commit_log.append(
                {str(p): run for p in pids} if op == "append" else {})
            for p in pids:
                expected[str(p)] = run
                if op == "append":
                    rows_expected[str(p)] = run
            for p in removals:
                expected.pop(str(p), None)
            prefixes.append(dict(expected))
            rows_prefixes.append(dict(rows_expected))
        snaps = tio.snapshots(table)
        assert [s["snapshot_id"] for s in snaps] == list(
            range(1, len(prefixes) + 1))
        assert [s["parent_id"] for s in snaps] == [
            None, *range(1, len(prefixes))]
        for s, want in zip(snaps, prefixes):
            assert s["partitions"] == want, (trial, s["snapshot_id"])
        # incremental-read property: for ANY (from, to] interval, the
        # changed set equals the diff of the prefix folds restricted to
        # partitions claimed in the interval (r4)
        n = len(prefixes)
        for _ in range(4):
            a = rng.randrange(0, n + 1)
            b = rng.randrange(a, n + 1)
            got = tio.changed_partitions_between(table, a, b)
            want_changed = {}
            for i in range(a, b):  # commits a+1..b are prefixes[a..b-1]
                for p, r in commit_log[i].items():
                    want_changed[p] = r
            assert got == want_changed, (trial, a, b)
            # composition holds at the ROW level: "replace" commits
            # rearrange files without changing rows, so the changed set
            # composed onto the append-only prefix fold reproduces it
            rows_before = rows_prefixes[a - 1] if a >= 1 else {}
            rows_after = rows_prefixes[b - 1] if b >= 1 else {}
            merged = dict(rows_before)
            merged.update(got)
            assert merged == rows_after, (trial, a, b)


def test_sweep_orphan_partitions(spark, tmpdir_path):
    """remove_orphan_files analog: a partition dir whose writer died
    before snapshot_commit is swept once it is older than the age
    guard; committed partitions and young orphans are never touched."""
    import os
    import time

    from pyspark.sql import functions as F

    from ocr_toolkit_spark import io as tio

    path = os.path.join(tmpdir_path, "table")
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("int").alias("partition_id"),
        F.lit("x").alias("payload"),
    )
    df.write.partitionBy("partition_id").parquet(path)
    tio.snapshot_commit(path, "r0", [0, 1])

    # orphan: written, never committed
    spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit(9).cast("int").alias("partition_id"),
        F.lit("orphan").alias("payload"),
    ).write.mode("append").partitionBy("partition_id").parquet(path)
    assert os.path.isdir(os.path.join(path, "partition_id=9"))
    # visible to the operator before the sweep
    assert tio.table_report(path)["orphan_partitions"] == ["partition_id=9"]

    # young orphan survives the age guard
    assert tio.sweep_orphan_partitions(path, older_than_s=3600) == []
    assert os.path.isdir(os.path.join(path, "partition_id=9"))

    # backdate it past the cutoff → swept; committed partitions intact
    for dirpath, dirnames, filenames in os.walk(path):
        for n in dirnames + filenames:
            full = os.path.join(dirpath, n)
            if "partition_id=9" in full:
                os.utime(full, (time.time() - 7200, time.time() - 7200))
    os.utime(os.path.join(path, "partition_id=9"),
             (time.time() - 7200, time.time() - 7200))
    assert tio.sweep_orphan_partitions(path, older_than_s=3600) == ["9"]
    assert not os.path.isdir(os.path.join(path, "partition_id=9"))
    assert sorted(
        r[0] for r in tio.read_extracted_as_of(
            spark, path, 1).select("partition_id").distinct().collect()
    ) == [0, 1]
    # idempotent; nothing left to sweep even at age 0
    assert tio.sweep_orphan_partitions(path, older_than_s=0) == []
    assert tio.table_report(path)["orphan_partitions"] == []


def test_snapshot_removals_fold_and_checkpoint(tmpdir_path):
    """Ownership removal (None-valued delta entries): partitions_as_of
    and snapshots() drop de-owned pids, checkpoint records embed the
    folded map with no tombstones, incremental scans never report a
    removal as a data change, and claim+remove of one pid in one commit
    is refused."""
    import json as _json
    import os

    import pytest

    from ocr_toolkit_spark import io as tio

    path = os.path.join(tmpdir_path, "table")
    os.makedirs(path)
    # 30 appends, then the N-into-1 swap, then cross the checkpoint at 32
    for i in range(30):
        tio.snapshot_commit(path, f"r{i}", [i])
    tio.snapshot_commit(path, "merge", [100], operation="replace",
                        remove_partition_ids=list(range(30)))
    assert tio.partitions_as_of(path, 31) == {"100": "merge"}
    # snapshot 30's view still shows the sources (time travel)
    assert len(tio.partitions_as_of(path, 30)) == 30
    tio.snapshot_commit(path, "r32", [101])  # checkpoint commit (32)
    snap32 = _json.load(open(os.path.join(
        path, "_snapshots", "snap-00000032.json")))
    assert snap32["partitions"] == {"100": "merge", "101": "r32"}
    assert None not in snap32["partitions"].values()
    # fold THROUGH the checkpoint stays clean
    tio.snapshot_commit(path, "r33", [102])
    assert tio.partitions_as_of(path, 33) == {
        "100": "merge", "101": "r32", "102": "r33"}
    assert tio.snapshots(path)[-1]["partitions"] == tio.partitions_as_of(
        path, 33)

    # a "replace" removal is invisible to incremental consumers; the
    # appends around it are not
    ch = tio.changed_partitions_between(path, 30, 33)
    assert ch == {"101": "r32", "102": "r33"}

    with pytest.raises(ValueError, match="both claimed and removed"):
        tio.snapshot_commit(path, "bad", [7], remove_partition_ids=[7])


def test_resume_boundary_and_heal_provenance_r6c(spark, tmpdir_path):
    """r6c review fixes on reconcile_committed, pinned:
    (1) orphan lineage healing attributes the APPEND run that committed
    the rows, not a later maintenance re-claim's run_id (compaction's
    'replace' owns every partition at the tip);
    (2) the must-not-rewrite boundary is RETAINED history — a partition
    de-owned at the tip but referenced by older retained snapshots is
    treated as committed, never re-processed (its files back time-travel
    reads);
    (3) a snapshot-1 delta with a de-own entry folds away instead of
    leaking a None-valued owner."""
    from ocr_toolkit_spark.pipeline import reconcile_committed

    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    lineage = os.path.join(tmpdir_path, "lineage")
    write_corpus(corpus, n_docs=200, seed=42)

    # crashed run: partitions 0..15 written + snapshot, no lineage
    docs = with_partition_id(tio.read_documents(spark, corpus), 64)
    from ocr_toolkit_spark.operators.extract import extract_spans

    partial = docs.filter(F.col("partition_id") < 16)
    partial_out = with_partition_id(
        extract_spans(partial.select("doc_id", "spans")), 64)
    tio.write_extracted(partial_out, out)
    crashed_pids = sorted(
        int(r["partition_id"])
        for r in partial_out.select("partition_id").distinct().collect())
    tio.snapshot_commit(out, "crashed-run", crashed_pids)

    # (1) a compaction lands BEFORE the resume: the tip owner of every
    # partition is now 'compact-x', but healing must attribute the
    # crashed APPEND run
    tio.compact_extracted(spark, out, "compact-x")
    run_extraction(spark, corpus, out, lineage, run_id="recovery")
    healed = tio.read_lineage(spark, lineage).filter(
        "run_id = 'crashed-run'").collect()
    assert sorted(int(r["partition_id"]) for r in healed) == crashed_pids
    assert tio.read_lineage(spark, lineage).filter(
        "run_id = 'compact-x'").count() == 0

    # (2) de-own one partition at the tip while older snapshots retain
    # it: reconcile must still count it committed (no rewrite)
    victim = crashed_pids[0]
    keep = [p for p in crashed_pids if p != victim][0]
    tio.snapshot_commit(out, "maint", [keep], operation="replace",
                        remove_partition_ids=[victim])
    committed, orphans = reconcile_committed(spark, lineage, out)
    assert victim in committed
    assert victim not in orphans
    owners_now = tio.partitions_as_of(out, tio.latest_snapshot_id(out))
    assert str(victim) not in owners_now  # de-owned at tip...
    assert str(victim) in tio.retained_partitions(out)  # ...but retained
    stats = run_extraction(spark, corpus, out, lineage, run_id="again")
    assert stats.partitions_processed == 0  # nothing rewritten

    # (3) snapshot-1 de-own entries fold away at every read site
    t2 = os.path.join(tmpdir_path, "t2")
    os.makedirs(os.path.join(t2, "partition_id=0"))
    with open(os.path.join(t2, "partition_id=0", "p.parquet"), "w") as f:
        f.write("x")
    tio.snapshot_commit(t2, "r0", [0], remove_partition_ids=[9])
    owners = tio.partitions_as_of(t2, 1)
    assert owners == {"0": "r0"}  # no None-valued ghost for 9
    assert tio.retained_partitions(t2) == {"0"}
    assert tio.snapshots(t2)[0]["partitions"] == {"0": "r0"}


def test_read_lineage_missing_path_skips_spark(spark, tmpdir_path):
    """A first run has no lineage table: read_lineage answers None from the
    filesystem without a Spark read (a failing read logs a listener stack
    trace on every fresh table); an existing table still reads."""
    touched: list[str] = []

    class NoSpark:
        def __getattr__(self, name):
            touched.append(name)
            raise AttributeError(name)

    lineage = os.path.join(tmpdir_path, "lineage")
    assert tio.read_lineage(NoSpark(), lineage) is None
    assert touched == []

    write_corpus(os.path.join(tmpdir_path, "docs.parquet"), n_docs=50, seed=7)
    run_extraction(spark, os.path.join(tmpdir_path, "docs.parquet"),
                   os.path.join(tmpdir_path, "out"), lineage, run_id="first")
    lin = tio.read_lineage(spark, lineage)
    assert lin.filter("partition_id = -1 and run_id = 'first'").count() == 1
