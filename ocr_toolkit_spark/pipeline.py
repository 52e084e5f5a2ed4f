"""End-to-end extraction pipeline: read → resume → salt → extract → commit.

The distributed replacement for the reference's per-file driver loop
(/root/reference/ocr_toolkit/cli/convert.py:366-551), with the scale
mechanics the reference lacks (SURVEY.md §2.5 E5 — no checkpointing there):

1. **Bucketing**: `partition_id = pmod(xxhash64(doc_id), n_buckets)` — the
   engine-side analog of an Iceberg `bucket(N, doc_id)` partition spec.
2. **Resume**: previously committed partitions (lineage rows) are excluded
   with a broadcast LEFT ANTI join — a re-run only processes what's missing.
3. **Skew salting**: AQE cannot split a single giant row, so documents whose
   span count exceeds a threshold get an explicit salt and the repartition is
   on (partition_id, salt) — heavy docs of one bucket spread across tasks.
   The repartition carries no count, so AQE sizes the kernel stage from the
   shuffle bytes: each Python task has a fixed cost (~200 ms wall on a 4-core
   box, whatever its batch), so a small run gets a few large tasks instead of
   `spark.sql.shuffle.partitions` small ones, while a large run keeps the
   initial count. The coalesced tasks are balanced by bytes, so the salted
   giants still spread. `run_extraction(parallelism=N)` pins the count.
4. **Extract**: ONE Arrow-batched stage (operators/extract.py).
5. **Commit**: dynamic-partition-overwrite data write with run metrics
   OBSERVED during the write (`Dataset.observe` — the Iceberg snapshot-
   summary analog), then lineage append: per-partition rows (presence +
   exact doc_count, from a doc_id-only pruned input scan) plus one
   run-summary row (partition_id = -1) carrying doc/span/byte/failure
   totals. The written output is never re-read — idempotent per partition.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import io as tio
from .operators.extract import extract_spans

# lineage row minus the commit timestamp (added via current_timestamp at
# append time). span/byte/failure are NULL on per-partition rows and exact
# on the run-summary row (partition_id = -1).
LINEAGE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("span_count", T.LongType(), True),
        T.StructField("byte_count", T.LongType(), True),
        T.StructField("failure_count", T.LongType(), True),
    ]
)

DEFAULT_BUCKETS = 64
# span-count threshold above which a document is considered oversized; the
# fixture skew slice generates 2k-8k-span docs vs a ~6-span median
DEFAULT_SALT_THRESHOLD = 500
DEFAULT_SALT_K = 8
# distinct error strings listed in run_report's top_errors
TOP_ERRORS = 10


@dataclass
class RunStats:
    run_id: str
    partitions_processed: int
    partitions_skipped: int
    # run-level extraction metrics, observed during the write job itself
    doc_count: int = 0
    span_count: int = 0
    byte_count: int = 0
    failure_count: int = 0


def with_partition_id(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def committed_partitions(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    lin = tio.read_lineage(spark, lineage_path)
    if lin is None:
        return None
    # partition_id = -1 rows are run-summary records, not partitions
    return (
        lin.select("partition_id").where(F.col("partition_id") >= 0).distinct()
    )


def reconcile_committed(
    spark: SparkSession, lineage_path: str, output_path: str
) -> tuple[set[int], dict[int, str]]:
    """The committed-partition set a resume must skip, reconciling lineage
    against the snapshot log (r3 ADVICE, medium): commit order is
    data → snapshot → lineage, so a crash in the gap leaves partitions
    owned by a snapshot with no lineage row. Treating only lineage as
    committed would re-process them, and dynamic overwrite would REPLACE
    their files — silently changing what the pre-crash snapshot's
    time-travel read returns. A partition owned by EITHER record is
    committed (its data write necessarily completed).

    Returns (committed_pids, orphans) where orphans maps snapshot-owned
    partitions missing from lineage to the run_id of the APPEND snapshot
    that actually committed their rows (r6c review: the tip owner can be
    a later maintenance re-claim — e.g. compaction's "replace" — and
    healing lineage with that run_id would misrecord provenance). Both
    sets are ≤ n_buckets entries — driver-side by design.

    The must-not-rewrite boundary is RETAINED history, not the tip map
    (r6c review, the sweep_orphan_partitions doctrine): a partition
    de-owned at the tip but still referenced by an older retained
    snapshot must not be re-processed — dynamic overwrite would replace
    its files and silently change what that snapshot's time-travel read
    returns. No current operator de-owns extraction partitions, but the
    log supports it generically and resume must not re-open the hole."""
    lineage_pids: set[int] = set()
    done = committed_partitions(spark, lineage_path)
    if done is not None:
        lineage_pids = {int(r["partition_id"]) for r in done.collect()}
    tip = tio.latest_snapshot_id(output_path)
    if not tip:
        return lineage_pids, {}
    snap_owner = {
        int(p): r for p, r in tio.partitions_as_of(output_path, tip).items()
    }
    retained = {int(p) for p in tio.retained_partitions(output_path)}
    # provenance for healing: the LAST append-operation claim per pid
    appenders: dict[int, str] = {}
    for rec in tio.snapshots(output_path):
        if rec["operation"] != "append":
            continue
        for p, r in rec["delta"].items():
            if r is not None:
                appenders[int(p)] = r
    orphans = {
        p: appenders.get(p, r)
        for p, r in snap_owner.items()
        if p not in lineage_pids
    }
    return lineage_pids | set(snap_owner) | retained, orphans


def salt_oversized(
    df: DataFrame,
    threshold: int = DEFAULT_SALT_THRESHOLD,
    k: int = DEFAULT_SALT_K,
) -> DataFrame:
    """Explicit skew salt: oversized docs (by span count) get k distinct salts
    so one bucket's giants spread across tasks (SURVEY.md §4 'custom work')."""
    return df.withColumn(
        "salt",
        F.when(
            F.size("spans") > threshold,
            F.pmod(F.xxhash64("doc_id", F.lit("salt")), F.lit(k)).cast("int"),
        ).otherwise(F.lit(0)),
    )


def kernel_input(
    docs: DataFrame,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salt_k: int = DEFAULT_SALT_K,
    parallelism: int | None = None,
) -> DataFrame:
    """The extraction kernel's input: salt oversized docs, repartition on
    (partition_id, salt) and keep (doc_id, spans). Without `parallelism` the
    exchange has no count, so AQE coalesces it to the data (module docstring,
    step 3); `parallelism` pins the task count."""
    docs = salt_oversized(docs, salt_threshold, salt_k)
    keys = ("partition_id", "salt")
    docs = docs.repartition(parallelism, *keys) if parallelism else docs.repartition(*keys)
    return docs.select("doc_id", "spans")


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str,
    with_images: bool = True,
    pages: str | frozenset[int] | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salt_k: int = DEFAULT_SALT_K,
    parallelism: int | None = None,
    doc_budget_ms: float | None = None,
) -> RunStats:
    """Extract the uncommitted partitions of `input_path` into `output_path`
    and commit them (module docstring, steps 1-5). `parallelism` pins the
    kernel stage's task count; by default AQE sizes it from the shuffle
    bytes (`kernel_input`)."""
    docs = with_partition_id(tio.read_documents(spark, input_path), n_buckets)

    # committed = lineage ∪ snapshot-owned (reconcile_committed docstring:
    # a crash between snapshot_commit and append_lineage must not lead to
    # a partition rewrite). Orphans (snapshot-owned, lineage-missing) get
    # their lineage rows healed below so the manifest converges.
    done_pids, orphans = reconcile_committed(spark, lineage_path, output_path)
    if orphans:
        # healed doc_count comes from the WRITTEN OUTPUT (partition-pruned
        # scan of just the orphan partitions), not the current input: the
        # manifest invariant is 'doc_count matches the committed files',
        # and the resume input may differ from what the crashed run saw
        # (grown corpus, different filter) — r4 review #1
        cnts = {
            int(r["partition_id"]): int(r["n"])
            for r in tio.read_extracted(spark, output_path)
            .select("partition_id")
            .where(F.col("partition_id").isin(list(orphans)))
            .groupBy("partition_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        heal = spark.createDataFrame(
            [
                (owner, pid, cnts.get(pid, 0), None, None, None)
                for pid, owner in sorted(orphans.items())
            ],
            schema=LINEAGE_ROW_SCHEMA,
        ).withColumn("committed_at", F.current_timestamp())
        tio.append_lineage(heal, lineage_path)
    skipped = len(done_pids)
    if done_pids:
        done = spark.createDataFrame(
            [(p,) for p in sorted(done_pids)], "partition_id int"
        )
        # broadcast anti-join: the committed set is tiny (≤ n_buckets rows)
        docs = docs.join(F.broadcast(done), "partition_id", "left_anti")

    # Per-partition doc counts for the lineage manifest, captured BEFORE
    # salting/repartitioning: salt needs F.size(spans), so counting the
    # post-salt frame would re-scan the heavy spans column and replay the
    # repartition (ADVICE r2). This projection keeps the count job a
    # doc_id-only pruned scan (partition_id is a function of doc_id).
    part_counts = docs.select("partition_id")

    extracted = extract_spans(
        kernel_input(docs, salt_threshold, salt_k, parallelism),
        with_images, pages, doc_budget_ms=doc_budget_ms,
    )
    # partition_id is recomputed from doc_id (deterministic hash) rather than
    # threaded through the Arrow stage — keeps the UDF schema minimal
    out = with_partition_id(extracted, n_buckets)

    # Run-level extraction metrics are OBSERVED during the write job itself
    # (the Iceberg snapshot-summary analog) — no second action ever touches
    # the written output (r1 review item #6: the old post-write
    # read_extracted + groupBy re-listed and re-read the output per run).
    obs = Observation(f"extract-metrics-{run_id}")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_spans").cast("long").alias("span_count"),
        F.sum("n_chars").cast("long").alias("byte_count"),
        F.sum(F.when(~F.col("success"), 1).otherwise(0))
        .cast("long")
        .alias("failure_count"),
    )
    tio.write_extracted(out, output_path)
    m = obs.get  # already collected by the write action — zero extra jobs

    # Per-partition lineage rows (the manifest analog): partition presence +
    # exact doc_count from the PRE-salt input projection — a doc_id-only
    # pruned scan (partition_id is a function of doc_id). Extraction is
    # strictly 1 doc → 1 row (error docs still produce rows), so input
    # doc_count equals output doc_count. ≤ n_buckets rows → collected to the
    # driver and appended as a local DataFrame; the append reads nothing.
    parts = sorted(
        (int(r["partition_id"]), int(r["n"]))
        for r in part_counts.groupBy("partition_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_new = len(parts)
    rows = [(run_id, pid, n, None, None, None) for pid, n in parts]
    # run-summary record: partition_id = -1, full run metrics from observe
    rows.append(
        (
            run_id,
            -1,
            int(m["doc_count"] or 0),
            int(m["span_count"] or 0),
            int(m["byte_count"] or 0),
            int(m["failure_count"] or 0),
        )
    )
    lineage = spark.createDataFrame(
        rows, schema=LINEAGE_ROW_SCHEMA
    ).withColumn("committed_at", F.current_timestamp())
    # Commit ORDER: data write → snapshot → lineage. A crash between
    # snapshot and lineage leaves a snapshot whose partitions all have
    # written data (the write already happened) but no lineage row — the
    # next run's reconcile_committed treats snapshot-owned partitions as
    # committed (NOT re-processed: a rewrite would replace the files the
    # pre-crash snapshot's time-travel read pins — r3 ADVICE, medium) and
    # heals the missing lineage rows. The reverse order would leave
    # lineage rows whose partitions never reach any snapshot: resume
    # would skip them forever while snapshot reads silently miss
    # committed data (r3 review #1).
    if n_new:
        tio.snapshot_commit(output_path, run_id, [pid for pid, _ in parts])
    tio.append_lineage(lineage, lineage_path)
    return RunStats(
        run_id=run_id,
        partitions_processed=n_new,
        partitions_skipped=skipped,
        doc_count=int(m["doc_count"] or 0),
        span_count=int(m["span_count"] or 0),
        byte_count=int(m["byte_count"] or 0),
        failure_count=int(m["failure_count"] or 0),
    )


def render_markdown_col() -> "F.Column":
    """The reference's final artifact: one markdown string per document —
    `"\\n\\n"`-joined non-image span texts (openocr_doc_handler.py:276,
    markdown sink cli/convert.py:61-64). Pure JVM array algebra."""
    return F.array_join(
        F.transform(
            F.filter(F.col("out_spans"), lambda s: s["kind"] != "image"),
            lambda s: s["text"],
        ),
        "\n\n",
    )


def run_report(extracted: DataFrame) -> dict:
    """A2 — the one-call conversion summary, the distributed analog of the
    reference's end-of-run report (cli/convert.py:553-625: success rate,
    avg per-doc time, throughput) plus a failure top-k by error string.

    Returns a plain dict (driver-side; every aggregate is one shuffle of
    tiny partial aggregates). When `extracted` carries the opt-in
    `section_ms` profile column (extract_spans(profile=True)), the report
    includes mean per-batch section timings (A4)."""
    agg = extracted.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("success").cast("long")).alias("succeeded"),
        F.sum((~F.col("success")).cast("long")).alias("failed"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_chars").alias("chars"),
        F.avg("elapsed_ms").alias("avg_elapsed_ms"),
        F.min("elapsed_ms").alias("min_elapsed_ms"),
        F.max("elapsed_ms").alias("max_elapsed_ms"),
    ).collect()[0]
    docs = agg["docs"] or 0
    avg_ms = float(agg["avg_elapsed_ms"] or 0.0)
    report = {
        "docs": docs,
        "succeeded": int(agg["succeeded"] or 0),
        "failed": int(agg["failed"] or 0),
        "success_rate": (int(agg["succeeded"] or 0) / docs) if docs else 0.0,
        "spans": int(agg["spans"] or 0),
        "chars": int(agg["chars"] or 0),
        "avg_elapsed_ms": avg_ms,
        # fastest/slowest per-doc kernel cost (reference benchmark report's
        # fastest/slowest-file lines; batch-amortized here)
        "min_elapsed_ms": float(agg["min_elapsed_ms"] or 0.0),
        "max_elapsed_ms": float(agg["max_elapsed_ms"] or 0.0),
        # single-core throughput implied by kernel time (the reference's
        # pages-per-sec analog); wall-clock throughput is this × cores
        "docs_per_sec_per_core": (1000.0 / avg_ms) if avg_ms else 0.0,
        "by_method": {
            r["method"]: {
                "docs": r["docs"], "succeeded": r["succeeded"],
                "spans": r["spans"], "chars": r["chars"],
                "avg_elapsed_ms": r["avg_elapsed_ms"],
            }
            for r in extraction_stats(extracted).collect()
        },
        "top_errors": [
            {"error": r["error"], "docs": r["n"]}
            for r in extracted.filter(~F.col("success"))
            .groupBy("error").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("error")).limit(TOP_ERRORS)
            .collect()
        ],
    }
    if "section_ms" in extracted.columns:
        secs = (
            extracted.select(F.explode("section_ms").alias("section", "ms"))
            .groupBy("section").agg(F.avg("ms").alias("avg_ms"))
            .collect()
        )
        report["profile_avg_batch_ms"] = {r["section"]: r["avg_ms"] for r in secs}
    return report


def extraction_stats(extracted: DataFrame) -> DataFrame:
    """Corpus-level metrics — the distributed ProcessingStats
    (/root/reference/ocr_toolkit/processors/stats.py:28-85): Catalyst handles
    partial+final aggregation; `groupBy(method)` is the per-method counter."""
    return extracted.groupBy("method").agg(
        F.count("*").alias("docs"),
        F.sum(F.col("success").cast("int")).alias("succeeded"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_chars").alias("chars"),
        F.avg("elapsed_ms").alias("avg_elapsed_ms"),
    )
