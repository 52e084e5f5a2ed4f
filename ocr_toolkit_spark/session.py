"""SparkSession factory with the engine's scale configuration.

Tuned for the north_rule: AQE on (runtime coalescing + skew-join splitting),
Arrow batches sized for the extraction stage, executor thread pinning so NumPy
inside Python workers doesn't oversubscribe (the analog of the reference's
OMP/MKL pinning, /root/reference/ocr_toolkit/cli/convert.py:55-58).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# docs per Arrow batch into the extract stage. 512 measured best end-to-end:
# the JVM-side Arrow→row conversion of the returned span column allocates
# per batch, and smaller batches keep GC pressure off the critical path at
# high core counts (1024 → 2x slower at local[32]); below ~512 the per-batch
# fixed costs dominate. AQE sizes the kernel stage (pipeline.kernel_input), so
# a small run's tasks hold hundreds of docs and its batches fill to 512: on a
# 2 000-doc local[3] run that measured ~4 % more peak RSS than 32 tasks of ~62
# docs each.
ARROW_MAX_RECORDS = 512


def _pin_blas_threads() -> None:
    """One BLAS/OMP thread per Python worker. In local mode
    `spark.executorEnv` does NOT reach the workers (they inherit the driver
    env), and N workers × N-thread OpenBLAS pools measured as an 80%-system-
    time context-switch storm. Reference analog: OMP/MKL pinning at
    cli/convert.py:55-58."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")


def get_spark(
    app_name: str = "ocr_toolkit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _pin_blas_threads()
    master = master or os.environ.get("SPARK_MASTER", "local[32]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parquet writes default to zstd (guide §6; r7): interleaved A/B on
        # the bench's extract_write shape (4 reps each) measured zstd equal
        # to snappy within noise (5.71 vs 5.84 s median) at 1.75× smaller
        # output (93 vs 163 MB). Smaller files = less downstream scan I/O
        # at scale. The streaming sink (stream_extract_committed) writes
        # with this codec too; BENCH/sink_size.json measured why: a 100k-doc
        # flat batch file overflows parquet's 1 MB dictionary page on
        # out_spans.text, and snappy's PLAIN fallback balloons the table
        # (363 MB vs 158 MB zstd for the same batch; 3.68 GB vs ~1.6 GB at
        # 1M) at equal write/read times. Capping maxRecordsPerFile at ~2k
        # rows keeps files inside the dictionary page (36–54 MB) but costs
        # ~50 files per batch dir, so the sink does not cap.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # shuffle/spill to tmpfs: this box's /tmp is VM-disk-backed and its
        # write-back stalls dominate run variance; a real cluster would have
        # local NVMe here. Overridable via SPARK_LOCAL_DIRS.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
