"""The spark-submit job end to end: `job.py` extracts a corpus in its own
process and prints one JSON summary line whose counts match the table it
wrote."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.dataset as ds

ROOT = Path(__file__).resolve().parents[1]


def test_job_prints_run_report(tmpdir_path):
    from ocr_toolkit_spark.fixtures import write_corpus

    corpus = os.path.join(tmpdir_path, "docs.parquet")
    out = os.path.join(tmpdir_path, "out")
    write_corpus(corpus, n_docs=60, seed=42)
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, str(ROOT / "job.py"), "--master", "local[2]",
         "--input", corpus, "--output", out,
         "--lineage", os.path.join(tmpdir_path, "lineage"),
         "--run-id", "cli-1"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {"run_id", "partitions_processed", "partitions_skipped", "docs",
            "failed_docs"} <= summary.keys()
    assert summary["run_id"] == "cli-1"
    assert summary["docs"] == 60
    written = ds.dataset(out, format="parquet", partitioning="hive").to_table(
        columns=["success"]).column("success").to_pylist()
    assert len(written) == 60
    assert summary["failed_docs"] == written.count(False)
    by_method = summary["report"]["by_method"]
    assert sum(m["docs"] for m in by_method.values()) == 60
