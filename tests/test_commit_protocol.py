"""io.py is the one home of the table-commit protocol: create-exclusive
publish, dynamic partition overwrite and the committed-partition fold. The
source scan pins that the state, index and sink modules call io for these
steps instead of re-implementing them; the unit tests pin the steps."""

from __future__ import annotations

import ast
import os
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocr_toolkit_spark"
IO = PKG / "io.py"
ENTRY = ROOT / "__spark_entry__.py"


def _sources() -> dict[Path, str]:
    files = sorted(PKG.rglob("*.py")) + [ENTRY]
    return {p: p.read_text() for p in files}


def test_publish_and_overwrite_live_only_in_io():
    srcs = _sources()
    for needle in ("os.link", "partitionOverwriteMode"):
        holders = [p.relative_to(ROOT).as_posix()
                   for p, s in srcs.items() if needle in s]
        assert holders == [IO.relative_to(ROOT).as_posix()], (needle, holders)


# builds the input corpora with pyarrow; it writes no engine table
CORPUS_BUILDER = PKG / "fixtures.py"


def test_renames_and_pyarrow_table_writes_live_only_in_io():
    """Moving files into partition directories and writing parquet from
    Python are commit-protocol steps: the extraction kernel's worker calls
    io.write_parquet_file, and the driver io.publish_partition_files."""
    srcs = _sources()
    for needle in ("os.replace", "os.rename", "shutil.move", "ParquetWriter",
                   "write_table"):
        outside = [p.relative_to(ROOT).as_posix()
                   for p, s in srcs.items()
                   if needle in s and p not in (IO, CORPUS_BUILDER)]
        assert outside == [], (needle, outside)
    for needle in ("os.replace", "ParquetWriter", "write_table"):
        assert needle in srcs[IO], needle


def test_sweep_reclaims_and_report_lists_dead_staging_dirs(tmpdir_path):
    """A write that died leaves its staging directory inside the table:
    Spark's dynamic partition overwrite stages under `.spark-staging-<job>`
    and io.staging_dir under `.staging-<id>`. The sweep reclaims both past
    its age guard, and table_report lists them until then."""
    import time

    from ocr_toolkit_spark import io as tio

    t = os.path.join(tmpdir_path, "t")
    tio.snapshot_commit(t, "r0", [0])
    dead = [".spark-staging-0f1e", f"{tio.STAGING_PREFIX}9a8b"]
    for name in dead:
        inner = os.path.join(t, name, "_temporary", "0", "partition_id=3")
        os.makedirs(inner)
        with open(os.path.join(inner, "part-0.parquet"), "wb") as f:
            f.write(b"x")
    assert tio.table_report(t)["staging_dirs"] == sorted(dead)
    assert tio.sweep_orphan_partitions(t, older_than_s=3600) == []  # young

    old = time.time() - 7200
    for name in dead:
        for root, dirs, files in os.walk(os.path.join(t, name)):
            for n in dirs + files + [""]:
                os.utime(os.path.join(root, n), (old, old))
    assert tio.sweep_orphan_partitions(t, older_than_s=3600) == sorted(dead)
    assert tio.table_report(t)["staging_dirs"] == []
    assert sorted(os.listdir(t)) == ["_snapshots"]


def test_operators_do_not_fold_the_snapshot_log():
    callers = []
    for p in sorted((PKG / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name == "partitions_as_of":
                callers.append(
                    f"{p.relative_to(ROOT).as_posix()}:{node.lineno}")
    assert callers == []


def test_publish_exclusive_reports_the_winner(tmpdir_path):
    from ocr_toolkit_spark import io as tio

    path = os.path.join(tmpdir_path, "t", "_meta.json")
    assert tio.publish_exclusive(path, b'{"a": 1}')
    assert not tio.publish_exclusive(path, b'{"a": 2}')
    assert tio.read_meta(os.path.dirname(path), "_meta.json") == {"a": 1}
    # no tmp file is left behind by either attempt
    assert os.listdir(os.path.dirname(path)) == ["_meta.json"]


def test_partition_ids_follow_the_tip(tmpdir_path):
    from ocr_toolkit_spark import io as tio

    t = os.path.join(tmpdir_path, "t")
    assert tio.owned_partitions(t) == []
    assert tio.next_partition_id(t) == 0
    tio.snapshot_commit(t, "r0", [0])
    tio.snapshot_commit(t, "r1", [1])
    tio.snapshot_commit(t, "merge", [2], operation="replace",
                        remove_partition_ids=[0, 1])
    assert tio.owned_partitions(t) == [2]
    assert tio.next_partition_id(t) == 3


def test_log_records_have_one_format(tmpdir_path):
    """Every record `snapshot_commit` writes carries exactly the six
    keys the log readers rely on; `partitions` rides along only on
    checkpoint ids. Append, replace, delete and de-owning commits, and a
    commit landing on a checkpoint id, are all covered."""
    import json

    from ocr_toolkit_spark import io as tio

    t = os.path.join(tmpdir_path, "t")
    keys = {"snapshot_id", "parent_id", "run_id", "committed_ms", "delta",
            "operation"}
    tio.snapshot_commit(t, "a0", [0, 1])
    tio.snapshot_commit(t, "a1", [2])
    tio.snapshot_commit(t, "m", [3], operation="replace",
                        remove_partition_ids=[0, 1])
    tio.snapshot_commit(t, "gc", [2], operation="delete")
    while tio.latest_snapshot_id(t) < tio.CHECKPOINT_EVERY + 1:
        tio.snapshot_commit(t, "fill", [4])
    ops = set()
    d = os.path.join(t, "_snapshots")
    for sid in range(1, tio.latest_snapshot_id(t) + 1):
        with open(os.path.join(d, f"snap-{sid:08d}.json")) as f:
            rec = json.load(f)
        ops.add(rec["operation"])
        if sid % tio.CHECKPOINT_EVERY == 0:
            assert set(rec) == keys | {"partitions"}, sid
            assert rec["partitions"] == tio.partitions_as_of(t, sid)
        else:
            assert set(rec) == keys, sid
    assert ops == {"append", "replace", "delete"}
    assert tio.snapshots(t)[2]["delta"] == {"3": "m", "0": None, "1": None}
