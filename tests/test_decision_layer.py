"""operators/skew.py is the one home of the physical decisions: materialize,
spread and the broadcast gate. The source scan pins that no other module
re-implements them; the spread tests pin the `source` rule itself."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SKEW = ROOT / "ocr_toolkit_spark" / "operators" / "skew.py"
ENTRY = ROOT / "__spark_entry__.py"


def _sources() -> dict[Path, str]:
    files = sorted((ROOT / "ocr_toolkit_spark").rglob("*.py")) + [ENTRY]
    return {p: p.read_text() for p in files}


def test_physical_decisions_live_only_in_skew():
    srcs = _sources()
    for needle in ("localCheckpoint", "getNumPartitions() * 2"):
        holders = [p.relative_to(ROOT).as_posix()
                   for p, s in srcs.items() if needle in s]
        assert holders == [SKEW.relative_to(ROOT).as_posix()], (needle, holders)


def test_entry_calls_operators_not_their_internals():
    imported = {
        alias.name
        for node in ast.walk(ast.parse(ENTRY.read_text()))
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
    }
    internals = {"star_capped_pairs", "broadcast_build_fits",
                 "BANDED_ROW_BYTES", "PIECES_ROW_BYTES"}
    assert not imported & internals


def test_spread_decides_on_source_and_repartitions_derived(spark):
    from ocr_toolkit_spark.operators.skew import spread

    target = spark.sparkContext.defaultParallelism
    src = spark.range(0, 64, 1, 1)
    derived = src.filter("id % 2 = 0")
    out = spread(derived, source=src)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(0, 64, 2))


def test_spread_leaves_frame_when_source_is_wide(spark):
    from ocr_toolkit_spark.operators.skew import spread

    target = spark.sparkContext.defaultParallelism
    src = spark.range(0, 64, 1, target // 2 + 1)
    # the derived frame alone would trip the floor; the source decides
    derived = src.coalesce(1)
    assert spread(derived, source=src) is derived
    assert spread(src) is src
