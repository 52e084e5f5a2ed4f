"""operators/skew.py is the one home of the physical decisions: materialize,
spread and the broadcast gate, and of the LSH star guard. The source scans
pin that no other module re-implements them; the spread tests pin the
`source` rule itself."""

from __future__ import annotations

import ast
import re
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
    internals = {"broadcast_build_fits", "rows_at_most",
                 "BROADCAST_BUILD_MAX_BYTES", "PIECES_ROW_BYTES",
                 "cosine_pairs"}
    # each name is still defined at a package module's top level, so the
    # check cannot pass because an internal was renamed away
    defined = set()
    for p in (ROOT / "ocr_toolkit_spark").rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defined.add(node.name)
            elif isinstance(node, ast.Assign):
                defined |= {t.id for t in node.targets
                            if isinstance(t, ast.Name)}
    assert internals <= defined, internals - defined
    assert not imported & internals


def test_star_guard_lives_only_in_skew():
    """One candidate generator: the oversized-bucket cap comparison is
    written once, in skew.py, and every LSH modality reaches it there."""
    cap = re.compile(r"[<>]=?\s*max_bucket\b")
    holders = [p.relative_to(ROOT).as_posix()
               for p, s in _sources().items() if cap.search(s)]
    assert holders == [SKEW.relative_to(ROOT).as_posix()], holders


def test_materialize_counts_rows_and_the_broadcast_gate_runs_no_job(spark):
    from ocr_toolkit_spark.operators.skew import (
        BROADCAST_BUILD_MAX_BYTES, broadcast_build_fits, materialize)

    m = materialize(spark.range(0, 70, 1, 3))
    assert m._rows.get["rows"] == 70
    assert materialize(spark.range(0))._rows.get["rows"] == 0
    sc = spark.sparkContext
    group = "test-broadcast-gate"
    sc.setJobGroup(group, "gate")
    try:
        # budget caps of exactly 70 and 69 rows
        assert broadcast_build_fits(m, BROADCAST_BUILD_MAX_BYTES // 70)
        assert not broadcast_build_fits(m, BROADCAST_BUILD_MAX_BYTES // 69)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


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
