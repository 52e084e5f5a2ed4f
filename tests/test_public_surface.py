"""Every public package function has a production caller: a top-level
public `def` under ocr_toolkit_spark/ is used by name in a non-test source
other than its own definition: the package, job.py, __spark_entry__.py,
bench.py, tools/, perfbench/ or BENCH/. A use is an AST `Name` or
`Attribute` node or an imported name, so a mention in a docstring,
comment or string does not count. The allow-list names the few functions
kept on purpose without a caller."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocr_toolkit_spark"

ALLOWED = {
    "streaming/stream_dedup.py::run_stream_dedup":
        "the streaming-dedup driver; giving it a caller needs a new job.py "
        "flag, so tests drive it",
    "oracle.py::render_markdown": "the test oracle's markdown renderer",
    "oracle.py::quality_score":
        "the oracle's quality formula; tests compare the engine's to it",
    "operators/similarity.py::cosine":
        "the plain cosine that cosine_precomputed hoists; tests build the "
        "exact all-pairs truth with it",
    "operators/textstats.py::compare_methods":
        "the column-level method-comparison spec; tests check "
        "with_compare_methods against it",
    "plans/checks.py::*":
        "plan-assertion helpers for tests and tools/explain_report.py",
}


def _non_test_sources() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / n for n in ("job.py", "__spark_entry__.py", "bench.py")]
    for d in ("tools", "perfbench", "BENCH"):
        files += sorted(p for p in (ROOT / d).rglob("*.py")
                        if "tests" not in p.relative_to(ROOT).parts)
    return files


def _used_names(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every name the module uses: `Name` and `Attribute`
    nodes and the names it imports."""
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.append((n.id, n.lineno))
        elif isinstance(n, ast.Attribute):
            out.append((n.attr, n.lineno))
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out += [(a.name.rsplit(".", 1)[-1], n.lineno) for a in n.names]
    return out


def _uncalled(allowed: dict[str, str]) -> list[str]:
    trees = {p: ast.parse(p.read_text()) for p in _non_test_sources()}
    used = {p: _used_names(t) for p, t in trees.items()}
    out = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if f"{rel}::*" in allowed:
            continue
        for node in trees[p].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or f"{rel}::{node.name}" in allowed:
                continue
            # uses inside the function's own definition do not count
            if not any(name == node.name and not (
                           q == p and node.lineno <= line <= node.end_lineno)
                       for q, names in used.items() for name, line in names):
                out.append(f"{rel}::{node.name}")
    return out


def test_every_public_function_has_a_production_caller():
    assert _uncalled(ALLOWED) == []


def test_allow_list_names_only_uncalled_functions():
    """Each allow-listed function still exists and still has no caller; one
    that gains a caller leaves the allow-list."""
    named = sorted(k for k in ALLOWED if not k.endswith("::*"))
    modules = {k: v for k, v in ALLOWED.items() if k.endswith("::*")}
    assert all((PKG / k.split("::")[0]).exists() for k in modules)
    assert set(named) <= set(_uncalled(modules))
