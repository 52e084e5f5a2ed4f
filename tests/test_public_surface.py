"""Every public package function has a production caller: a top-level
public `def` under ocr_toolkit_spark/ is named by a non-test source other
than its own definition: the package, job.py, __spark_entry__.py,
bench.py, tools/, perfbench/ or BENCH/. The scan is by name over the
source text, so a mention in another module's prose also counts.
The allow-list names the few functions kept on purpose without a caller."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ocr_toolkit_spark"

ALLOWED = {
    "streaming/stream_dedup.py::run_stream_dedup":
        "the streaming-dedup driver; giving it a caller needs a new job.py "
        "flag, so tests drive it",
    "oracle.py::render_markdown": "the test oracle's markdown renderer",
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


def _uncalled(allowed: dict[str, str]) -> list[str]:
    texts = {p: p.read_text() for p in _non_test_sources()}
    out = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if f"{rel}::*" in allowed:
            continue
        lines = texts[p].splitlines()
        for node in ast.parse(texts[p]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or f"{rel}::{node.name}" in allowed:
                continue
            # this module minus the function's own definition, and every
            # other non-test source
            own = "\n".join(lines[:node.lineno - 1]
                            + lines[node.end_lineno:])
            word = re.compile(rf"\b{node.name}\b")
            if not any(word.search(own if q == p else t)
                       for q, t in texts.items()):
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
