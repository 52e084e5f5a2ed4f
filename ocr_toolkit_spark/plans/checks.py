"""Physical-plan assertions — the properties that matter at 100 TB,
checkable in tests and tools/explain_report.py:

- the extraction path has exactly ONE Python (MapInArrow) stage;
- filters/columns reach the parquet scan (PushedFilters / ReadSchema);
- small dimension sides broadcast instead of shuffling.

`executed_plans` reads the plans Spark actually ran (the final adaptive
plan of each SQL execution, eager checkpoints included), for operators
whose plan is cut by `skew.materialize` and so cannot be explained lazily.

No custom Catalyst rules anywhere — these verify that the *declarative* plans
we build get the built-in optimizations we rely on (SURVEY.md §4).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# formatted plans print each node twice (tree + "(n) Node" detail section);
# count the detail headers so each physical node counts once
_PY_NODE_RE = re.compile(
    r"^\(\d+\) (MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython)",
    re.MULTILINE,
)


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plans(spark: SparkSession, run: Callable[[], object]) -> list[str]:
    """Call `run()` and return the formatted physical plans of the SQL
    executions it ran, in execution order, read from Spark's SQL status
    store. Executions are selected by id, not list position: the store
    keeps only the last `spark.sql.ui.retainedExecutions`."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions() -> dict:
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return {e.executionId(): e for e in (xs.apply(i) for i in range(xs.size()))}

    before = max(executions(), default=-1)
    run()
    after = executions()
    return [after[i].physicalPlanDescription()
            for i in sorted(after) if i > before]


def assert_single_python_stage(df: DataFrame) -> None:
    plan = formatted_plan(df)
    nodes = _PY_NODE_RE.findall(plan)
    assert len(nodes) == 1, f"expected exactly 1 Python stage, found {nodes}:\n{plan}"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in plan"


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    plan = formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any(fragment in ln for ln in pushed), (
        f"filter {fragment!r} not pushed to scan:\n{plan}"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in plan:\n{plan}"
    )
