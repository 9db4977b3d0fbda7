"""Plan inspection helpers — make performance assertions testable.

The north rule demands specific physical shapes (broadcast enrichment, no
per-row Python, pushdown). These helpers turn `.explain()` eyeballing into
pytest assertions so regressions fail CI, not the 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # type: ignore[attr-defined]


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan and "BroadcastExchange" in plan, (
        "expected a broadcast join, got:\n" + plan
    )
    assert "SortMergeJoin" not in plan, "enrichment join degraded to SortMergeJoin:\n" + plan


def assert_no_python_udf(df: DataFrame) -> None:
    """No row-at-a-time Python (BatchEvalPython). ArrowEvalPython (pandas
    UDF) is allowed — that's the sanctioned slow path."""
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in plan:\n" + plan
