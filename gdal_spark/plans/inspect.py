"""Physical-plan inspection helpers.

The scale contract of this engine is expressed as *plan properties*
(SCALE.md): filters reach the scan, small dims broadcast, pixel
columns are pruned, Python appears only in designated stages. These
helpers make those properties assertable in tests and dumpable for
review — the `.explain("formatted")`-and-iterate loop as code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_broadcast_join(df: DataFrame) -> None:
    p = formatted_plan(df)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, (
        "expected a broadcast join in plan:\n" + p[:4000]
    )


def assert_no_cartesian(df: DataFrame) -> None:
    p = formatted_plan(df)
    assert "CartesianProduct" not in p, "cartesian product in plan:\n" + p[:4000]


def assert_no_nested_loop(df: DataFrame) -> None:
    """No CartesianProduct AND no BroadcastNestedLoopJoin — the two
    unbounded-comparison join shapes that do not survive a 100× scale-up
    (VERDICT r01 'what's wrong' §1/§4)."""
    p = formatted_plan(df)
    assert "CartesianProduct" not in p, "cartesian product in plan:\n" + p[:4000]
    assert "BroadcastNestedLoopJoin" not in p, (
        "BroadcastNestedLoopJoin in plan:\n" + p[:4000]
    )


def count_python_stages(df: DataFrame) -> int:
    """Number of Python-eval operators (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) in the physical plan — the hot-path budget."""
    p = simple_plan(df)
    return sum(
        p.count(k)
        for k in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    return simple_plan(df).count("WholeStageCodegen")
