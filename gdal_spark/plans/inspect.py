"""Physical-plan inspection helpers.

The scale contract of this engine is expressed as *plan properties*
(SCALE.md): filters reach the scan, small dims broadcast, pixel
columns are pruned, Python appears only in designated stages. These
helpers read them off the physical plan so that
``tests/test_plan_properties.py`` can assert them — the
`.explain("formatted")`-and-iterate loop as code.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_python_stages(df: DataFrame) -> int:
    """Number of Python-eval operators (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) in the physical plan — the hot-path budget."""
    p = simple_plan(df)
    return sum(
        p.count(k)
        for k in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes. The formatted plan prints each
    node twice (tree line and detail header) and names broadcasts
    ``BroadcastExchange``; only the ``(n) Exchange`` headers count."""
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), flags=re.M))
