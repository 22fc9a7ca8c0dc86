"""Plan-inspection utilities: scale hygiene as assertable properties.

Used by tests and by developers iterating on operators — instead of
eyeballing ``.explain("formatted")``, assert the plan shape you want:
filters pushed to the scan, schema pruned, no accidental extra
exchanges, Python stages where (and only where) intended.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Executed plan string; after AQE finalizes (an action ran), the
    string echoes the pre-adaptive plan under '== Initial Plan ==' —
    drop that echo so node counts reflect the plan that actually ran."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the executed plan (AQE reuse collapses
    duplicates, so this is the real shuffle count)."""
    return len(re.findall(r"\bExchange hashpartitioning", executed_plan(df)))


def count_python_stages(df: DataFrame) -> int:
    plan = executed_plan(df)
    return sum(
        plan.count(tag)
        for tag in (
            "MapInPandas",
            "ArrowEvalPython",
            "BatchEvalPython",
            "FlatMapGroupsInPandas",
            "MapInArrow",
        )
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached the data source scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", executed_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every scan — verify column pruning."""
    return re.findall(r"ReadSchema: ([^\n]*)", executed_plan(df))


def assert_scan_pruned(df: DataFrame, must_not_read: list[str]) -> None:
    for schema in read_schemas(df):
        for col in must_not_read:
            assert col not in schema, f"scan reads pruned column {col}: {schema}"


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = count_exchanges(df)
    assert got <= n, f"plan has {got} shuffles (budget {n}):\n{executed_plan(df)}"


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen regions — wider regions mean more of
    the plan runs as generated JVM code."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


def lambda_bodies(df: DataFrame) -> list[str]:
    """Text of every ``lambdafunction(...)`` in the optimized plan.
    Higher-order-function lambdas run interpreted with no common-
    subexpression elimination, so whatever a body computes is paid once
    per array element."""
    plan = optimized_plan(df)
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end(): i - 1])
    return out


def lambda_splits(df: DataFrame) -> int:
    """Lambda bodies that call ``split(``: each re-tokenizes its whole
    input per array element instead of reading a bound token array."""
    return sum("split(" in body for body in lambda_bodies(df))
