"""Plan inspection helpers for tests/test_plans.py: assert the
physical plan we designed for is the plan Catalyst actually picked
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )


def codegen_subtree_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees ('codegen' explain mode —
    available pre-execution, unlike the [codegen id] markers that AQE
    only renders in the final executed plan)."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    return int(m.group(1)) if m else 0


def plan_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    plan = formatted_plan(df)
    return {n: (n in plan) for n in needles}


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """The scan must carry the predicate (PushedFilters), not re-filter
    post-scan only."""
    plan = formatted_plan(df)
    if "PushedFilters: [" not in plan or fragment not in plan:
        raise AssertionError(
            f"expected pushed filter {fragment!r}; plan:\n{plan[:4000]}"
        )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"expected a broadcast join; plan:\n{plan[:4000]}")


def single_partition_sorts(df: DataFrame) -> int:
    """Number of Sort nodes fed by an ``Exchange SinglePartition`` —
    the physical signature of an unpartitioned global window/sort that
    funnels EVERY row through one task. Scalar aggregates also use
    SinglePartition exchanges (over tiny partials), so only the
    Sort-over-Exchange shape counts as a violation."""
    import re

    plan = formatted_plan(df)
    sp_ids = {
        m.group(1)
        for m in re.finditer(
            r"\((\d+)\) Exchange\n(?:[^\n]*\n)?Arguments: SinglePartition", plan
        )
    }
    if not sp_ids:
        return 0
    tree = plan.split("\n\n")[0].splitlines()
    hits = 0
    for i, line in enumerate(tree):
        m = re.search(r"Exchange \((\d+)\)", line)
        if not m or m.group(1) not in sp_ids:
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        for prev in reversed(tree[:i]):
            p_indent = len(prev) - len(prev.lstrip(" :+-"))
            if p_indent < indent:
                if re.search(r"\bSort \(", prev):
                    hits += 1
                break
    return hits


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan — the
    scale currency. Operators documented as single-shuffle are tested
    with this."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line
    )
