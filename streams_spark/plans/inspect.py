"""Physical-plan introspection helpers.

Used by tools/audit_plans.py (PLANS.md generation) and by tests that
assert plan shapes (no-shuffle bucketed joins, partition pruning). Kept
engine-agnostic: everything works off `df.explain("formatted")` text, so
it needs no private Spark APIs.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections import Counter

from pyspark.sql import DataFrame

PYTHON_STAGES = (
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def extended_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def physical_section(df: DataFrame) -> str:
    return extended_plan(df).split("== Physical Plan ==")[-1]


def operator_counts(df: DataFrame) -> Counter:
    """Counts of physical operators in the (pre-AQE) formatted plan.
    Once `df` has run an action, its plan also lists AQE's final plan;
    the nodes only that plan holds (query stages, AQE shuffle reads,
    re-planned exchanges) are left out, so the counts are the same
    before and after the query runs. Only node headers, which start
    their line, count: `count(1) windowspecdefinition(...)` inside a
    Window's `Arguments:` line is no operator."""
    plan = formatted_plan(df)
    final, initial, block = set(), set(), None
    for line in plan.splitlines():
        if "== Final Plan ==" in line:
            block = final
        elif "== Initial Plan ==" in line:
            block = initial
        elif not line.strip():
            block = None
        elif block is not None:
            block.update(re.findall(r"\((\d+)\)", line))
    final_only = final - initial
    return Counter(
        k for i, k in re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
        if i not in final_only
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Non-trivial filters that reached a Parquet scan."""
    plan = formatted_plan(df)
    groups = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return sorted(
        {
            p.strip().split("(")[0]
            for g in groups
            for p in g.split(",")
            if p.strip() and not p.strip().startswith("IsNotNull")
        }
    )


def partition_filters(df: DataFrame) -> list[str]:
    plan = extended_plan(df)
    return [l.strip() for l in plan.splitlines() if "PartitionFilters" in l]


def python_stage_count(df: DataFrame) -> int:
    c = operator_counts(df)
    return sum(c.get(k, 0) for k in PYTHON_STAGES)


def assert_no_shuffle(df: DataFrame) -> None:
    plan = physical_section(df)
    assert "Exchange" not in plan, f"unexpected Exchange in plan:\n{plan}"


def aqe_final_summary(df: DataFrame) -> dict[str, int]:
    """Execute the DataFrame and summarize its AQE FINAL plan: shuffles
    that actually ran, AQE coalesced reads, and join strategies. Reads
    the SAME QueryExecution the action ran (executedPlan), so the
    numbers reflect runtime re-planning, not the static estimate —
    call only on queries with driver-sized results."""
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    return {
        "is_final": int("isFinalPlan=true" in final),
        # distinct shuffle stages that actually ran (reuse not re-counted)
        "shuffle_stages": len(
            set(re.findall(r"ShuffleQueryStage (\d+)", final))
        ),
        "reused": len(re.findall(r"ReusedExchange", final)),
        "coalesced": len(re.findall(r"AQEShuffleRead coalesced", final)),
        "bhj": len(re.findall(r"BroadcastHashJoin", final)),
        "smj": len(re.findall(r"SortMergeJoin", final)),
        "shj": len(re.findall(r"ShuffledHashJoin", final)),
    }
