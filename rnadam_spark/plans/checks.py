"""Physical-plan inspection helpers.

The reference has no optimizer (SURVEY.md §4) — all optimization was
manual. Here Catalyst does the work, and these helpers make the
resulting physical plans *assertable*: tests pin that filters reach the
parquet scan, small dims go broadcast, and operators don't shuffle more
than designed. That turns "would this plan survive a 100× scale-up"
from a review comment into a regression test.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jqe.explainString(jmode)


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan reports a pushed filter mentioning
    ``fragment`` (column name, typically)."""
    plan = plan_string(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def _operator_details(df: DataFrame, operator: str) -> list[str]:
    """The formatted plan's detail block of every ``operator`` node
    (``(3) Filter [codegen id : 1]`` plus its field lines)."""
    return re.findall(
        rf"^\(\d+\) {operator}\b.*?(?=\n\n|\Z)", plan_string(df), re.M | re.S
    )


def count_parquet_scans(df: DataFrame, path_fragment: str) -> int:
    """Number of parquet scan operators whose location mentions
    ``path_fragment`` — a frame consumed by two branches of one plan (a
    self-join, an aggregate joined back) scans its source once per
    branch unless something materialized it first."""
    return sum(
        any(
            path_fragment in line
            for line in block.splitlines()
            if line.startswith("Location: ")
        )
        for block in _operator_details(df, "Scan parquet")
    )


def filter_conditions(df: DataFrame) -> list[str]:
    """The condition of every Filter operator, as the plan prints it —
    predicate pushdown substitutes a projection's aliases into a Filter
    it moves below that projection, so this is where an expression the
    caller staged once can reappear."""
    return [
        line.removeprefix("Condition : ")
        for block in _operator_details(df, "Filter")
        for line in block.splitlines()
        if line.startswith("Condition : ")
    ]


def read_schema_columns(df: DataFrame, table_fragment: str) -> set[str]:
    """Columns actually read from scans whose location matches
    ``table_fragment`` (checks column pruning)."""
    plan = plan_string(df)
    cols: set[str] = set()
    for block in plan.split("Scan parquet")[1:]:
        head = block[:2000]
        loc = re.search(r"Location: \S+ \[([^\]]*)\]", head)
        # anchor on the scan's file path, not arbitrary text (a column
        # like n_regionkey would otherwise match fragment "region")
        if loc and f"{table_fragment}.parquet" in loc.group(1):
            m = re.search(r"ReadSchema: struct<([^>]*)>", head)
            if m:
                cols |= {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def has_window(df: DataFrame) -> bool:
    """True if the physical plan contains a Window operator — the
    one-task-per-group funnel that skew-safe rewrites must avoid."""
    return re.search(r"\bWindow\b", plan_string(df, "simple")) is not None


def count_shuffles(df: DataFrame) -> int:
    """Number of hash/range exchange operators (shuffle boundaries),
    excluding broadcast exchanges."""
    plan = plan_string(df, "simple")
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
