"""Physical-plan introspection — the engine's scale-hygiene instruments.

The 100 TB design contract is checked mechanically: filters reach the
parquet scan (PushedFilters), scans read only needed columns (ReadSchema),
small dims join as BroadcastHashJoin, and aggregations keep exactly one
Exchange (partial -> shuffle -> final). test_plans.py asserts these for
the headline queries so a regression that silently de-optimizes a plan
fails CI, not the 1000-executor run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    plan = explain_string(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    plan = explain_string(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def has_broadcast_join(df: DataFrame) -> bool:
    plan = explain_string(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchanges (excludes broadcast exchanges)."""
    plan = explain_string(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan)) + len(
        re.findall(r"\+- Exchange hashpartitioning", plan)
    )
