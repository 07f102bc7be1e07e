"""Plan-inspection helpers: assert the physical plan is the one that
survives 100 TB, not just one that returns correct rows.

Used by tests to pin: parquet filter pushdown + column pruning,
broadcast joins for dim tables, TakeOrderedAndProject for top-k, the
absence of Python evaluation nodes in hot paths, and how many Spark
jobs and tasks a call dispatches.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    plan = explain_formatted(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and column in m.group(1), (
        f"no pushed filter on {column}; PushedFilters={m.group(1) if m else 'NONE'}"
    )


def assert_read_schema(df: DataFrame, cols: set[str], table_hint: str = "") -> None:
    """The parquet scan must read exactly `cols` (column pruning)."""
    plan = explain_formatted(df)
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        read = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        if table_hint and table_hint not in plan[: m.start()].rsplit("Scan", 1)[-1]:
            continue
        if read <= cols:
            return
    raise AssertionError(f"no scan restricted to {cols}; plan:\n{plan[:2000]}")


def assert_partition_filter(df: DataFrame, column: str) -> None:
    """The scan must prune directories on `column` (partition pruning,
    not a post-scan filter)."""
    plan = explain_formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and column in m.group(1), (
        f"no partition filter on {column}; "
        f"PartitionFilters={m.group(1) if m else 'NONE'}"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    assert "BroadcastHashJoin" in physical_plan(df), "expected a broadcast hash join"


def assert_take_ordered(df: DataFrame) -> None:
    assert "TakeOrderedAndProject" in physical_plan(df), (
        "top-k should compile to TakeOrderedAndProject (per-partition heap), "
        "not a global sort"
    )


def assert_no_python_eval(df: DataFrame) -> None:
    plan = physical_plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"unexpected Python evaluation node {node} in hot path"


def count_exchanges(df: DataFrame) -> int:
    return len(re.findall(r"\bExchange\b", physical_plan(df)))


def jobs_and_tasks(spark: SparkSession, fn: Callable[[], object]) -> tuple[int, int]:
    """Run ``fn()`` under a job group of its own and return how many
    Spark jobs it ran and how many tasks those jobs completed. The
    listener bus is drained first, so the counts are complete."""
    sc = spark.sparkContext
    group = f"checks.jobs_and_tasks.{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
    tasks = sum(si.numCompletedTasks for s in stages if (si := st.getStageInfo(s)))
    return len(jobs), tasks
