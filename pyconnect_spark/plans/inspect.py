"""Physical-plan inspection: programmatic access to the facts that matter
at 100 TB — did the filter push into the parquet scan, did the scan prune
columns, did the small side broadcast, how much of the plan runs inside
whole-stage codegen.

Used by tests/test_plans.py to *assert* the plan shape (so a regression
that silently un-pushes a predicate fails CI), and handy interactively:

    >>> from pyconnect_spark.plans import pushed_filters
    >>> pushed_filters(df)
    ["IsNotNull(l_quantity)", "GreaterThan(l_quantity,45.0)"]
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (instead of printed)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


def executed_plans(spark: SparkSession, run: Callable[[], object]) -> list[str]:
    """Runs ``run()`` and returns the physical plan of every SQL execution
    it started, in order: the query's own and those of its eager steps
    (cache fills, checkpoints), which the final plan shows only as a scan.
    Read from the session's SQL status store once its listener has caught
    up."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty(60_000)
        return store.executionsList()  # ascending execution id

    seen = executions()
    last = seen.last().executionId() if seen.nonEmpty() else -1
    run()
    done = executions()
    plans = []
    i = done.size() - 1
    while i >= 0 and done.apply(i).executionId() > last:
        plans.append(done.apply(i).physicalPlanDescription())
        i -= 1
    return plans[::-1]


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the (parquet) scan, flattened across scans."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Column names actually read from the scans (column pruning check)."""
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — wider/fewer is better.
    Formatted mode tags operators with ``[codegen id : N]``; simple mode
    prints ``WholeStageCodegen (N)``."""
    text = explain_str(df)
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    ids |= set(re.findall(r"codegen id : (\d+)", text))
    if not ids:
        # Under AQE codegen subtrees only materialize in the *final* plan.
        # collect() executes THIS frame's queryExecution (count() would
        # build a different plan), after which the same handle reports the
        # finalized plan with codegen ids.
        df.collect()
        text = explain_str(df)
        ids = set(re.findall(r"codegen id : (\d+)", text))
        ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    return len(ids)


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window/WindowGroupLimit nodes in the OPTIMIZED logical plan whose
    partition spec is empty — each one is a whole-frame single-task sort at
    execution time ("WARN WindowExec: No Partition Defined"). The scale bar
    for this repo is an empty list on every declared query; a legitimately
    tiny frame should rank via ``rankops.rank_small_frame`` instead so the
    plan itself proves the bound. Walks the logical (not executed) plan, so
    it is safe to call without running the query."""
    found: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty():
            found.append(node.simpleString(120))
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


def execute_with_metrics(df: DataFrame) -> tuple[int, dict[str, int]]:
    """Execute ``df`` (count) and return (row_count, aggregated SQL
    metrics from the EXECUTED plan): shuffle bytes/records written,
    shuffle bytes read, disk spill, and output rows of the root node.

    This is the measure-don't-guess primitive behind the scale notes:
    plan-shape tests (pushdown, broadcast) say what SHOULD happen;
    executed-plan metrics say what DID. Works by walking the physical
    plan tree through py4j and summing each node's SQLMetric values —
    no listener registration, no REST scraping, so it composes with any
    session. Executes via collect() on THIS Dataset — count() would build
    a new plan instance whose metrics live elsewhere — so point it at
    diagnostic-sized results (every registry query qualifies), not raw
    facts."""
    n = len(df.collect())
    root = df._jdf.queryExecution().executedPlan()

    # pre-seed so a plan with NO exchange still reports explicit zeros
    totals: dict[str, int] = {
        "shuffleBytesWritten": 0,
        "shuffleRecordsWritten": 0,
        "remoteBytesRead": 0,
        "localBytesRead": 0,
        "spillSize": 0,
        "diskBytesSpilled": 0,
        "memoryBytesSpilled": 0,
    }

    def walk(node) -> None:
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            if key in (
                "shuffleBytesWritten",
                "shuffleRecordsWritten",
                "remoteBytesRead",
                "localBytesRead",
                "spillSize",
                "diskBytesSpilled",
                "memoryBytesSpilled",
            ):
                totals[key] = totals.get(key, 0) + int(metric.value())
        for i in range(node.children().length()):
            walk(node.children().apply(i))
        # AQE wraps stages; descend into materialized subqueries/stages
        cls = node.getClass().getSimpleName()
        if cls in ("AdaptiveSparkPlanExec",):
            walk(node.executedPlan())
        elif cls in ("QueryStageExec", "ShuffleQueryStageExec", "BroadcastQueryStageExec", "TableCacheQueryStageExec", "ResultQueryStageExec"):
            walk(node.plan())

    walk(root)
    totals["shuffle_bytes_read"] = totals.get("remoteBytesRead", 0) + totals.get(
        "localBytesRead", 0
    )
    return n, totals
