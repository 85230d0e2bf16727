"""Shared helpers for operator builders.

The decimal-accumulation pattern: fixture money/quantity columns hold exact
2-decimal values stored as DOUBLE. Summing doubles is order-dependent, and
Spark's partial aggregation order differs from DuckDB's — so instead we cast
to DECIMAL (exact), aggregate exactly, and cast the final scalar back to
DOUBLE. Both engines then produce bitwise-identical results regardless of
parallelism — which also means the answer is stable when the same query runs
on a 1000-executor cluster with different partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.catalog import load_table

MONEY = "decimal(12,2)"  # exact 2-dp values up to 10^10 — covers all fixtures
FACTOR = "decimal(4,2)"  # discount / tax factors in [0, 2)

# spread()'s partition-count probe memo: (applicationId, semanticHash) -> n
_SPREAD_MEMO: dict[tuple[str, int], int] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Scale-adaptive map-parallelism floor for heavy map chains.

    The fixture tables are single-row-group parquet files, so a scan is ONE
    task and every map-heavy stage fused to it (md5 fingerprinting,
    tokenize+explode, shingling, per-row array math) runs single-threaded
    regardless of core count — the "one huge unsplittable input" case of the
    optimization guide (§2.5 input skew: repartition immediately after the
    read; §6: a single-row-group file cannot be split further by
    maxPartitionBytes). Round-robin repartition to the session's default
    parallelism, but ONLY when the plan currently has fewer partitions: at
    100 TB a scan already carries >= cores partitions and this returns the
    input unchanged — the trigger is measured from the plan, never a
    constant tuned to either environment. Callers select the needed columns
    FIRST so the exchange moves only those bytes (§2.3). Determinism: Spark
    sorts input before round-robin repartition (SPARK-23207, on by default),
    so the row-to-partition assignment replays under task retry, and every
    declared query's result is partitioning-independent (proven by the
    two-partitioning strict sweep).

    Pass a unique key column (``spread(df, "doc_id")``) where one exists:
    hash repartitioning on a real key skips round-robin's
    sort-before-repartition pass and distributes evenly for unique keys.
    """
    if df.isStreaming:  # streaming plans have no RDD to probe; no-op
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _probe_partitions(df) >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def _probe_partitions(df: DataFrame) -> int:
    """Measured partition count of a frame's plan, memoized.

    The probe (plan → RDD) costs ~40-100 ms of driver planning per call;
    memoize it on the ANALYZED plan's semantic hash (analysis is cached on
    the DataFrame and the hash is a cheap tree walk), so e.g. a
    tuning-curve query building 8 signature variants over the same
    tokenized frame probes once, not 8 times. Only probe scan/map-only
    frames: on a frame containing an Exchange, materializing the RDD would
    finalize (and start executing) the adaptive plan.
    """
    sc = df.sparkSession.sparkContext
    key = (sc.applicationId, df._jdf.queryExecution().analyzed().semanticHash())
    nparts = _SPREAD_MEMO.get(key)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        if len(_SPREAD_MEMO) > 4096:  # bound a long session's memo
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[key] = nparts
    return nparts


def spread_on(df: DataFrame, base: DataFrame, *keys: str | Column) -> DataFrame:
    """Keyed parallelism floor for a DERIVED frame (candidate pairs, the
    inputs of a cell-keyed candidate join) feeding a CPU-dense per-row
    stage — the array folds of the similarity tier, which are higher-order
    functions Spark evaluates interpreted (no whole-stage codegen), so
    their cost is rows x dims of EXPRESSION evaluation even when the bytes
    are tiny. AQE's byte-based partition coalescing sees only the bytes
    and shrinks the post-exchange stage to a handful of tasks at fixture
    scale (guide §2.5 — the round-11 "pair-scoring under-parallelizes"
    leftover).

    The derived frame itself cannot be probed the way spread() probes a
    scan (materializing the RDD of a post-Exchange plan finalizes the
    adaptive plan and starts executing it), so the TRIGGER is the measured
    partition count of the BASE SCAN the pipeline reads (static, memoized
    — spread()'s probe): when the base scan already carries >= cores
    partitions (any real corpus; 100 TB), this returns the input
    unchanged and AQE keeps full control. When the base is a
    single-row-group fixture file, *df* is hash-repartitioned on *keys*
    to defaultParallelism — an explicit user repartition, which AQE's
    coalescing leaves alone, so the fold that follows keeps >= cores
    tasks. Nothing is tuned to either environment.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _probe_partitions(base) >= target:
        return df
    return df.repartition(target, *keys)


def dec(col: str | Column, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, typ: str = MONEY) -> Column:
    """Exact decimal sum, surfaced as DOUBLE."""
    return F.sum(dec(col, typ)).cast("double")


def davg(col: str | Column, typ: str = MONEY) -> Column:
    """Exact decimal sum / count, computed in double — matches
    CAST(SUM(CAST(x AS DECIMAL))AS DOUBLE)/COUNT(x) on the oracle side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, typ)).cast("double") / F.count(c)


def one_minus(col: str) -> Column:
    """(1 - x) computed entirely in decimal."""
    return F.lit(1).cast(FACTOR) - dec(col, FACTOR)


def one_plus(col: str) -> Column:
    return F.lit(1).cast(FACTOR) + dec(col, FACTOR)


# Oracle-side SQL fragments mirroring the helpers above.
def sql_dsum(expr: str, typ: str = MONEY) -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"


def sql_davg(expr: str, typ: str = MONEY) -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) / COUNT({expr})"


SQL_ONE_MINUS = "(CAST(1 AS decimal(4,2)) - CAST({c} AS decimal(4,2)))"
SQL_ONE_PLUS = "(CAST(1 AS decimal(4,2)) + CAST({c} AS decimal(4,2)))"
