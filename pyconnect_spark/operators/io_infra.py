"""Engine-infrastructure declared queries (round-9 verdict task #3):
capabilities that were pytest-proven but invisible to the external
driver's correctness ledger — the batch Avro DataSource, skewed-join
handling, and MERGE-style parquet maintenance — each converted into a
``queries()`` entry with a full DuckDB oracle on post-operation state.

Reference parity: the reference's whole data plane is Avro records moving
through connectors (``src/pyconnect/avroparser.py``,
``src/pyconnect/pyconnectsource.py:163-196``); io01 drives this repo's
batch re-expression of that codec end-to-end. io02/io03 are EXT scale
operators (BASELINE.json north star): the hot-key join every multi-tenant
fact table hits, and the partition-scoped upsert that stands in for
Delta/Iceberg MERGE INTO on a plain parquet lake.

Side-effecting queries write under a ``/tmp`` staging dir keyed by the
Spark applicationId, the tag, and the sf_dir basename (driver sf0.01 /
bench sf0.1 never collide; two concurrent sessions never share a path —
round-10 ADVICE) and leave files in place — the returned DataFrame is
lazy and the driver collects it after the builder returns.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.operators._util import dec, dsum, sql_dsum, t
from pyconnect_spark.query import QueryRegistry

REGISTRY = QueryRegistry()


def _staging(spark: SparkSession, tag: str, sf_dir: str) -> str:
    # applicationId isolates concurrent sessions hitting the same fixture
    # (and defeats pre-created paths under the world-writable parent);
    # the files must outlive the builder because the returned DataFrame
    # is lazy, so cleanup is the next same-session run's rmtree.
    return os.path.join(
        tempfile.gettempdir(),
        f"pyconnect_spark_{spark.sparkContext.applicationId}",
        tag,
        os.path.basename(os.path.normpath(sf_dir)),
    )


@REGISTRY.register(
    "io01_avro_batch_roundtrip",
    oracle=f"""
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {sql_dsum('s_acctbal')} AS total_acctbal
    FROM supplier
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Batch Avro DataSource roundtrip (REF parity: the reference's "
    "entire data plane is Avro records — schema inference "
    "avroparser.py:12-105, serialize pyconnectsource.py:163-196): the "
    "supplier table is written through df.write.format('pyconnect_avro') "
    "(sources/avro_ocf.py: one OCF container per partition, published by "
    "the job commit, on the jar-free pure-Python codec) "
    "and read back through the registered Spark 4 Python DataSource "
    "(schema probed from the first container header, one InputPartition "
    "per file), then aggregated. The oracle computes the same aggregate "
    "from the parquet source, so any codec corruption — framing, zigzag "
    "varints, IEEE doubles, UTF-8 — flips the value hash. Money crosses "
    "the DECIMAL(12,2) barrier (doubles roundtrip Avro bit-exactly). "
    "Plan: write and read are both task-per-file parallel; at 100 TB "
    "the decode is an executor-side streaming scan with no driver "
    "involvement past the header probe.",
    tags=("io", "avro", "datasource", "roundtrip", "ref-parity"),
)
def io01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource

    spark.dataSource.register(AvroOcfDataSource)
    out = _staging(spark, "io01", sf_dir)
    t(spark, sf_dir, "supplier").write.format("pyconnect_avro").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("pyconnect_avro").load(out)
    return (
        back.groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            dsum("s_acctbal").alias("total_acctbal"),
        )
        .orderBy("s_nationkey")
    )


@REGISTRY.register(
    "io02_skew_hot_key_join",
    oracle=f"""
    WITH big AS (
      SELECT CASE WHEN l_orderkey % 10 < 9 THEN 7
                  ELSE l_orderkey % 25 END AS k,
             l_quantity, l_extendedprice
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(n_nationkey AS BIGINT) AS k,
             CASE WHEN n_nationkey = 7 THEN 'hot' ELSE 'cold' END AS tier
      FROM nation
    )
    SELECT d.tier,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('b.l_quantity')} AS sum_qty,
           {sql_dsum('b.l_extendedprice')} AS sum_price
    FROM big b JOIN dim d ON b.k = d.k
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Deliberately skewed fact-dim join — the multi-tenant hot-key "
    "distribution where one key owns ~90% of the fact rows (here "
    "manufactured deterministically from l_orderkey so the oracle "
    "replays it; in production it's the whale tenant / null-FK / "
    "default-value key). This declares the engine's skewed-JOIN tier: "
    "x28 covers skew-safe two-phase AGGREGATION; joins are the other "
    "half. At fixture scale the 25-row nation dim broadcasts (no "
    "shuffle to skew); with broadcast off at cluster scale this exact "
    "shape is what AQE skew-join splits at runtime — "
    "tests/test_plans.py::test_io02_aqe_splits_hot_partition executes "
    "THIS builder under cluster-scale thresholds and pins "
    "isSkew=true in the final adaptive plan, and functions/skew.py's "
    "salting is the explicit fallback tier for joins AQE cannot "
    "rewrite. Money crosses the DECIMAL(12,2) barrier.",
    tags=("io", "skew", "join", "aqe", "scale"),
)
def io02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    big = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(7))
        .otherwise(F.col("l_orderkey") % 25)
        .alias("k"),
        "l_quantity",
        "l_extendedprice",
    )
    # the dim is a plain keyed scan (nation keys are unique), NOT an
    # aggregate: OptimizeSkewedJoin pattern-matches
    # SMJ(Sort(ShuffleRead), Sort(ShuffleRead)) and an agg node between
    # the dim's shuffle and the join would disqualify the split
    dim = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.when(F.col("n_nationkey") == 7, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("tier"),
    )
    return (
        big.join(dim, "k")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("tier")
    )


@REGISTRY.register(
    "io03_merge_upsert_state",
    oracle=f"""
    WITH initial AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    updates AS (
      SELECT o_orderkey,
             'U' AS o_orderstatus,
             o_totalprice * 2 AS o_totalprice,
             CASE WHEN o_orderkey % 8 = 2 THEN '1-URGENT'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT i.* FROM initial i
      WHERE i.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM merged
    GROUP BY 1
    ORDER BY 1
    """,
    doc="MERGE-style upsert with the oracle on POST-MAINTENANCE table "
    "state (sources/layout.py merge_upsert — partition-scoped rewrite, "
    "the engine-native MERGE INTO on a plain parquet lake): a target is "
    "seeded with 3/4 of orders partitioned by o_orderpriority, then an "
    "update batch (every even key: status→'U', price doubled, and keys "
    "≡2 mod 8 MOVED to the 1-URGENT partition) is merged — updates "
    "replace matching keys, new keys insert, moved keys must vanish "
    "from their old directory (the stale-file cleanup path). The "
    "returned frame aggregates the RE-READ target, so the driver hash "
    "checks the actual on-disk merged state against the oracle's "
    "declarative merge. Price doubling is exact double arithmetic; "
    "money crosses the DECIMAL(12,2) barrier. Plan: touched-partition "
    "pruning means an upsert batch touching 0.1% of partitions costs "
    "0.1% of a rewrite at 100 TB; the final exchange keys on the "
    "partition column so each directory is written by its owner task.",
    tags=("io", "merge", "upsert", "maintenance", "layout"),
)
def io03(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyconnect_spark.sources.layout import merge_upsert

    base = _staging(spark, "io03", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    orders = t(spark, sf_dir, "orders").select(*cols)
    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    merge_upsert(
        spark,
        base,
        initial,
        key_cols=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 8 == 2, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    merge_upsert(
        spark,
        base,
        updates,
        key_cols=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    state = spark.read.parquet(base)
    return (
        state.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
            F.sum(
                F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
            ).alias("n_updated"),
        )
        .orderBy("o_orderpriority")
    )


@REGISTRY.register(
    "io04_zorder_layout_scan",
    oracle=f"""
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_partkey <= 100 AND l_quantity <= 10
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Z-order layout maintenance with the oracle on the REWRITTEN "
    "table (sources/layout.py write_zordered — the Delta/Iceberg "
    "OPTIMIZE ZORDER move as plain Spark expressions): lineitem is "
    "rewritten clustered by the Morton interleave of (l_partkey, "
    "l_quantity) — one stats pass, one range exchange on the Z-value, "
    "one within-partition sort — then a two-column selective predicate "
    "is answered FROM THE Z-ORDERED COPY and hash-checked against the "
    "oracle's scan of the original, so the layout rewrite is proven "
    "lossless value-for-value while exercising the exact read path the "
    "layout exists for. Each z-ordered file covers a tight min/max "
    "range on BOTH clustered columns (pinned by "
    "tests/test_scale_utils.py::test_zorder_write_tightens_file_ranges"
    "_on_both_columns), so at 100 TB parquet file/row-group pruning "
    "turns this predicate's full scan into a few-file read on EITHER "
    "column. Money crosses the DECIMAL(12,2) barrier.",
    tags=("io", "zorder", "layout", "maintenance", "pruning"),
)
def io04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.sources.layout import write_zordered

    base = _staging(spark, "io04", sf_dir)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    write_zordered(
        li, base, zorder_by=["l_partkey", "l_quantity"], n_files=8
    )
    z = spark.read.parquet(base)
    return (
        z.filter((F.col("l_partkey") <= 100) & (F.col("l_quantity") <= 10))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_partkey")
    )


@REGISTRY.register(
    "io05_delete_keys_state",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dsum('c_acctbal')} AS total_acctbal
    FROM customer
    WHERE c_custkey % 7 <> 0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Row-level DELETE with the oracle on post-maintenance on-disk "
    "state (sources/layout.py delete_keys — the right-to-be-forgotten "
    "/ retention-expiry primitive an LLM training corpus is legally "
    "required to support): the customer table is staged partitioned "
    "by c_mktsegment, every 7th key is deleted as a deterministic "
    "deletion-request batch, and the RE-READ target is aggregated and "
    "hash-checked against the oracle's declarative anti-join — so the "
    "driver verifies the doomed rows are gone from disk AND every "
    "surviving row is intact. Partition-scoped like io03: only "
    "directories holding doomed keys are rewritten (touched-partition "
    "semi join on just the key+partition columns); at 100 TB a "
    "deletion batch touching one user costs one partition rewrite, "
    "not a table rewrite. Money crosses the DECIMAL(12,2) barrier.",
    tags=("io", "delete", "gdpr", "maintenance", "layout"),
)
def io05(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyconnect_spark.sources.layout import delete_keys

    base = _staging(spark, "io05", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    cust = t(spark, sf_dir, "customer")
    cust.write.partitionBy("c_mktsegment").parquet(base)
    doomed = cust.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    delete_keys(
        spark,
        base,
        doomed,
        key_cols=["c_custkey"],
        partition_by=["c_mktsegment"],
    )
    state = spark.read.parquet(base)
    return (
        state.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@REGISTRY.register(
    "io06_compact_small_files",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Small-file compaction with the oracle on the compacted table "
    "(sources/layout.py compact_parquet): orders is deliberately "
    "fragmented into 64 tiny files per the streaming-ingest failure "
    "mode, then compacted THROUGH THE PARTITION-PRESERVING SALTED "
    "PATH (partition_by=o_orderstatus: shuffle key = (partition cols, "
    "size-proportional salt) so each directory gets ~size/target "
    "files instead of the n x |partitions| re-fragmentation a "
    "round-robin repartition would cause), and the compacted copy is "
    "aggregated and hash-checked against the oracle's scan of the "
    "original — the rewrite is proven lossless value-for-value. "
    "tests pin that the file count actually DROPS. At 100 TB this is "
    "the scheduled maintenance job that keeps per-file open/footer "
    "costs off every downstream scan. Money crosses the DECIMAL(12,2) "
    "barrier.",
    tags=("io", "compaction", "small-files", "maintenance", "layout"),
)
def io06(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyconnect_spark.sources.layout import compact_parquet

    base = _staging(spark, "io06", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src, dst = os.path.join(base, "fragmented"), os.path.join(base, "compacted")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.repartition(64).write.partitionBy("o_orderstatus").parquet(src)
    compact_parquet(
        spark,
        src,
        dst,
        target_file_bytes=1 << 20,
        partition_by=["o_orderstatus"],
    )
    state = spark.read.parquet(dst)
    return (
        state.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@REGISTRY.register(
    "io07_schema_evolution_read",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v2' ELSE 'v1' END
               AS schema_ver,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_status,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Schema-evolution read: two writer generations append to the "
    "same dataset — v1 files carry (o_orderkey, o_totalprice), v2 "
    "files add o_orderstatus (the ingest-pipeline reality at 100 TB: "
    "producers upgrade mid-stream and history is never rewritten) — "
    "and the reader reconstructs the union schema via "
    "mergeSchema=true, NULL-filling the added column for v1 rows. The "
    "oracle derives column presence from key parity, so the driver "
    "hash checks BOTH that no row was lost across generations AND "
    "that the NULL-fill semantics are exact (n_with_status counts "
    "non-NULL o_orderstatus after the merge). Plan: schema merge is a "
    "footer-only planning step (per-file footers read in parallel); "
    "the data scan stays columnar with the absent column synthesized "
    "as NULL — no rewrite of old files, ever. Money crosses the "
    "DECIMAL(12,2) barrier.",
    tags=("io", "schema-evolution", "merge-schema", "ingest"),
)
def io07(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _staging(spark, "io07", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.parquet(base)
    v2.write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return (
        merged.groupBy(
            F.when(F.col("o_orderstatus").isNotNull(), F.lit("v2"))
            .otherwise(F.lit("v1"))
            .alias("schema_ver")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("o_orderstatus").isNotNull(), 1).otherwise(0)
            ).alias("n_with_status"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("schema_ver")
    )


@REGISTRY.register(
    "io08_partition_pruned_scan",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Hive-partitioned layout + partition-pruned scan: events is "
    "staged partitioned by event_date (the ingest-locality column "
    "every 100 TB event lake partitions on), and a one-week predicate "
    "is answered from the partitioned copy — the filter must prune at "
    "the DIRECTORY level (PartitionFilters in the scan node, pinned "
    "by plan test — a different mechanism from io04's row-group "
    "PushedFilters: pruned directories are never listed into tasks at "
    "all, so a day query on a year of data schedules ~1/365th of the "
    "work). The oracle filters the original events by the same "
    "date strings (UTC-pinned in both engines), so the staged layout "
    "is proven lossless and the week's values hash-check exactly. "
    "Money-grain values cross the DECIMAL(12,2) barrier; dates travel "
    "as strings (the repo-wide DATE-dtype rule).",
    tags=("io", "partitioning", "pruning", "layout", "ingest"),
)
def io08(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _staging(spark, "io08", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("event_date").parquet(base)
    staged = spark.read.parquet(base)
    # Hive partition discovery type-infers 'yyyy-MM-dd' values to DATE.
    # The filter stays on the RAW partition attribute (string literals
    # coerce to date) so it lands in PartitionFilters; the group key
    # casts back to string so the declared output schema is string BY
    # CONSTRUCTION (the repo-wide dates-as-strings rule), not via
    # harness stringification (round-10 ADVICE).
    return (
        staged.filter(
            F.col("event_date").between("2024-01-08", "2024-01-14")
        )
        .groupBy(
            F.col("event_date").cast("string").alias("event_date"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


@REGISTRY.register(
    "io09_dynamic_partition_pruning",
    oracle=f"""
    WITH sel AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
      FROM events
      WHERE CAST(strftime(ts, '%d') AS INTEGER) BETWEEN 8 AND 14
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('e.value')} AS sum_value
    FROM events e
    JOIN sel s ON strftime(e.ts, '%Y-%m-%d') = s.event_date
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Join-driven DYNAMIC partition pruning — the runtime counterpart "
    "of io08's static directory pruning: events is staged partitioned "
    "by event_date, a day dimension is staged separately, and the "
    "fact-dim join's only date predicate lives on the DIM side "
    "(dayofmonth BETWEEN 8 AND 14 — comparison-shaped, which DPP's "
    "isLikelySelective heuristic requires), so the fact scan can only "
    "be pruned by a dynamicpruning subquery injected at planning time "
    "from the dim's filter result. "
    "tests/test_plans.py::test_io09_dynamic_pruning_subquery_in_scan "
    "executes THIS builder with the fixture-scale cost heuristics "
    "neutralized (reuseBroadcastOnly/useStats off — at 100 TB the "
    "stock heuristics fire on their own, exactly as the evidence test "
    "tests/test_scale_utils.py::test_dynamic_partition_pruning_on_"
    "partitioned_fact documents) and pins the dynamicpruning "
    "expression in the fact scan's PartitionFilters. The oracle "
    "replays the staged join declaratively from the original events, "
    "so the partitioned layout + dim roundtrip is proven lossless "
    "value-for-value. Money-grain values cross the DECIMAL(12,2) "
    "barrier. Plan: at 100 TB a dim-selected week joins against "
    "~7/365ths of a year-partitioned fact — the scan never lists the "
    "other 358 directories into tasks at all.",
    tags=("io", "partitioning", "dpp", "pruning", "join", "scale"),
)
def io09(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _staging(spark, "io09", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    fact_path = os.path.join(base, "fact")
    dim_path = os.path.join(base, "dim")
    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("event_date").parquet(fact_path)
    # the dim is written as DATE so the join key matches the fact's
    # partition-inferred DATE column with no cast on the fact side —
    # a cast on the partition attribute would disqualify DPP
    ev.select(F.to_date("ts").alias("event_date")).distinct().write.parquet(
        dim_path
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(
        F.dayofmonth("event_date").between(8, 14)
    )
    return (
        fact.join(dim, "event_date")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "io10_bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_quantity')} AS sum_qty,
           {sql_dsum('l.l_extendedprice')} AS sum_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Bucketed-table co-located join — the write-once/join-many "
    "layout every 100 TB fact-to-fact pipeline keys on: orders and "
    "lineitem are written as 8-bucket tables hashed on the order key "
    "(external tables at an explicit staging path, session-catalog "
    "metadata carrying the bucket spec), then joined bucket-to-bucket. "
    "Because both sides' on-disk layout already satisfies the join's "
    "required distribution, the sort-merge join runs with NO shuffle "
    "exchange on either side — "
    "tests/test_plans.py::test_io10_bucketed_join_has_no_exchange "
    "executes THIS builder with broadcast off and pins SortMergeJoin "
    "with zero Exchange nodes beneath it (the evidence test "
    "tests/test_scale_utils.py::test_bucketed_join_has_no_shuffle "
    "proved the mechanism; this declares it). At fixture scale under "
    "stock confs the 2-column orders side may broadcast instead — "
    "same rows either way, and the oracle replays the join+aggregate "
    "declaratively from the original tables so the bucketed write/read "
    "roundtrip is proven lossless value-for-value. Money crosses the "
    "DECIMAL(12,2) barrier. Plan: at 100 TB, re-bucketing once turns "
    "every subsequent orderkey join/aggregation from a full 100 TB "
    "shuffle into a zero-exchange local merge — the single biggest "
    "shuffle a TPC-H-shaped workload has simply disappears.",
    tags=("io", "bucketing", "join", "layout", "scale"),
)
def io10(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _staging(spark, "io10", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    sfx = (
        os.path.basename(os.path.normpath(sf_dir))
        .replace(".", "_")
        .replace("-", "_")
    )
    ta, tb = f"io10_orders_{sfx}", f"io10_lineitem_{sfx}"
    spark.sql(f"DROP TABLE IF EXISTS {ta}")
    spark.sql(f"DROP TABLE IF EXISTS {tb}")
    (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .mode("overwrite")
        .saveAsTable(ta)
    )
    (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .mode("overwrite")
        .saveAsTable(tb)
    )
    joined = spark.table(ta).join(
        spark.table(tb), F.col("o_orderkey") == F.col("l_orderkey")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@REGISTRY.register(
    "io11_runtime_bloom_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_quantity')} AS sum_qty,
           {sql_dsum('l.l_extendedprice')} AS sum_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > 450000
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Runtime bloom-filter join pruning — the arbitrary-key analog of "
    "io09's dynamic partition pruning: a selective dimension slice "
    "(orders with o_totalprice > 450000, ~10% of keys) joins the "
    "lineitem fact on a NON-partition key, so the only way to prune "
    "the fact scan is Spark's InjectRuntimeFilter — a bloom_filter_agg "
    "built on the dim's join keys whose might_contain() semi-filter is "
    "pushed into the probe side's scan. "
    "tests/test_plans.py::test_io11_bloom_filter_in_probe_scan "
    "executes THIS builder under session.runtime_filter_conf's "
    "test-scale thresholds (stock thresholds are sized for >10 GB "
    "probe scans — at 100 TB they fire on their own, exactly as the "
    "evidence test tests/test_scale_utils.py::"
    "test_runtime_bloom_filter_prunes_probe_side documents) and pins "
    "bloom_filter_agg + might_contain in the executed plan. The "
    "oracle replays the filtered join declaratively, so bloom false "
    "positives MUST NOT leak rows (might_contain only prunes; the "
    "join condition still decides membership — the hash check proves "
    "exactly that). Money crosses the DECIMAL(12,2) barrier. Plan: at "
    "100 TB a 10%-selective dim filter drops ~90% of the fact "
    "shuffle's rows at the SCAN, before the exchange ever sees them.",
    tags=("io", "bloom", "runtime-filter", "join", "pruning", "scale"),
)
def io11(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    fact = t(spark, sf_dir, "lineitem")
    return (
        fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@REGISTRY.register(
    "io12_dynamic_overwrite_backfill",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum("CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-10' "
                     "THEN value * 2 ELSE value END")} AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Dynamic-partition-overwrite backfill with the oracle on the "
    "POST-BACKFILL on-disk state (the io03/io05 pattern): events is "
    "staged partitioned by event_date, then one day (2024-01-10) is "
    "recomputed (values doubled — the corrected-job stand-in) and "
    "written mode('overwrite') with the per-write "
    "partitionOverwriteMode=dynamic option, TWICE — the re-run is the "
    "idempotence proof. Dynamic overwrite must replace ONLY the "
    "incoming frame's partitions: static semantics would truncate the "
    "other 29 days (their rows vanish → hash mismatch), append "
    "semantics would double day 10 (its count doubles → hash "
    "mismatch), and a non-idempotent re-run would double it again — "
    "the oracle's declarative CASE replay over the original events "
    "catches every failure mode. This is the incremental-backfill "
    "primitive the rollup cascade (ts09) and training-shard layout "
    "rely on: recompute one partition, never truncate the table. "
    "Money-grain values cross the DECIMAL(12,2) barrier; dates travel "
    "as strings (partition-inferred DATE cast back at the group key, "
    "the io08 rule). Plan: a one-day backfill rewrites 1/365th of a "
    "year-partitioned fact at 100 TB; the write is partition-scoped "
    "and the re-run costs the same as the first run.",
    tags=("io", "backfill", "overwrite", "idempotent", "maintenance"),
)
def io12(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _staging(spark, "io12", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("event_date").parquet(base)
    fixed = ev.filter(F.col("event_date") == "2024-01-10").withColumn(
        "value", F.col("value") * 2
    )
    for _ in range(2):  # second run proves the backfill is idempotent
        (
            fixed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_date")
            .parquet(base)
        )
    state = spark.read.parquet(base)
    return (
        state.groupBy(
            F.col("event_date").cast("string").alias("event_date")
        )
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_date")
    )


@REGISTRY.register(
    "io13_salted_join_fallback",
    oracle=f"""
    WITH big AS (
      SELECT CASE WHEN l_orderkey % 10 < 9 THEN 7
                  ELSE l_orderkey % 25 END AS k,
             l_quantity, l_extendedprice
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(n_nationkey AS BIGINT) AS k,
             CASE WHEN n_nationkey = 7 THEN 'hot' ELSE 'cold' END AS tier
      FROM nation
    )
    SELECT d.tier,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('b.l_quantity')} AS sum_qty,
           {sql_dsum('b.l_extendedprice')} AS sum_price
    FROM big b JOIN dim d ON b.k = d.k
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Manual salted-join fallback, declared as io02's STRATEGY TWIN "
    "(same hot-key shape, same oracle — identical hashes prove the "
    "salted execution is lossless): functions/skew.py salted_join "
    "salts the fact side with a content-deterministic xxhash64 salt "
    "(no rand() — bit-stable under retries and speculative "
    "re-execution), replicates the dim n_salts=16x via explode, and "
    "joins on (key, salt) so the 90%-hot key's rows spread over 16 "
    "reducers instead of one. This is the explicit tier for the joins "
    "AQE's OptimizeSkewedJoin declines to split (an aggregate between "
    "the dim's exchange and the join, or a downstream operator reusing "
    "the join's output partitioning — both conditions measured in "
    "tests/test_plans.py's io02 notes); "
    "tests/test_plans.py::test_io13_salted_join_keys_include_salt pins "
    "the join keys carrying _salt and the dim-side explode with "
    "broadcast off. At fixture scale the 400-row salted dim "
    "broadcasts under stock confs — same rows either way. Money "
    "crosses the DECIMAL(12,2) barrier.",
    tags=("io", "skew", "join", "salting", "fallback", "scale"),
)
def io13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.functions.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    big = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(7))
        .otherwise(F.col("l_orderkey") % 25)
        .alias("k"),
        "l_quantity",
        "l_extendedprice",
    )
    dim = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.when(F.col("n_nationkey") == 7, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("tier"),
    )
    return (
        salted_join(big, dim, ["k"], n_salts=16)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("tier")
    )


@REGISTRY.register(
    "io14_time_travel_read",
    oracle=f"""
    WITH initial AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 4 <> 0
    ),
    updates AS (
      SELECT o_orderkey,
             'U' AS o_orderstatus,
             o_totalprice * 2 AS o_totalprice,
             CASE WHEN o_orderkey % 8 = 2 THEN '1-URGENT'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT i.* FROM initial i
      WHERE i.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    ),
    v1 AS (
      SELECT CAST(1 AS BIGINT) AS version, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {sql_dsum('o_totalprice')} AS total_price,
             CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_updated
      FROM initial GROUP BY 2
    ),
    v2 AS (
      SELECT CAST(2 AS BIGINT) AS version, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {sql_dsum('o_totalprice')} AS total_price,
             CAST(SUM(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_updated
      FROM merged GROUP BY 2
    )
    SELECT * FROM v1
    UNION ALL
    SELECT * FROM v2
    ORDER BY version, o_orderpriority
    """,
    doc="Versioned-table TIME TRAVEL (sources/versioned.py — the "
    "Delta/Iceberg transaction-log move as plain parquet + JSON "
    "manifests): the io03 change sets are applied through vt_init (v1) "
    "and the copy-on-write vt_merge (v2), then BOTH versions are read "
    "back by their manifests and aggregated side by side. The oracle "
    "computes v1 from the pre-merge slice and v2 from the declarative "
    "merge, so the hash proves the two snapshot guarantees at once: "
    "the merge produced exactly MERGE semantics (incl. cross-partition "
    "key moves), AND version 1 still reads bit-for-bit PRE-merge state "
    "after version 2 committed — if the COW rewrite had touched any "
    "shared file, v1's half of the hash flips. Untouched partitions' "
    "files are shared across manifests verbatim "
    "(tests/test_versioned.py pins file sharing, audit-preserving "
    "rollback, and manifest atomicity); commits are atomic POSIX "
    "renames. Money crosses the DECIMAL(12,2) barrier. Plan: a "
    "manifest is a KB-scale driver-side file list; data reads are "
    "ordinary pruned parquet scans of the listed files (basePath keeps "
    "partition inference), so at 100 TB time travel costs one JSON "
    "read and history costs only the rewritten partitions' retained "
    "files.",
    tags=("io", "versioning", "time-travel", "cow", "maintenance"),
)
def io14(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyconnect_spark.sources.versioned import vt_init, vt_merge, vt_read

    base = _staging(spark, "io14", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    orders = t(spark, sf_dir, "orders").select(*cols)
    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    vt_init(spark, base, initial, partition_by=["o_orderpriority"])
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 8 == 2, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    vt_merge(
        spark,
        base,
        updates,
        key_cols=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )

    def snapshot(version: int) -> DataFrame:
        return (
            vt_read(spark, base, version)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                dsum("o_totalprice").alias("total_price"),
                F.sum(
                    F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
                ).alias("n_updated"),
            )
            .select(
                F.lit(version).cast("long").alias("version"),
                "o_orderpriority",
                "n_orders",
                "total_price",
                "n_updated",
            )
        )

    return (
        snapshot(1)
        .unionByName(snapshot(2))
        .orderBy("version", "o_orderpriority")
    )
