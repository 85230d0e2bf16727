"""Scale-utility semantics: salted join / two-phase agg equal their
unsalted counterparts; bucketed tables join without an exchange."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyconnect_spark.functions.skew import salted_join, two_phase_agg
from pyconnect_spark.plans.inspect import explain_str


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90%) + long tail — the shape AQE-less salting targets
    big = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    small = spark.range(0, 100).select(F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name"))
    return big.cache(), small.cache()


def test_salted_join_equals_plain_join(spark, skewed):
    big, small = skewed
    plain = big.join(small, ["k"]).groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    salted = salted_join(big, small, ["k"]).groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark, skewed):
    big, small = skewed
    big2 = big.withColumn("k", F.col("k") + 1000)  # nothing matches
    out = salted_join(big2, small, ["k"], how="left")
    assert out.count() == big2.count()
    assert out.filter(F.col("name").isNotNull()).count() == 0


def test_two_phase_agg_equals_direct(spark, skewed):
    big, _ = skewed
    direct = big.groupBy("k").agg(F.sum("v").alias("total"), F.count("v").alias("n"))
    salted = two_phase_agg(
        big,
        ["k"],
        {"s": F.sum("v"), "c": F.count("v")},
        {"total": F.sum("s"), "n": F.sum("c")},
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Tables bucketed on the join key co-locate: the join plan contains
    no Exchange on either side — the bucketing scale story."""
    a = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("va"))
    b = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("vb"))
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bk_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bk_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout + a partition-key filter ⇒ the scan lists
    only matching directories (PartitionFilters), the 100 TB equivalent of
    skipping whole table regions. Also checks partition-count control via
    write_parquet's target_files."""
    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.plans import explain_str
    from pyconnect_spark.sources.io import write_parquet

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    out = str(tmp_path / "li_part")
    write_parquet(li, out, partition_by=["l_returnflag"], target_files=4)

    back = spark.read.parquet(out).filter("l_returnflag = 'R'")
    text = explain_str(back)
    assert "PartitionFilters" in text and "l_returnflag" in text.split("PartitionFilters")[1][:200]
    got = back.count()
    want = li.filter("l_returnflag = 'R'").count()
    assert got == want > 0
    # only the R directory's files are listed
    import os
    dirs = [d for d in os.listdir(out) if d.startswith("l_returnflag=")]
    assert sorted(dirs) == ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]


def test_training_shard_layout(spark, tmp_path):
    """write_training_shards: partition dirs per (split, lang), per-file
    row cap honored, rows sorted by fingerprint within each file, and the
    manifest accounts for every row."""
    import json
    import os

    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.sources.layout import write_manifest, write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    staged = docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train").otherwise("eval").alias("split"),
        F.sha2("text", 256).alias("fp"),
    )
    out = os.path.join(str(tmp_path), "corpus")
    write_training_shards(
        staged,
        out,
        partition_by=["split", "lang"],
        sort_within=["fp"],
        target_rows_per_shard=40,
        shards_hint=4,
    )
    # partition directories exist for both splits
    top = set(os.listdir(out))
    assert {"split=train", "split=eval"} <= top

    back = spark.read.parquet(out)
    assert back.count() == staged.count()

    # per-file row cap + within-file ordering by fp
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count("*").alias("rows"),
            (F.collect_list("fp") == F.array_sort(F.collect_list("fp"))).alias("sorted_ok"),
        )
        .collect()
    )
    assert all(r["rows"] <= 40 for r in per_file)
    # collect_list within one file preserves row order for a single-file
    # partition read; every file must be fp-sorted
    assert all(r["sorted_ok"] for r in per_file)

    # manifest covers every row and matches the real layout
    mpath = write_manifest(spark, out)
    manifest = json.load(open(mpath))
    assert sum(m["rows"] for m in manifest) == staged.count()
    assert all("split" in m and "lang" in m for m in manifest)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction rewrites a many-tiny-files dataset into few even files
    with identical content — the scheduled-maintenance counterpart of the
    sharded writer."""
    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.sources.layout import compact_parquet

    src = str(tmp_path / "tiny")
    dst = str(tmp_path / "compact")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    # fragment: ~60 files of ~100 rows each
    li.repartition(4).write.option("maxRecordsPerFile", 100).parquet(src)
    n_in = sum(
        1 for f in __import__("os").listdir(src)
        if f.endswith(".parquet")
    )
    assert n_in > 20  # genuinely fragmented

    n_out = compact_parquet(spark, src, dst, target_file_bytes=1 << 20)
    assert n_out < n_in / 4  # materially fewer files
    # content identical (row count + a value checksum)
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    from pyspark.sql import functions as F
    agg = lambda d: d.agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
    ).collect()[0]
    assert agg(a) == agg(b)


def test_compact_parquet_partitioned_does_not_refragment(spark, tmp_path):
    """Partitioned compaction must not multiply files by tasks: with a
    round-robin shuffle every task holds every partition value and the
    writer emits tasks x partitions files. The salted (partition, salt)
    shuffle keeps each partition directory at its own size budget."""
    import os

    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.sources.layout import compact_parquet

    src = str(tmp_path / "tiny_part")
    dst = str(tmp_path / "compact_part")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "flag", F.col("l_returnflag")
    )
    li.repartition(4).write.option("maxRecordsPerFile", 100).partitionBy(
        "flag"
    ).parquet(src)

    n_out = compact_parquet(
        spark, src, dst, target_file_bytes=1 << 20, partition_by=["flag"]
    )
    # 3 flag values, well under 1 MiB each -> one file per directory.
    per_dir = {}
    for root, _dirs, files in os.walk(dst):
        data = [f for f in files if f.endswith(".parquet")]
        if data:
            per_dir[os.path.basename(root)] = len(data)
    assert set(per_dir) == {"flag=A", "flag=N", "flag=R"}
    assert all(n == 1 for n in per_dir.values()), per_dir
    assert n_out == 3
    # content identical
    a, b = spark.read.parquet(src), spark.read.parquet(dst)
    agg = lambda d: d.agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
    ).collect()[0]
    assert agg(a) == agg(b)


def test_runtime_bloom_filter_prunes_probe_side():
    """A selective dimension filter on a non-broadcastable join must inject
    a runtime bloom filter (bloom_filter_agg on the build side's key,
    might_contain semi-filter on the probe scan) — the arbitrary-key
    analog of dynamic partition pruning. Thresholds are lowered to
    fixture scale; the conf block is the documented 100 TB setting
    (session.runtime_filter_conf)."""
    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.session import get_spark, runtime_filter_conf

    spark = get_spark("bloom-test", cores="8", extra_conf=runtime_filter_conf(test_scale=True))
    try:
        sf = "/root/testdata/sf0.01"
        orders = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
        li = load_table(spark, sf, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan
    finally:
        # restore the default-broadcast session for the other tests
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    """Incremental backfill pattern: with partitionOverwriteMode=dynamic, a
    mode('overwrite') write replaces ONLY the partitions present in the
    incoming frame — re-running a day's job is idempotent and every other
    day's data survives. This is how the rollup cascade (ts09) and
    training-shard layout stay maintainable at 100 TB: recompute one
    partition, never truncate the table (static mode would wipe it)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "daily")
    base = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("day"), F.col("id").alias("v")
    )
    base.write.partitionBy("day").parquet(out)
    before = {
        r["day"]: r["n"]
        for r in spark.read.parquet(out).groupBy("day").agg(F.count("*").alias("n")).collect()
    }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # re-run "day 2" with corrected data (half the rows)
        fixed = spark.range(50, 100).select(
            F.lit(2).cast("int").alias("day"), (F.col("id") * 10).alias("v")
        )
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)
        after = {
            r["day"]: r["n"]
            for r in spark.read.parquet(out).groupBy("day").agg(F.count("*").alias("n")).collect()
        }
        assert after[2] == 50  # day 2 replaced
        for d in (0, 1, 3):
            assert after[d] == before[d]  # untouched partitions survive
        # idempotence: running the same job again changes nothing
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)
        again = {
            r["day"]: r["n"]
            for r in spark.read.parquet(out).groupBy("day").agg(F.count("*").alias("n")).collect()
        }
        assert again == after
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_zorder_value_matches_python_replay(spark):
    """The Morton key equals a bit-interleave replay in plain Python."""
    from pyconnect_spark.sources.layout import zorder_value

    rows = [(float(x), float(y)) for x in (0, 3, 7, 10) for y in (0, 5, 10)]
    df = spark.createDataFrame(rows, "x double, y double")
    stats = {"x": (0.0, 10.0), "y": (0.0, 10.0)}
    got = [
        r["z"]
        for r in df.select(
            zorder_value(["x", "y"], stats, n_bits=4).alias("z")
        ).collect()
    ]

    def replay(x, y):
        qx = min(15, int(x / 10.0 * 15))
        qy = min(15, int(y / 10.0 * 15))
        z = 0
        for b in range(4):
            z |= ((qx >> b) & 1) << (b * 2)
            z |= ((qy >> b) & 1) << (b * 2 + 1)
        return z

    assert got == [replay(x, y) for x, y in rows]


def test_zorder_write_tightens_file_ranges_on_both_columns(spark, tmp_path):
    """Z-ordered files must cover tight min/max ranges on BOTH clustered
    columns simultaneously — a single-column sort clusters one column and
    leaves the other's per-file range at ~the full span. This is the
    data-skipping property the writer exists for: parquet pruning skips
    files whose (min, max) excludes the predicate on EITHER column."""
    import glob

    import pyarrow.parquet as pq

    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.sources.layout import write_zordered

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    zdir = str(tmp_path / "zordered")
    write_zordered(ev, zdir, zorder_by=["user_id", "value"], n_files=8)

    sdir = str(tmp_path / "sorted-one-col")
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(sdir)

    def avg_range_fraction(d, col):
        spans, total_lo, total_hi = [], None, None
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.read_metadata(f)
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            spans.append((lo, hi))
            total_lo = lo if total_lo is None else min(total_lo, lo)
            total_hi = hi if total_hi is None else max(total_hi, hi)
        full = float(total_hi - total_lo) or 1.0
        return sum((hi - lo) / full for lo, hi in spans) / len(spans)

    # single-column sort: user_id tight, value spans most of the range
    # per file (tail files clip the extremes, so ~0.7, not 1.0)
    assert avg_range_fraction(sdir, "user_id") < 0.5
    assert avg_range_fraction(sdir, "value") > 0.6
    # z-order: BOTH columns' per-file spans shrink below the full range
    zu = avg_range_fraction(zdir, "user_id")
    zv = avg_range_fraction(zdir, "value")
    assert zu < 0.8 and zv < 0.8, (zu, zv)
    assert zu + zv < avg_range_fraction(sdir, "user_id") + avg_range_fraction(sdir, "value")


def _table_targets(tmp_path):
    """The same table as a plain path and as a ``file://`` URI: pairs of
    (target handed to the table-maintenance call, its local directory)."""
    return [
        (str(tmp_path / "tgt"), tmp_path / "tgt"),
        ((tmp_path / "uri" / "tgt").as_uri(), tmp_path / "uri" / "tgt"),
    ]


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE semantics (update wins, new keys insert) AND the scale
    contract: directories of untouched partitions keep their original
    files byte-for-byte — the upsert's write cost tracks the touched
    slice, not the table. Same rows for a plain path and a file:// URI."""
    import glob
    import os

    from pyconnect_spark.sources.layout import merge_upsert

    for target, local in _table_targets(tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
            "id long, part string, v double",
        )
        merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])

        def files_with_mtime(part):
            return {
                f: os.path.getmtime(f)
                for f in glob.glob(f"{local}/part={part}/*.parquet")
            }

        before_b, before_c = files_with_mtime("b"), files_with_mtime("c")
        assert before_b and before_c

        updates = spark.createDataFrame(
            [(2, "a", 99.0), (5, "a", 50.0)], "id long, part string, v double"
        )
        n = merge_upsert(spark, target, updates, key_cols=["id"], partition_by=["part"])

        got = {
            r["id"]: (r["part"], r["v"])
            for r in spark.read.parquet(target).collect()
        }
        assert got == {
            1: ("a", 10.0),
            2: ("a", 99.0),  # updated
            3: ("b", 30.0),
            4: ("c", 40.0),
            5: ("a", 50.0),  # inserted
        }
        assert n == 3  # rewritten rows = touched partition 'a' only
        # untouched partition directories were not rewritten
        assert files_with_mtime("b") == before_b
        assert files_with_mtime("c") == before_c
        # no staging residue
        assert not glob.glob(f"{local}.staging*")


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """AQE's runtime skew-join handling must actually engage: a join where
    one key owns ~90% of the rows gets its oversized shuffle partition
    SPLIT at runtime (the executed SMJ reports isSkew=true) once the
    skew thresholds are at fixture scale. This is the zero-code-change
    tier of the skew strategy (functions/skew.py's salting is the
    explicit tier for aggregations and for joins AQE cannot rewrite,
    e.g. when the skewed side also needs a co-partitioned downstream)."""
    from pyspark.sql import functions as F

    big = spark.range(80_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    b_path, s_path = str(tmp_path / "big"), str(tmp_path / "small")
    big.write.parquet(b_path)
    small.write.parquet(s_path)

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        j = spark.read.parquet(b_path).join(spark.read.parquet(s_path), "k")
        # materialize THIS DataFrame's own execution so the AQE final plan
        # (isFinalPlan=true) is inspectable — count() would execute a
        # different query tree and leave j's plan un-finalized
        n = len(j.collect())
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a date-partitioned fact to a FILTERED dimension must inject
    a dynamic partition pruning subquery (dynamicpruning expression on
    the fact's PartitionFilters) so only the dim-selected partitions are
    scanned — the partition-column counterpart of the runtime bloom
    filter, and the reason SCALE.md partitions facts by date."""
    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").withColumn(
        "day", F.to_date("ts")
    )
    fact_path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").parquet(fact_path)
    dim_path = str(tmp_path / "dim_days")
    ev.select("day").distinct().write.parquet(dim_path)

    keys = (
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
    )
    old = {k: spark.conf.get(k) for k in keys}
    try:
        # fixture-size tables fall below DPP's cost heuristics (broadcast
        # reuse + stats-estimated benefit); neutralize them so the
        # mechanism itself is assertable at test scale — at 100 TB the
        # stock heuristics fire on their own
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false"
        )
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "1000"
        )
        fact = spark.read.parquet(fact_path)
        # the pruning-side predicate must be comparison-shaped: DPP's
        # isLikelySelective heuristic ignores bare boolean attributes
        d = spark.read.parquet(dim_path).filter(F.dayofmonth("day") <= 2)
        j = fact.join(d, "day").groupBy("event_type").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        physical = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "dynamicpruning" in plan or "dynamicpruning" in physical, physical[:3000]
        assert j.count() > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_delete_keys_rewrites_only_touched_partitions(spark, tmp_path):
    """Right-to-be-forgotten: deleting one user's rows rewrites only the
    partitions holding them; untouched directories keep their files
    byte-for-byte, and the deleted keys are gone everywhere. Same rows
    for a plain path and a file:// URI."""
    import glob
    import os

    from pyconnect_spark.sources.layout import delete_keys

    for target, local in _table_targets(tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (1, "b", 3.0), (3, "b", 4.0), (4, "c", 5.0)],
            "uid long, part string, v double",
        )
        base.write.partitionBy("part").parquet(target)

        def files(part):
            return {
                f: os.path.getmtime(f)
                for f in glob.glob(f"{local}/part={part}/*.parquet")
            }

        before_c = files("c")
        assert before_c
        doomed = spark.createDataFrame([(1,)], "uid long")
        n = delete_keys(spark, target, doomed, key_cols=["uid"], partition_by=["part"])
        assert n == 2  # uid=1 appeared in partitions a and b

        left = {(r["uid"], r["part"]) for r in spark.read.parquet(target).collect()}
        assert left == {(2, "a"), (3, "b"), (4, "c")}
        assert files("c") == before_c  # partition c never touched
        assert not glob.glob(f"{local}.staging*")


def test_delete_keys_empties_whole_partition(spark, tmp_path):
    """Deleting EVERY key of a partition must actually remove its rows:
    dynamic partitionOverwriteMode never rewrites a partition the staged
    frame has no rows for, so the emptied directory's old files must be
    cleaned explicitly — the exact right-to-be-forgotten gap case. Same
    for a plain path and a file:// URI."""
    import glob

    from pyconnect_spark.sources.layout import delete_keys

    for target, local in _table_targets(tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)],
            "uid long, part string, v double",
        )
        base.write.partitionBy("part").parquet(target)
        doomed = spark.createDataFrame([(1,), (2,)], "uid long")
        n = delete_keys(spark, target, doomed, key_cols=["uid"], partition_by=["part"])
        assert n == 2
        left = {(r["uid"], r["part"]) for r in spark.read.parquet(target).collect()}
        assert left == {(3, "b"), (4, "c")}  # partition a fully gone from reads
        assert not glob.glob(f"{local}/part=a/*.parquet")  # files physically removed
        assert not glob.glob(f"{local}.staging*")


def test_merge_upsert_key_moving_partitions_leaves_no_duplicate(spark, tmp_path):
    """An update that changes a key's PARTITION value must delete the stale
    row from the old directory, not just write the new one — `touched`
    must include the partitions currently holding the updated keys. Also
    covers the emptied-old-partition case (id=4 was partition d's only
    row). Same rows for a plain path and a file:// URI."""
    from pyconnect_spark.sources.layout import merge_upsert

    for target, _ in _table_targets(tmp_path):
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "d", 4.0)],
            "id long, part string, v double",
        )
        merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])
        updates = spark.createDataFrame(
            [(3, "c", 33.0), (4, "a", 44.0)], "id long, part string, v double"
        )
        merge_upsert(spark, target, updates, key_cols=["id"], partition_by=["part"])
        got = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(target).collect()}
        assert got == {
            1: ("a", 1.0),
            2: ("a", 2.0),
            3: ("c", 33.0),  # moved b -> c, no stale b row
            4: ("a", 44.0),  # moved d -> a; partition d emptied
        }
        n_rows = spark.read.parquet(target).count()
        assert n_rows == 4  # no duplicates anywhere


def test_merge_upsert_under_viewfs(spark, viewfs):
    """A ``viewfs://`` table that Python's ``os`` cannot open: the upsert
    lists, stages and deletes through the mount and ends with the rows
    of the plain-path case."""
    from pyconnect_spark.sources.layout import merge_upsert

    target = f"{viewfs.uri}/tgt"
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "d", 4.0)],
        "id long, part string, v double",
    )
    merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])
    updates = spark.createDataFrame(
        [(3, "c", 33.0), (4, "a", 44.0)], "id long, part string, v double"
    )
    n = merge_upsert(spark, target, updates, key_cols=["id"], partition_by=["part"])
    got = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1.0), 2: ("a", 2.0), 3: ("c", 33.0), 4: ("a", 44.0)}
    assert n == 4  # partitions a (three rows) and c; b and d emptied
    assert sorted(p.name for p in viewfs.local.iterdir()) == ["tgt"]  # no staging residue


def test_table_maintenance_leaves_the_session_overwrite_mode_alone(spark, tmp_path, monkeypatch):
    """merge_upsert and delete_keys set dynamic overwrite on their own
    write only: a session-wide change would leak into any write running
    beside them, such as a CDC stream's neighbour."""
    from pyspark.sql.conf import RuntimeConfig

    from pyconnect_spark.sources.layout import delete_keys, merge_upsert

    key = "spark.sql.sources.partitionOverwriteMode"
    touched = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def record(self, k, *args, _real=real):
            touched.append(k)
            return _real(self, k, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")  # not the default
    touched.clear()
    try:
        target = str(tmp_path / "tgt")
        base = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
        )
        merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])
        merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])
        delete_keys(spark, target, base.select("id"), key_cols=["id"], partition_by=["part"])
        assert key not in touched
        assert spark.conf.get(key) == "dynamic"
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)


def test_zorder_value_clamps_below_stats_lo(spark):
    """Values below the stats lo (the incremental-writer stats-reuse case)
    must clamp to quantile 0, not shift a negative into garbage bits; and
    4 columns at default n_bits=16 must not touch the sign bit (per-col
    resolution shrinks to 15 bits, keys stay non-negative and ordered)."""
    from pyspark.sql import functions as F

    from pyconnect_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(-50.0, 0.0), (0.0, 0.0), (100.0, 100.0)], "x double, y double"
    )
    stats = {"x": (0.0, 100.0), "y": (0.0, 100.0)}
    z = [
        r["z"]
        for r in df.select(zorder_value(["x", "y"], stats, n_bits=4).alias("z"))
        .orderBy("x")
        .collect()
    ]
    assert z[0] == z[1]  # below-lo clamps to the lo cell
    assert z[0] >= 0 and z[2] >= 0
    wide = spark.createDataFrame([(1e9, 1e9, 1e9, 1e9)], "a double, b double, c double, d double")
    stats4 = {c: (0.0, 1e9) for c in "abcd"}
    big = wide.select(zorder_value(list("abcd"), stats4).alias("z")).collect()[0]["z"]
    assert 0 <= big < (1 << 63) - 1  # top value of 4 cols stays positive


def test_dd12_auto_nlist_scales_sublinearly(spark, tmp_path):
    """dd12's scale knob, automated: with n_cells = ceil(sqrt(N)) the
    per-cell quadratic candidate-pair count grows ~N^1.5 instead of N²
    — at 10x data pairs must grow far under the ~100x a fixed cell
    count produced (BASELINE.md measured 22.7x wall-clock there). The
    pin is structural (pair counts, not wall-clock) so it is exact and
    host-independent; tools/scale_replicate.py measures the wall-clock
    side for BASELINE.md."""
    import math

    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.operators.similarity import seed_ivf_cells

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n1 = base.count()
    d10 = tmp_path / "x10"
    d10.mkdir()
    parts = [base.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000)) for i in range(10)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.write.parquet(str(d10 / "embeddings.parquet"))

    def pairs_and_cells(sf_dir):
        pops = (
            seed_ivf_cells(spark, sf_dir)
            .filter(F.col("rk") == 1)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .select(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
                    F.count("*").alias("n_cells"))
            .collect()[0]
        )
        return int(pops["pairs"]), int(pops["n_cells"])

    p1, c1 = pairs_and_cells("/root/testdata/sf0.001")
    p10, c10 = pairs_and_cells(str(d10))
    assert c1 == math.ceil(math.sqrt(n1))  # auto-sizing engaged
    # Replication duplicates embeddings verbatim, so a seed whose identical
    # twin has a lower seed rank wins no vectors — populated cells can be
    # slightly under the seed count; what matters is growth with N.
    assert 2 * c1 < c10 <= math.ceil(math.sqrt(10 * n1))
    growth = p10 / max(p1, 1)
    # theory: pairs ~ N^1.5 -> 10x data => ~31.6x pairs; fixed cells => ~100x.
    assert growth < 45, f"pair growth {growth:.1f}x — auto-nlist not engaging"
    # the quadratic is defeated: pairs per N² must SHRINK as N grows
    assert p10 / (10 * n1) ** 2 < p1 / n1**2


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Long-lived datasets evolve: later partitions add columns. A
    mergeSchema read must surface the union schema with nulls for the
    missing column in old files — the no-table-format schema-evolution
    contract ingestion pipelines rely on."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(p + "/batch=0")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(p + "/batch=1")

    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score", "batch"}
    rows = {r["id"]: (r["v"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_spread_floors_parallelism_only_when_needed(spark):
    """spread() (the round-11 map-parallelism floor): repartitions a
    under-parallel frame to defaultParallelism, is a NO-OP on a frame
    already at/above it (the 100 TB case — the trigger is measured from
    the plan, never a constant), preserves rows exactly, and leaves
    streaming frames untouched."""
    from pyconnect_spark.operators._util import spread

    par = spark.sparkContext.defaultParallelism
    one = spark.createDataFrame([(i, f"d{i}") for i in range(100)], "doc_id long, text string").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    s = spread(one, "doc_id")
    assert s.rdd.getNumPartitions() == par
    assert sorted(r["doc_id"] for r in s.collect()) == list(range(100))

    wide = spark.range(1000).repartition(par + 4)
    assert spread(wide) is wide  # already parallel: returned unchanged

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert spread(stream) is stream  # streaming plans have no RDD to probe


def test_spread_on_floors_derived_frame_by_base_probe(spark):
    """spread_on() (the round-12 pair-scoring floor): repartitions a
    DERIVED frame on its keys when the BASE scan is under-parallel, is a
    NO-OP when the base already carries >= cores partitions (the 100 TB
    case), and preserves rows exactly. The trigger is the base probe —
    the derived frame itself is never probed (probing a post-Exchange
    plan would finalize it)."""
    from pyspark.sql import functions as F

    from pyconnect_spark.operators._util import spread_on

    par = spark.sparkContext.defaultParallelism
    base = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "vec_id long, text string"
    ).coalesce(1)
    derived = base.groupBy("vec_id").agg(F.count("*").alias("n"))
    s = spread_on(derived, base, "vec_id")
    assert s is not derived  # under-parallel base: floor applied
    assert s.rdd.getNumPartitions() == par
    assert sorted(r["vec_id"] for r in s.collect()) == list(range(100))

    wide_base = spark.range(1000).repartition(par + 4)
    derived2 = wide_base.groupBy("id").agg(F.count("*").alias("n"))
    assert spread_on(derived2, wide_base, "id") is derived2  # at-scale no-op
