"""Avro Object Container File source/sink tests: spec-level structure,
pure-Python roundtrip, and distributed Spark read/write roundtrips
(mirrors the reference's Avro-everywhere transport,
/root/reference/src/pyconnect/pyconnectsource.py:177-196)."""

from __future__ import annotations

import io
import json

import pytest

from pyconnect_spark.catalog import load_table
from pyconnect_spark.sources.avro_ocf import (
    AvroOcfDataSource,
    iter_records,
    parse_header,
    read_avro,
    write_avro,
    write_container,
)
from tests.conftest import SF_SMALL

SCHEMA = {
    "type": "record",
    "name": "value",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "xs", "type": {"type": "array", "items": "double"}},
    ],
}
RECORDS = [
    {"k": 1, "s": "alpha", "xs": [1.5, -2.25]},
    {"k": 2, "s": None, "xs": []},
    {"k": -3, "s": "Ünïcode", "xs": [0.0]},
]


def test_container_structure():
    data = write_container(RECORDS, SCHEMA)
    assert data[:4] == b"Obj\x01"
    buf = io.BytesIO(data)
    schema, codec, sync = parse_header(buf)
    assert schema == SCHEMA and codec == "null" and len(sync) == 16


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_pure_python_roundtrip(codec):
    data = write_container(RECORDS, SCHEMA, codec=codec, block_records=2)
    assert list(iter_records(data)) == RECORDS


def test_multi_block_roundtrip():
    recs = [{"k": i, "s": f"r{i}", "xs": [float(i)]} for i in range(1000)]
    data = write_container(recs, SCHEMA, block_records=100)
    assert list(iter_records(data)) == recs


def test_corrupt_sync_detected():
    data = bytearray(write_container(RECORDS, SCHEMA))
    data[-1] ^= 0xFF  # flip a bit in the trailing sync marker
    with pytest.raises(ValueError, match="sync"):
        list(iter_records(bytes(data)))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_spark_roundtrip_nation(spark, tmp_path, codec):
    src = load_table(spark, SF_SMALL, "nation")
    out = str(tmp_path / "nation_avro")
    n = write_avro(src.repartition(3), out, codec=codec)
    assert n == src.count()
    back = read_avro(spark, out)
    assert back.schema == src.schema or [f.name for f in back.schema.fields] == [
        f.name for f in src.schema.fields
    ]
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_spark_roundtrip_embeddings_floats(spark, tmp_path):
    """array<float> survives; float32 values compare exactly (both sides
    round-trip the same IEEE bits)."""
    src = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    out = str(tmp_path / "emb_avro")
    n = write_avro(src, out)
    assert n == src.count()
    back = read_avro(spark, out)
    a = {(r.vec_id, tuple(r.embedding)) for r in src.collect()}
    b = {(r.vec_id, tuple(r.embedding)) for r in back.collect()}
    assert a == b


def test_empty_partitions_produce_no_files(spark, tmp_path):
    src = load_table(spark, SF_SMALL, "region").repartition(16)
    out = str(tmp_path / "region_avro")
    write_avro(src, out)
    import os

    files = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert 0 < len(files) <= 5  # region has 5 rows → ≤5 non-empty partitions
    assert read_avro(spark, out).count() == 5


def test_schema_metadata_json(spark, tmp_path):
    src = load_table(spark, SF_SMALL, "region")
    out = str(tmp_path / "r2")
    write_avro(src, out)
    import os

    f = next(p for p in os.listdir(out) if p.endswith(".avro"))
    with open(os.path.join(out, f), "rb") as fh:
        schema, codec, _ = parse_header(io.BytesIO(fh.read(65536)))
    assert json.dumps(schema)  # valid JSON object
    assert {x["name"] for x in schema["fields"]} == set(src.columns)


def test_avro_datasource_reads_what_write_avro_wrote(spark, tmp_path):
    """The registered batch DataSource (format 'pyconnect_avro') reads the
    OCF directory write_avro produced: same rows as read_avro, one input
    partition per file, and post-scan filters compose on the reader chain."""
    from pyspark.sql import functions as F

    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource, read_avro, write_avro

    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.5).alias("x"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
    ).repartition(4)
    out = str(tmp_path / "ocf")
    n = write_avro(df, out)
    assert n == 200

    spark.dataSource.register(AvroOcfDataSource)
    got = spark.read.format("pyconnect_avro").load(out)
    assert sorted(got.columns) == ["k", "s", "x"]
    want = {tuple(r) for r in read_avro(spark, out).collect()}
    assert {tuple(r) for r in got.collect()} == want
    assert got.count() == 200
    # one partition per file (the split model the docstring promises)
    n_files = len([f for f in __import__("os").listdir(out) if f.endswith(".avro")])
    assert got.rdd.getNumPartitions() == n_files
    # post-scan filter composes on the reader chain
    assert got.filter(F.col("k") < 10).count() == 10


def test_avro_datasource_write_roundtrip(spark, tmp_path):
    """df.write.format('pyconnect_avro') emits one container per partition
    (streamed, not materialized), mode('overwrite') replaces prior .avro
    files, and the registered reader + read_avro both read it back."""
    from pyspark.sql import functions as F

    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource, read_avro

    spark.dataSource.register(AvroOcfDataSource)
    out = str(tmp_path / "ocf-w")
    df = spark.range(120).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("x")
    ).repartition(3)
    df.write.format("pyconnect_avro").mode("overwrite").save(out)
    import os as _os

    files = [f for f in _os.listdir(out) if f.endswith(".avro")]
    assert len(files) == 3  # one container per partition
    want = {tuple(r) for r in df.collect()}
    assert {tuple(r) for r in spark.read.format("pyconnect_avro").load(out).collect()} == want
    assert {tuple(r) for r in read_avro(spark, out).collect()} == want
    # overwrite replaces, never appends
    df.limit(10).write.format("pyconnect_avro").mode("overwrite").save(out)
    assert spark.read.format("pyconnect_avro").load(out).count() == 10


def test_avro_datasource_stream_reader_tails_directory(spark, tmp_path):
    """The pyconnect_avro DataSource streams an append-only OCF directory:
    the first drain reads the existing files; files appended afterwards
    are picked up by a RESTARTED query from the checkpointed offset —
    no re-delivery of already-committed files."""
    from pyconnect_spark.functions.avro import spark_type_to_avro
    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource, write_container
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", StringType()), StructField("n", LongType())]
    )
    avro_schema = spark_type_to_avro(schema)
    d = tmp_path / "stream-ocf"
    d.mkdir()

    def emit(name, lo, hi):
        payload = write_container(
            [{"k": f"k{i}", "n": i} for i in range(lo, hi)], avro_schema
        )
        tmp = d / (name + ".tmp")
        tmp.write_bytes(payload)
        tmp.rename(d / name)  # write-then-rename: complete when visible

    emit("part-0001.avro", 0, 5)
    emit("part-0002.avro", 5, 8)

    spark.dataSource.register(AvroOcfDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        # a durable sink (memory sink cannot recover from a checkpoint)
        q = (
            spark.readStream.format("pyconnect_avro")
            .schema(schema)
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["n"] for r in spark.read.parquet(out).collect()}

    assert drain() == set(range(8))

    emit("part-0003.avro", 8, 12)
    # restarted query resumes from the checkpointed offset: the sink now
    # holds all rows, each file delivered exactly once
    assert drain() == set(range(12))


def test_avro_stream_tail_reads_each_appended_file_once(spark, tmp_path):
    """Two appends of four files each land while a stream tails the
    directory, the first through the DataSource writer and the second
    through write_avro. The tail's offset is an index into the name-sorted
    listing, so every file of the later append must sort after every file
    of the earlier one: otherwise the tail re-reads an old file and never
    reads a new one."""
    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType()), StructField("n", LongType())])
    d, out, ckpt = (str(tmp_path / name) for name in ("ocf", "out", "ckpt"))
    spark.dataSource.register(AvroOcfDataSource)

    def rows(lo):
        return spark.range(lo, lo + 40, numPartitions=4).selectExpr("CAST(id AS STRING) AS k", "id AS n")

    def drain():
        (
            spark.readStream.format("pyconnect_avro")
            .schema(schema)
            .load(d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    rows(0).write.format("pyconnect_avro").mode("append").save(d)
    drain()
    assert write_avro(rows(40), d) == 40
    drain()
    assert len([f for f in (tmp_path / "ocf").iterdir() if f.suffix == ".avro"]) == 8
    assert sorted(r["n"] for r in spark.read.parquet(out).collect()) == list(range(80))


def test_avro_stream_tail_starts_on_empty_directory(spark, tmp_path):
    """The normal tail case: the stream starts against a directory that is
    still EMPTY (the producer hasn't emitted yet). It must drain empty
    micro-batches, not crash with FileNotFoundError; files appearing
    later are delivered by the next drain from the checkpointed offset."""
    from pyconnect_spark.functions.avro import spark_type_to_avro
    from pyconnect_spark.sources.avro_ocf import AvroOcfDataSource, write_container
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType()), StructField("n", LongType())])
    avro_schema = spark_type_to_avro(schema)
    d = tmp_path / "tail-ocf"
    d.mkdir()  # exists but EMPTY
    spark.dataSource.register(AvroOcfDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("pyconnect_avro")
            .schema(schema)
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import glob as g

        files = g.glob(out + "/*.parquet")
        return {r["n"] for r in spark.read.parquet(out).collect()} if files else set()

    assert drain() == set()  # empty directory: empty batch, no crash

    payload = write_container([{"k": f"k{i}", "n": i} for i in range(4)], avro_schema)
    tmp = d / "part-0001.avro.tmp"
    tmp.write_bytes(payload)
    tmp.rename(d / "part-0001.avro")
    assert drain() == {0, 1, 2, 3}


# ---------------------------------------------------------------------------
# one writer: the DataSource write, its job commit and its path rule
# ---------------------------------------------------------------------------
def _avro_names(d):
    import os

    return sorted(f for f in os.listdir(d) if f.endswith(".avro"))


def test_write_avro_is_one_job_with_an_exact_count(spark, tmp_path):
    """The returned count is observed on the write's own job: one Spark
    job per call, empty partitions included."""
    sc = spark.sparkContext
    df = spark.range(0, 230, numPartitions=5).selectExpr("id AS k", "id % 7 = 0 AS b")
    for i, frame in enumerate([df, df.filter("k < 3"), df.limit(0)]):
        group = f"write-avro-jobs-{i}"
        sc.setJobGroup(group, "write_avro job count")
        try:
            n = write_avro(frame, str(tmp_path / f"o{i}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert (n, len(sc.statusTracker().getJobIdsForGroup(group))) == (frame.count(), 1)


def _nan_rows(spark):
    import math

    return spark.createDataFrame(
        [(0, math.nan, (math.nan,)), (1, None, None), (2, 1.5, (None,)), (3, -0.0, (2.25,))],
        "k long, x double, s struct<y: double>",
    )


def _canon(rows):
    """Rows as comparable tuples: NaN stays distinct from null."""
    import math

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if isinstance(v, float):
            return repr(v)
        return v

    return sorted((r.k, cell(r.x), None if r.s is None else cell(r.s.y)) for r in rows)


def test_nan_null_and_finite_doubles_round_trip(spark, tmp_path):
    """NaN, null and finite doubles, at top level and inside a struct, come
    back value for value through write_avro → read_avro and through the
    DataSource write and read."""
    spark.dataSource.register(AvroOcfDataSource)
    src = _nan_rows(spark)
    want = _canon(src.collect())
    assert want[0] == (0, "nan", "nan") and want[1] == (1, None, None)

    a = str(tmp_path / "a")
    assert write_avro(src, a) == 4
    assert _canon(read_avro(spark, a).collect()) == want

    b = str(tmp_path / "b")
    src.write.format("pyconnect_avro").mode("append").save(b)
    assert _canon(spark.read.format("pyconnect_avro").load(b).collect()) == want


def test_file_uri_lands_at_its_path(spark, tmp_path):
    """A ``file:`` URI is the local directory it names for the DataSource
    write, the batch read, the stream tail and write_avro; nothing is
    written under a relative ``file:`` directory."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    spark.dataSource.register(AvroOcfDataSource)
    d = tmp_path / "ocf"
    uri = d.as_uri()
    spark.range(0, 30, numPartitions=3).selectExpr("id AS n").write.format(
        "pyconnect_avro"
    ).mode("append").save(uri)
    assert write_avro(spark.range(30, 50, numPartitions=2).selectExpr("id AS n"), uri) == 20
    assert len(_avro_names(d)) == 5 and sorted(os.listdir(d)) == _avro_names(d)
    assert sorted(r.n for r in spark.read.format("pyconnect_avro").load(uri).collect()) == list(
        range(50)
    )
    out = str(tmp_path / "out")
    (
        spark.readStream.format("pyconnect_avro")
        .schema(StructType([StructField("n", LongType())]))
        .load(uri)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(r.n for r in spark.read.parquet(out).collect()) == list(range(50))
    assert not os.path.exists("file:")


def test_datasource_refuses_other_schemes_and_read_avro_reads_them(spark, viewfs):
    """The DataSource opens files with Python's ``open``, so a ``viewfs://``
    path is refused with its scheme named; read_avro reads the same OCF
    directory through the path's Hadoop FileSystem."""
    spark.dataSource.register(AvroOcfDataSource)
    df = spark.range(12).selectExpr("id AS n")
    assert write_avro(df, str(viewfs.local / "ocf")) == 12
    with pytest.raises(Exception, match="viewfs"):
        df.write.format("pyconnect_avro").mode("append").save(f"{viewfs.uri}/other")
    with pytest.raises(Exception, match="viewfs"):
        spark.read.format("pyconnect_avro").load(f"{viewfs.uri}/ocf").collect()
    with pytest.raises(Exception, match="viewfs"):
        write_avro(df, f"{viewfs.uri}/other")
    assert sorted(r.n for r in read_avro(spark, f"{viewfs.uri}/ocf").collect()) == list(range(12))
    assert not (viewfs.local / "other").exists()


def _failing_rows(spark):
    """Ten rows in each of two waves of tasks; the last task fails, after
    the first wave has finished."""
    from pyspark.sql import functions as F

    parts = 2 * spark.sparkContext.defaultParallelism
    return spark.range(0, 10 * parts, numPartitions=parts).select(
        F.when(F.col("id") == 10 * parts - 5, F.raise_error(F.lit("injected task failure")))
        .otherwise(F.col("id"))
        .alias("n")
    )


def test_failed_overwrite_keeps_old_rows_and_publishes_nothing(spark, tmp_path):
    spark.dataSource.register(AvroOcfDataSource)
    d = str(tmp_path / "ocf")
    old = spark.range(100, 105, numPartitions=1).selectExpr("id AS n")
    old.write.format("pyconnect_avro").mode("overwrite").save(d)
    names = _avro_names(d)
    with pytest.raises(Exception, match="injected task failure"):
        _failing_rows(spark).write.format("pyconnect_avro").mode("overwrite").save(d)
    assert _avro_names(d) == names
    assert sorted(r.n for r in spark.read.format("pyconnect_avro").load(d).collect()) == list(
        range(100, 105)
    )
    assert not list((tmp_path / "ocf").glob("_staging-*"))


def test_failed_append_publishes_nothing_and_leaves_no_staging(spark, tmp_path):
    spark.dataSource.register(AvroOcfDataSource)
    d = tmp_path / "ocf"
    with pytest.raises(Exception, match="injected task failure"):
        _failing_rows(spark).write.format("pyconnect_avro").mode("append").save(str(d))
    assert not d.exists() or not list(d.iterdir())


def test_commit_renames_in_name_order(tmp_path, monkeypatch):
    """The job commit publishes the files its messages name in name order,
    whatever order the messages arrive in, so a tail listing the directory
    mid-commit sees a sorted prefix of the write."""
    import os

    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StructField, StructType

    from pyconnect_spark.sources import avro_ocf

    d = tmp_path / "ocf"
    writer = avro_ocf.AvroOcfWriter(
        StructType([StructField("n", LongType())]), {"path": str(d)}, overwrite=False
    )
    messages = [writer.write(iter([Row(n=i)])) for i in range(6)]
    messages.sort(key=lambda m: m.name, reverse=True)
    renamed = []
    real_rename = os.rename

    def rename(src, dst):
        renamed.append(os.path.basename(dst))
        real_rename(src, dst)

    monkeypatch.setattr(avro_ocf.os, "rename", rename)
    writer.commit(messages)
    assert renamed == sorted(m.name for m in messages) == sorted(os.listdir(d))
    assert sorted(r["n"] for name in renamed for r in iter_records((d / name).read_bytes())) == list(
        range(6)
    )
