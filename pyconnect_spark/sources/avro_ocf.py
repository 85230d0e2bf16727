"""Avro Object Container Files (OCF), jar-free: the container codec, the
``pyconnect_avro`` Spark DataSource that reads, tails and writes them,
and ``read_avro``/``write_avro``. Every on-disk OCF rule lives here.

The reference moves Avro-encoded records exclusively (Confluent-framed
messages, `/root/reference/src/pyconnect/pyconnectsource.py:177-196`);
this module completes the Avro surface with the *file* container format
(Avro 1.x spec "Object Container Files") so datasets can be staged and
exchanged as `.avro` files without the spark-avro JVM package.

Layout per the spec:

    magic "Obj\\x01"
    file-metadata map<bytes>  (avro.schema = schema JSON, avro.codec)
    16-byte sync marker
    repeat: block = <count:long> <size:long> <objects...> <sync marker>

On disk:

- **split**: one `.avro` file per non-empty input partition on write, one
  input partition per file on read, like the reference's
  one-consumer-per-partition layout. `null` and `deflate` (stdlib zlib)
  codecs; the write's one option is ``codec``.
- **naming**: a write's files are ``part-<write start ns>-<uuid>.avro``
  (``part_file_name``), so every file of a later write sorts after every
  file of an earlier one. The stream tail's offset is an index into the
  name-sorted listing and relies on that.
- **publish**: tasks write their containers into the hidden directory
  ``<dir>/_staging-<write start ns>``, which Spark's file listing and the
  ``*.avro`` glob both skip. The job commit renames the files its task
  messages name into ``<dir>`` in name order, so a tail that lists the
  directory mid-commit sees a sorted prefix; an overwrite deletes the old
  `.avro` files only after that. An abort deletes the staging directory:
  a failed write publishes nothing, and a failed overwrite keeps the old
  files.
- **paths**: the DataSource opens files with Python's ``open`` on the
  driver and the executors, so it takes a bare path or a ``file:`` URI
  (``_local_path``) and refuses any other scheme. ``read_avro`` reads
  through Spark's binaryFile source, so it reads any Hadoop FileSystem
  (``hdfs:``, ``s3a:``, ``viewfs:``).

Codec surface = the inferred-schema type table of `functions/avro.py`
(null/boolean/int/long/float/double/string/bytes/record/array/map and
nullable unions) — timestamps are staged as epoch micros (`long`) by the
caller, mirroring the reference's inference table which has no logical
types (`/root/reference/src/pyconnect/avroparser.py:9`).
"""

from __future__ import annotations

import glob as _glob
import io
import itertools
import json
import os
import shutil
import time
import urllib.parse
import uuid
import zlib
from typing import Any, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pyconnect_spark.functions.avro import avro_to_spark_type, spark_type_to_avro
from pyconnect_spark.functions.avro_codec import (
    _decode_bytes,
    _decode_long,
    _encode_bytes,
    _encode_long,
    decode,
    encode,
)

_MAGIC = b"Obj\x01"
_SYNC_SIZE = 16


# ---------------------------------------------------------------------------
# pure-Python container encode/decode (no Spark)
# ---------------------------------------------------------------------------
def _read_meta_map(buf: io.BytesIO) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    while True:
        n = _decode_long(buf)
        if n == 0:
            return out
        if n < 0:  # negative count ⇒ byte-size prefix follows (spec allows)
            _decode_long(buf)
            n = -n
        for _ in range(n):
            k = _decode_bytes(buf).decode("utf-8")
            out[k] = _decode_bytes(buf)


def parse_header(buf: io.BytesIO) -> tuple[dict, str, bytes]:
    """-> (schema dict, codec name, sync marker); buf left at first block."""
    if buf.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta = _read_meta_map(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec: {codec}")
    sync = buf.read(_SYNC_SIZE)
    return schema, codec, sync


def iter_records(data: bytes) -> Iterator[Any]:
    """Stream records out of OCF bytes (one block decompressed at a time)."""
    buf = io.BytesIO(data)
    schema, codec, sync = parse_header(buf)
    while buf.tell() < len(data):
        n = _decode_long(buf)
        size = _decode_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)  # raw deflate per spec
        bbuf = io.BytesIO(block)
        for _ in range(n):
            yield decode(bbuf, schema)
        if buf.read(_SYNC_SIZE) != sync:
            raise ValueError("OCF sync marker mismatch (corrupt block)")


def write_container(
    records: Iterable[dict],
    schema: dict,
    *,
    codec: str = "null",
    block_records: int = 4096,
) -> bytes:
    """Encode records into OCF bytes (blocked, optional deflate)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec: {codec}")
    sync = uuid.uuid5(uuid.NAMESPACE_OID, json.dumps(schema, sort_keys=True)).bytes
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    _encode_long(out, len(meta))
    for k, v in meta.items():
        _encode_bytes(out, k.encode())
        _encode_bytes(out, v)
    _encode_long(out, 0)
    out.write(sync)

    batch: list[dict] = []

    def flush() -> None:
        if not batch:
            return
        body = io.BytesIO()
        for rec in batch:
            encode(rec, schema, body)
        payload = body.getvalue()
        if codec == "deflate":
            payload = zlib.compress(payload, 6)[2:-4]  # strip zlib wrapper → raw
        _encode_long(out, len(batch))
        _encode_long(out, len(payload))
        out.write(payload)
        out.write(sync)
        batch.clear()

    for rec in records:
        batch.append(rec)
        if len(batch) >= block_records:
            flush()
    flush()
    return out.getvalue()


def part_file_name(write_ns: int) -> str:
    """File name of one partition of an OCF write that started at
    ``write_ns`` (``time.time_ns()``, taken once on the driver): the
    zero-padded start sorts every file of a later write after every file
    of an earlier one, which the stream reader's offset (an index into the
    name-sorted listing) relies on; the uuid keeps a write's files apart."""
    return f"part-{write_ns:020d}-{uuid.uuid4().hex}.avro"


# ---------------------------------------------------------------------------
# paths and listing
# ---------------------------------------------------------------------------
def _local_path(path: str | None) -> str:
    """The local path of a bare path or a ``file:`` URI. Any other scheme
    raises: the DataSource opens its files with Python's ``open``."""
    if not path:
        raise ValueError("pyconnect_avro: a path is required")
    parts = urllib.parse.urlsplit(path)
    if not parts.scheme:
        return path
    if parts.scheme == "file":
        return parts.path
    raise ValueError(
        f"pyconnect_avro reads and writes local paths and file: URIs, not "
        f"{parts.scheme}: ({path!r}); read_avro reads OCF files on any Hadoop FileSystem"
    )


def _list_files(options, *, allow_empty: bool = False) -> list[str]:
    path = _local_path(options.get("path"))
    pattern = options.get("pathGlobFilter", "*.avro")
    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, pattern)))
    else:
        files = sorted(_glob.glob(path)) or ([path] if not allow_empty else [])
    if not files and not allow_empty:
        # Batch reads fail fast on a bad path; the STREAM reader passes
        # allow_empty — tailing a directory that starts empty is the
        # normal tail case and must yield empty micro-batches, not crash.
        raise FileNotFoundError(f"no OCF files under {path!r} matching {pattern!r}")
    return files


def _rows(path: str, cols: list[str]) -> Iterator[tuple]:
    with open(path, "rb") as fh:
        data = fh.read()
    for rec in iter_records(data):
        yield tuple(rec.get(c) for c in cols)


# ---------------------------------------------------------------------------
# the pyconnect_avro DataSource
# ---------------------------------------------------------------------------
class _OcfFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class AvroOcfReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._cols = schema.fieldNames()
        self._files = _list_files(options)

    def partitions(self):
        return [_OcfFilePartition(p) for p in self._files]

    def read(self, partition: _OcfFilePartition) -> Iterator[tuple]:
        return _rows(partition.path, self._cols)


class AvroOcfDataSource(DataSource):
    """``spark.dataSource.register(AvroOcfDataSource)`` then
    ``spark.read.format("pyconnect_avro").load(dir)``,
    ``spark.readStream.format("pyconnect_avro").load(dir)`` or
    ``df.write.format("pyconnect_avro").save(dir)``. The driver's schema
    probe reads the first file's header only; an explicit ``.schema(...)``
    skips it."""

    @classmethod
    def name(cls) -> str:
        return "pyconnect_avro"

    def schema(self) -> StructType:
        first = _list_files(self.options)[0]
        with open(first, "rb") as fh:
            header = fh.read(64 * 1024)  # header only — no data blocks
        avro_schema, _, _ = parse_header(io.BytesIO(header))
        spark_type, _ = avro_to_spark_type(avro_schema)
        return spark_type

    def reader(self, schema: StructType) -> AvroOcfReader:
        return AvroOcfReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "AvroOcfWriter":
        return AvroOcfWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "AvroOcfStreamReader":
        return AvroOcfStreamReader(schema, self.options)


class AvroOcfStreamReader(SimpleDataSourceStreamReader):
    """Tail an append-only OCF directory as a stream.

    Offsets are ``{"idx": n}`` over the NAME-SORTED file list — each
    micro-batch decodes the files that appeared since the last committed
    offset, and Spark's checkpoint makes restarts resume exactly there
    (the same offset contract as streaming/pysource.py). The directory
    must be append-only and a later file must sort after every earlier
    one, which the writer's naming and name-ordered commit give."""

    def __init__(self, schema: StructType, options):
        self._cols = schema.fieldNames()
        self._options = options

    def _files(self) -> list[str]:
        return _list_files(self._options, allow_empty=True)

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def _decode(self, paths: list[str]) -> list[tuple]:
        return [row for path in paths for row in _rows(path, self._cols)]

    def read(self, start: dict):
        files = self._files()
        batch = self._decode(files[start["idx"] :])
        return iter(batch), {"idx": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        return iter(self._decode(files[start["idx"] : end["idx"]]))


class _OcfCommit(WriterCommitMessage):
    def __init__(self, name: str | None):
        self.name = name


class AvroOcfWriter(DataSourceWriter):
    """One container per non-empty input partition, staged by its task and
    published by the job commit (module docstring)."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self._avro_schema = spark_type_to_avro(schema, name="value")
        self._codec = options.get("codec", "null")
        self._path = _local_path(options.get("path"))
        self._overwrite = overwrite
        self._write_ns = time.time_ns()
        # Made here, on the driver, not by the tasks: a task still running
        # after ``abort`` then fails to open its file instead of making
        # the directory again.
        self._staging = os.path.join(self._path, f"_staging-{self._write_ns:020d}")
        os.makedirs(self._staging)

    def write(self, iterator) -> _OcfCommit:
        # Stream rows through the block encoder; peek one row so empty
        # partitions emit no file.
        records = (r.asDict(recursive=True) for r in iterator)
        try:
            head = next(records)
        except StopIteration:
            return _OcfCommit(None)
        payload = write_container(
            itertools.chain([head], records), self._avro_schema, codec=self._codec
        )
        name = part_file_name(self._write_ns)
        with open(os.path.join(self._staging, name), "wb") as fh:
            fh.write(payload)
        return _OcfCommit(name)

    def commit(self, messages: list[_OcfCommit]) -> None:
        old = _glob.glob(os.path.join(self._path, "*.avro")) if self._overwrite else []
        for name in sorted(m.name for m in messages if m.name):
            os.rename(os.path.join(self._staging, name), os.path.join(self._path, name))
        for path in old:
            os.remove(path)
        # Also removes any file a failed task attempt left in staging.
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self._staging, ignore_errors=True)


# ---------------------------------------------------------------------------
# read_avro / write_avro
# ---------------------------------------------------------------------------
def read_avro(spark: SparkSession, path: str, glob: str = "*.avro") -> DataFrame:
    """Distributed OCF read on any Hadoop FileSystem: binaryFile scan (one
    task per file) decoded into Arrow batches. Schema comes from the first
    file's header, read without scanning data blocks."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("content")
    # Fetch the first file's header bytes THROUGH Spark (works on any
    # supported filesystem — hdfs://, s3a:// — not just file:), instead of
    # stripping the scheme and open()ing on the driver.
    first = files.limit(1).collect()
    if not first:
        raise FileNotFoundError(f"no OCF files under {path!r} matching {glob!r}")
    schema, _, _ = parse_header(io.BytesIO(bytes(first[0].content)))
    spark_type, _ = avro_to_spark_type(schema)
    arrow_schema = to_arrow_schema(spark_type)

    def decode_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                records = list(iter_records(blob))
                if records:
                    yield pa.RecordBatch.from_pylist(records, schema=arrow_schema)

    return files.mapInArrow(decode_files, spark_type)


def write_avro(df: DataFrame, path: str, *, codec: str = "null") -> int:
    """Append ``df`` to the OCF directory ``path`` through the
    ``pyconnect_avro`` DataSource (a local path or ``file:`` URI, shared by
    the executors on a real cluster, like any Spark sink). Returns the
    rows written, observed on the write's own job."""
    df.sparkSession.dataSource.register(AvroOcfDataSource)
    written = Observation()
    df.observe(written, F.count(F.lit(1)).alias("n")).write.format(
        "pyconnect_avro"
    ).mode("append").option("codec", codec).save(path)
    return written.get["n"]
