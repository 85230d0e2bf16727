"""Avro OCF as a registered Spark DataSource (Spark 4 Python DataSource
API) — ``spark.read.format("pyconnect_avro").load(dir)``.

The streaming side of the reference's pluggable-source contract already
has a Python DataSource (`streaming/pysource.py`); this is the BATCH
counterpart, wrapping the jar-free OCF codec (`sources/avro_ocf.py`) in
the first-class reader API so Avro datasets compose with the normal
reader chain (``.schema()``, ``.load()``, post-scan filters, AQE) instead
of a helper function.

Split model: one :class:`~pyspark.sql.datasource.InputPartition` per
``.avro`` file — identical to ``read_avro``'s binaryFile task-per-file
model and to the reference's one-consumer-per-partition layout. Each
partition streams its file's blocks through the pure-Python decoder on an
executor; the driver touches only the first file's header (schema probe,
no data blocks).

The schema probe globs the driver-visible filesystem (``file:`` paths) —
the common staging case this source exists for; for object stores, pass
an explicit ``.schema(...)`` and the probe is skipped entirely, or use
``read_avro`` (binaryFile handles any Hadoop filesystem).
"""

from __future__ import annotations

import glob as _glob
import io
import os
import time
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from pyconnect_spark.functions.avro import avro_to_spark_type
from pyconnect_spark.functions.avro import spark_type_to_avro
from pyconnect_spark.sources.avro_ocf import (
    iter_records,
    parse_header,
    part_file_name,
    write_container,
)


def _list_files(options, *, allow_empty: bool = False) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("pyconnect_avro: .load(path) is required")
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


class _OcfFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class AvroOcfReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._files = _list_files(options)

    def partitions(self):
        return [_OcfFilePartition(p) for p in self._files]

    def read(self, partition: _OcfFilePartition) -> Iterator[tuple]:
        cols = [f.name for f in self._schema.fields]
        with open(partition.path, "rb") as fh:
            data = fh.read()
        for rec in iter_records(data):
            yield tuple(rec.get(c) for c in cols)


class AvroOcfDataSource(DataSource):
    """``spark.dataSource.register(AvroOcfDataSource)`` then
    ``spark.read.format("pyconnect_avro").load(dir)``."""

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
    """Tail an append-only OCF directory as a stream:
    ``spark.readStream.format("pyconnect_avro").load(dir)``.

    Offsets are ``{"idx": n}`` over the NAME-SORTED file list — each
    micro-batch decodes the files that appeared since the last committed
    offset, and Spark's checkpoint makes restarts resume exactly there
    (the same offset contract as streaming/pysource.py, applied to the
    batch DataSource's format). The directory must be append-only and a
    later file must sort after every earlier one: AvroOcfWriter and
    ``write_avro`` name files by the write's start time
    (``avro_ocf.part_file_name``), so appends through either qualify.
    Files must be complete when they become visible (write-then-rename,
    which both writers do)."""

    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._options = options

    def _files(self) -> list[str]:
        return _list_files(self._options, allow_empty=True)

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def _decode(self, paths: list[str]) -> list[tuple]:
        cols = [f.name for f in self._schema.fields]
        rows: list[tuple] = []
        for path in paths:
            with open(path, "rb") as fh:
                data = fh.read()
            for rec in iter_records(data):
                rows.append(tuple(rec.get(c) for c in cols))
        return rows

    def read(self, start: dict):
        files = self._files()
        i = start["idx"]
        batch = self._decode(files[i:])
        return iter(batch), {"idx": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        return iter(self._decode(files[start["idx"] : end["idx"]]))


class _OcfCommit(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class AvroOcfWriter(DataSourceWriter):
    """One `.avro` container file per input partition (the same split
    model as the read side and as `write_avro`); empty partitions emit no
    file. Each task writes to a `.tmp` name and atomically renames, so
    readers never observe a partial container."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self._avro_schema = spark_type_to_avro(schema, name="value")
        self._path = options.get("path")
        if not self._path:
            raise ValueError("pyconnect_avro: .save(path) is required")
        self._write_ns = time.time_ns()
        if overwrite and os.path.isdir(self._path):
            for f in os.listdir(self._path):
                if f.endswith(".avro"):
                    os.remove(os.path.join(self._path, f))
        os.makedirs(self._path, exist_ok=True)

    def write(self, iterator) -> _OcfCommit:
        import itertools

        # Stream rows through the block encoder — a multi-GB partition is
        # never materialized as a Python list. Peek one row so empty
        # partitions emit no file (same contract as write_avro).
        records = (r.asDict(recursive=True) for r in iterator)
        try:
            head = next(records)
        except StopIteration:
            return _OcfCommit("", 0)
        n = 0

        def counted():
            nonlocal n
            for rec in itertools.chain([head], records):
                n += 1
                yield rec

        payload = write_container(counted(), self._avro_schema, codec="null")
        fname = os.path.join(self._path, part_file_name(self._write_ns))
        with open(fname + ".tmp", "wb") as fh:
            fh.write(payload)
        os.replace(fname + ".tmp", fname)
        return _OcfCommit(fname, n)
