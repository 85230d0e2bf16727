"""Avro Object Container File (OCF) source/sink — jar-free.

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

Scale posture:

- **read**: `spark.read.format("binaryFile")` distributes whole files to
  executors (one task per file — OCF files are the split unit, like the
  reference's one-consumer-per-partition model); block decode happens in
  an Arrow-batched `mapInPandas`, so N files decode on N cores and no
  driver collect ever happens. Blocks inside a file stream through a
  generator — a multi-GB file never materializes twice.
- **write**: one OCF file per Spark partition via `mapInPandas`, so write
  parallelism equals upstream partitioning and the shuffle layout is
  preserved. `null` and `deflate` (stdlib zlib) codecs.

Codec surface = the inferred-schema type table of `functions/avro.py`
(null/boolean/int/long/float/double/string/bytes/record/array/map and
nullable unions) — timestamps are staged as epoch micros (`long`) by the
caller, mirroring the reference's inference table which has no logical
types (`/root/reference/src/pyconnect/avroparser.py:9`).
"""

from __future__ import annotations

import io
import json
import os
import time
import uuid
import zlib
from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

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


# ---------------------------------------------------------------------------
# Spark-level read/write
# ---------------------------------------------------------------------------
def _clean_row(row: dict) -> dict:
    """pandas NaN/NaT/numpy scalars → plain Python (None for missing)."""
    out = {}
    for k, v in row.items():
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            out[k] = [x.item() if hasattr(x, "item") else x for x in v]
        elif v is None or v != v:  # NaN-safe null test (scalars only)
            out[k] = None
        elif hasattr(v, "item"):  # numpy scalar
            out[k] = v.item()
        else:
            out[k] = v
    return out


def read_avro(spark: SparkSession, path: str, glob: str = "*.avro") -> DataFrame:
    """Distributed OCF read: binaryFile scan (one task per file) + Arrow-
    batched decode. Schema comes from the first file's header, read on the
    driver without scanning data blocks."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path)
    # Fetch the first file's header bytes THROUGH Spark (works on any
    # supported filesystem — hdfs://, s3a:// — not just file:), instead of
    # stripping the scheme and open()ing on the driver.
    first = files.select("content").limit(1).collect()
    if not first:
        raise FileNotFoundError(f"no OCF files under {path!r} matching {glob!r}")
    schema, _, _ = parse_header(io.BytesIO(bytes(first[0].content)))
    spark_type, _ = avro_to_spark_type(schema)

    def decode_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in spark_type.fields]
        for pdf in batches:
            for blob in pdf["content"]:
                rows = list(iter_records(bytes(blob)))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.select("content").mapInPandas(decode_files, schema=spark_type)


def part_file_name(write_ns: int) -> str:
    """File name of one partition of an OCF write that started at
    ``write_ns`` (``time.time_ns()``, taken once on the driver): the
    zero-padded start sorts every file of a later write after every file
    of an earlier one, which the stream reader's offset (an index into the
    name-sorted listing) relies on; the uuid keeps a write's files apart."""
    return f"part-{write_ns:020d}-{uuid.uuid4().hex}.avro"


def write_avro(
    df: DataFrame, path: str, *, codec: str = "null", block_records: int = 4096
) -> int:
    """Distributed OCF write: one `.avro` file per partition (executor-side;
    `path` must be a shared filesystem on a real cluster, like any Spark
    sink). Returns total rows written."""
    schema = spark_type_to_avro(df.schema, name="value")
    write_ns = time.time_ns()
    os.makedirs(path, exist_ok=True)

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows_iter = (
            _clean_row(r)
            for pdf in batches
            for r in pdf.to_dict("records")
        )
        # Peek so empty partitions produce no file.
        it = iter(rows_iter)
        try:
            head = next(it)
        except StopIteration:
            return
        import itertools

        fname = os.path.join(path, part_file_name(write_ns))
        n = 0

        def counted() -> Iterator[dict]:
            nonlocal n
            for rec in itertools.chain([head], it):
                n += 1
                yield rec

        payload = write_container(
            counted(), schema, codec=codec, block_records=block_records
        )
        tmp = fname + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, fname)  # atomic publish — readers never see partials
        yield pd.DataFrame({"file": [fname], "n_rows": [n]})

    stats = df.mapInPandas(write_part, schema="file string, n_rows long").collect()
    return int(sum(r.n_rows for r in stats))
