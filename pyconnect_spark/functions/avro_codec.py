"""Avro binary codec for the inferred-schema type surface.

The reference serializes every record through Confluent's Avro
serializers. Spark's own ``from_avro``/``to_avro`` need the spark-avro
jar, which this image lacks, so the engine carries its own codec for the
schema subset ``functions/avro.py`` can infer:

    null · boolean · int/long (zigzag varint) · float/double (LE IEEE) ·
    string/bytes (length-prefixed) · record · array · map ·
    nullable unions ["null", T] / [T, "null"]

Two implementations write the same bytes (Avro 1.x binary, one count
block then 0 for arrays and maps):

- ``to_avro_py`` / ``from_avro_py``, the column path streams use, run in
  the JVM: the ``pyconnect.avro.Encode``/``Decode`` UDFs of the package
  jar (``jvm/src``, ``make jvm``) over Apache Avro's ``BinaryEncoder`` and
  ``BinaryDecoder``, called with the schema compiled once into a short
  prefix text (``_compile``). No Python worker runs, so a batch pays no
  per-task Python start-up and no per-record Python dispatch
  (docs/SCALE.md §13). Confluent framing stays a SQL expression
  (``wrap_confluent``/``unwrap_confluent``). ``session.java_udf``
  registers the UDFs, adding the jar to a session whose JVM was launched
  without it.
- ``encode`` / ``decode`` run in-process for Python callers (the OCF
  container in ``sources/avro_ocf.py``) and are the oracle the tests hold
  the JVM codec to; golden byte sequences in the tests pin both.
"""

from __future__ import annotations

import hashlib
import io
import struct
from typing import Any

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark import session
from pyconnect_spark.functions.avro import unwrap_confluent, wrap_confluent


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------
def _encode_long(buf: io.BytesIO, n: int) -> None:
    # zigzag then varint (little-endian 7-bit groups)
    z = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _decode_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _encode_bytes(buf: io.BytesIO, b: bytes) -> None:
    _encode_long(buf, len(b))
    buf.write(b)


def _decode_bytes(buf: io.BytesIO) -> bytes:
    n = _decode_long(buf)
    return buf.read(n)


# ---------------------------------------------------------------------------
# schema-directed encode/decode
# ---------------------------------------------------------------------------
def _unwrap(schema: Any) -> Any:
    """{"type": "string", "name": ...} wrapper form → bare "string"
    (create_schema_from_record emits this for scalar top-level schemas)."""
    if (
        isinstance(schema, dict)
        and isinstance(schema.get("type"), (str, list))
        and schema["type"] not in ("record", "array", "map")
    ):
        return schema["type"]
    return schema


def encode(value: Any, schema: Any, buf: io.BytesIO | None = None) -> bytes:
    """Encode a Python value under an Avro schema (JSON-object form)."""
    schema = _unwrap(schema)
    out = buf or io.BytesIO()
    if isinstance(schema, list):  # union — nullable only, like inference
        if value is None:
            idx = schema.index("null")
            _encode_long(out, idx)
        else:
            idx = next(i for i, s in enumerate(schema) if s != "null")
            _encode_long(out, idx)
            encode(value, schema[idx], out)
    elif schema == "null":
        pass
    elif schema == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif schema in ("int", "long"):
        _encode_long(out, int(value))
    elif schema == "float":
        out.write(struct.pack("<f", float(value)))
    elif schema == "double":
        out.write(struct.pack("<d", float(value)))
    elif schema == "string":
        _encode_bytes(out, str(value).encode("utf-8"))
    elif schema == "bytes":
        _encode_bytes(out, bytes(value))
    elif isinstance(schema, dict) and schema["type"] == "record":
        for field in schema["fields"]:
            encode(value[field["name"]], field["type"], out)
    elif isinstance(schema, dict) and schema["type"] == "array":
        items = list(value)
        if items:
            _encode_long(out, len(items))
            for item in items:
                encode(item, schema["items"], out)
        _encode_long(out, 0)
    elif isinstance(schema, dict) and schema["type"] == "map":
        entries = dict(value)
        if entries:
            _encode_long(out, len(entries))
            for k, v in entries.items():
                _encode_bytes(out, str(k).encode("utf-8"))
                encode(v, schema["values"], out)
        _encode_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro schema node: {schema!r}")
    if buf is None:
        return out.getvalue()
    return b""


def decode(data: bytes | io.BytesIO, schema: Any) -> Any:
    schema = _unwrap(schema)
    buf = data if isinstance(data, io.BytesIO) else io.BytesIO(data)
    if isinstance(schema, list):
        idx = _decode_long(buf)
        return decode(buf, schema[idx])
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _decode_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "string":
        return _decode_bytes(buf).decode("utf-8")
    if schema == "bytes":
        return _decode_bytes(buf)
    if isinstance(schema, dict) and schema["type"] == "record":
        return {f["name"]: decode(buf, f["type"]) for f in schema["fields"]}
    if isinstance(schema, dict) and schema["type"] == "array":
        out = []
        while True:
            n = _decode_long(buf)
            if n == 0:
                return out
            if n < 0:  # negative count: a byte-size prefix follows
                _decode_long(buf)
                n = -n
            for _ in range(n):
                out.append(decode(buf, schema["items"]))
    if isinstance(schema, dict) and schema["type"] == "map":
        out = {}
        while True:
            n = _decode_long(buf)
            if n == 0:
                return out
            if n < 0:
                _decode_long(buf)
                n = -n
            for _ in range(n):
                k = _decode_bytes(buf).decode("utf-8")
                out[k] = decode(buf, schema["values"])
    raise ValueError(f"unsupported Avro schema node: {schema!r}")


# ---------------------------------------------------------------------------
# column-level codec: JVM UDFs from the package jar
# ---------------------------------------------------------------------------
_KINDS = {
    "null": "n", "boolean": "b", "int": "i", "long": "l",
    "float": "f", "double": "d", "string": "s", "bytes": "y",
}


def _compile(schema: Any) -> str:
    """The schema as the prefix text ``pyconnect.avro.Node`` parses: a kind
    letter per node, ``u<null index>`` before a union's other branch, and
    ``r<fields>;`` then ``<length>:<name>`` before each record field."""
    schema = _unwrap(schema)
    if isinstance(schema, list):
        branches = [s for s in schema if s != "null"]
        if len(schema) != 2 or len(branches) != 1:
            raise ValueError(f"only nullable unions are supported: {schema!r}")
        return f"u{schema.index('null')}{_compile(branches[0])}"
    if isinstance(schema, str) and schema in _KINDS:
        return _KINDS[schema]
    if isinstance(schema, dict) and schema["type"] == "array":
        return "a" + _compile(schema["items"])
    if isinstance(schema, dict) and schema["type"] == "map":
        return "m" + _compile(schema["values"])
    if isinstance(schema, dict) and schema["type"] == "record":
        fields = schema["fields"]
        return f"r{len(fields)};" + "".join(
            f"{len(f['name'])}:{f['name']}{_compile(f['type'])}" for f in fields
        )
    raise ValueError(f"unsupported Avro schema node: {schema!r}")


def _has_map(schema: Any) -> bool:
    schema = _unwrap(schema)
    if isinstance(schema, list):
        return any(_has_map(s) for s in schema)
    if not isinstance(schema, dict):
        return False
    if schema["type"] == "record":
        return any(_has_map(f["type"]) for f in schema["fields"])
    return schema["type"] == "map" or _has_map(schema["items"])


def _map_entries(col: Column, schema: Any) -> Column:
    """``col`` with every map under ``schema`` turned into the array of its
    entries. A JVM UDF receives a map as a Scala hash map, which loses the
    entry order ``encode`` writes. Inferred schemas hold no maps, so their
    columns pass through as they are."""
    schema = _unwrap(schema)
    if not _has_map(schema):
        return col
    if isinstance(schema, list):
        return _map_entries(col, next(s for s in schema if s != "null"))
    if schema["type"] == "map":
        return F.transform(
            F.map_entries(col),
            lambda e: F.struct(e["key"], _map_entries(e["value"], schema["values"]).alias("value")),
        )
    if schema["type"] == "array":
        return F.transform(col, lambda x: _map_entries(x, schema["items"]))
    fields = [_map_entries(col[f["name"]], f["type"]).alias(f["name"]) for f in schema["fields"]]
    return F.when(col.isNotNull(), F.struct(*fields))


def to_avro_py(col: Column, schema: dict, *, schema_id: int | None = None) -> Column:
    """struct/primitive column → Avro binary, Confluent-framed when
    ``schema_id`` is given; record fields are matched by name. NULL → NULL."""
    text = _compile(schema)
    udf = session.java_udf(SparkSession.active(), "pyconnect_avro_encode", "pyconnect.avro.Encode", "binary")
    payload = F.call_udf(udf, _map_entries(col, schema), F.lit(text))
    return payload if schema_id is None else wrap_confluent(payload, schema_id)


def from_avro_py(
    col: Column, schema: dict, spark_type: str, *, confluent_framed: bool = False
) -> Column:
    """Avro binary column → typed column (``spark_type`` is the DDL string
    for the decoded shape, e.g. ``"struct<a:string,b:bigint>"``). NULL →
    NULL; a truncated or malformed payload fails the task."""
    text = _compile(schema)
    digest = hashlib.sha1(spark_type.encode()).hexdigest()[:16]
    udf = session.java_udf(
        SparkSession.active(), f"pyconnect_avro_decode_{digest}", "pyconnect.avro.Decode", spark_type
    )
    payload = unwrap_confluent(col) if confluent_framed else col
    return F.call_udf(udf, payload, F.lit(text))
