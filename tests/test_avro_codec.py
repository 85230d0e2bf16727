"""Avro binary codec: golden byte sequences from the Avro 1.x spec,
roundtrip properties over the inferable type surface, the column-level
Confluent-framed path end-to-end, and the JVM column codec held to the
in-process ``encode``/``decode``: same bytes, same values, no Python
worker in its plans, and a JVM launched without the package jar gets it."""

from __future__ import annotations

import base64
import json
import math
import os
import string
import struct
import subprocess
import sys
import tempfile
import textwrap

from hypothesis import given, settings
from hypothesis import strategies as st
from py4j.protocol import Py4JJavaError
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyconnect_spark.config import SinkConfig, SourceConfig
from pyconnect_spark.functions import avro as A
from pyconnect_spark.functions.avro_codec import decode, encode, from_avro_py, to_avro_py
from pyconnect_spark.streaming.sink import EpochFileSink
from pyconnect_spark.streaming.source import SparkSource

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# golden bytes (Avro spec examples: zigzag varints, length-prefixed strings)
# ---------------------------------------------------------------------------
def test_golden_long_encoding():
    assert encode(0, "long") == b"\x00"
    assert encode(-1, "long") == b"\x01"
    assert encode(1, "long") == b"\x02"
    assert encode(-2, "long") == b"\x03"
    assert encode(2, "long") == b"\x04"
    assert encode(-64, "long") == b"\x7f"
    assert encode(64, "long") == b"\x80\x01"


def test_golden_string_and_bool():
    assert encode("foo", "string") == b"\x06foo"
    assert encode(True, "boolean") == b"\x01"
    assert encode(False, "boolean") == b"\x00"
    assert encode(None, "null") == b""


def test_golden_record_and_array():
    # spec example: record {a: long=27, b: string="foo"} -> 36 06 66 6f 6f
    schema = {
        "type": "record",
        "name": "test",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    assert encode({"a": 27, "b": "foo"}, schema) == b"\x36\x06foo"
    # spec example: array<long> [3, 27] -> 04 06 36 00
    assert encode([3, 27], {"type": "array", "items": "long"}) == b"\x04\x06\x36\x00"


def test_golden_nullable_union():
    schema = ["null", "long"]
    assert encode(None, schema) == b"\x00"
    assert encode(7, schema) == b"\x02\x0e"  # union index 1, then zigzag(7)
    assert decode(b"\x00", schema) is None
    assert decode(b"\x02\x0e", schema) == 7


_prims = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(string.printable, max_size=30),
    st.binary(max_size=30),
)
_field_names = st.text(string.ascii_lowercase, min_size=1, max_size=6)
_records = st.dictionaries(
    _field_names,
    st.one_of(
        _prims,
        st.lists(st.integers(-1000, 1000), max_size=5),
        st.dictionaries(_field_names, _prims, min_size=1, max_size=3),
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=200, deadline=None)
@given(_records, st.booleans())
def test_roundtrip_inferred_schema(record, optional):
    """encode∘decode is identity under the schema inferred for the record
    (the exact pipeline a source uses: infer once, encode every record)."""
    schema = A.create_schema_from_record("value", record, optional_primitives=optional)
    out = decode(encode(record, schema), schema)
    assert out == record


def test_map_roundtrip():
    schema = {"type": "map", "values": "long"}
    v = {"a": 1, "b": -5, "c": 0}
    assert decode(encode(v, schema), schema) == v


# ---------------------------------------------------------------------------
# column-level path: struct column → Confluent-framed Avro → back
# ---------------------------------------------------------------------------
def test_column_roundtrip_confluent(spark):
    schema = {
        "type": "record",
        "name": "value",
        "fields": [{"name": "a", "type": "string"}, {"name": "b", "type": "long"}],
    }
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [((f"s{i}", i * 11),) for i in range(20)], "v struct<a:string,b:bigint>"
    )
    framed = df.select(to_avro_py(F.col("v"), schema, schema_id=42).alias("payload"))
    rows = framed.collect()
    assert all(bytes(r["payload"])[:5] == b"\x00\x00\x00\x00\x2a" for r in rows)

    back = framed.select(
        from_avro_py(
            F.col("payload"), schema, "struct<a:string,b:bigint>", confluent_framed=True
        ).alias("v")
    ).collect()
    got = sorted((r["v"]["a"], r["v"]["b"]) for r in back)
    assert got == sorted((f"s{i}", i * 11) for i in range(20))


# ---------------------------------------------------------------------------
# JVM column codec against the in-process one
# ---------------------------------------------------------------------------
_PRIMITIVES = ["null", "boolean", "int", "long", "float", "double", "string", "bytes"]
# Few names, so nested records repeat them; one astral character.
_NAMES = st.sampled_from(["a", "b", "é", "\U0001d535"])


def _nested(children):
    return st.one_of(
        children.flatmap(
            lambda t: st.just(t)
            if isinstance(t, list) or t == "null"
            else st.sampled_from([["null", t], [t, "null"]])
        ),
        children.map(lambda t: {"type": "array", "items": t}),
        children.map(lambda t: {"type": "map", "values": t}),
        st.lists(st.tuples(_NAMES, children), min_size=1, max_size=4, unique_by=lambda f: f[0]).map(
            lambda fs: {"type": "record", "name": "a", "fields": [{"name": n, "type": t} for n, t in fs]}
        ),
    )


_SCHEMAS = st.recursive(st.sampled_from(_PRIMITIVES), _nested, max_leaves=8)
_LONG = 2**63 - 1


def _values(schema):
    if isinstance(schema, list):
        return st.one_of(st.none(), _values(next(s for s in schema if s != "null")))
    if isinstance(schema, dict) and schema["type"] == "array":
        return st.lists(_values(schema["items"]), max_size=4)
    if isinstance(schema, dict) and schema["type"] == "map":
        return st.dictionaries(st.text(max_size=4), _values(schema["values"]), max_size=6)
    if isinstance(schema, dict):
        return st.fixed_dictionaries({f["name"]: _values(f["type"]) for f in schema["fields"]})
    return {
        "null": st.none(),
        "boolean": st.booleans(),
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-_LONG, _LONG) | st.sampled_from([-_LONG, _LONG]),
        "float": st.floats(width=32, allow_nan=False),
        "double": st.floats(allow_nan=False) | st.sampled_from([0.0, -0.0, math.inf, -math.inf]),
        "string": st.text(max_size=12),
        "bytes": st.binary(max_size=12),
    }[schema]


def _jsonable(value):
    # Spark's JSON reader takes binary as base64 and keeps a map's order.
    if isinstance(value, bytes):
        return base64.b64encode(value).decode()
    if isinstance(value, dict):
        return {k: _jsonable(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_jsonable(v) for v in value]
    return value


def _ddl(dtype) -> str:
    if isinstance(dtype, T.StructType):
        return "struct<" + ",".join(f"`{f.name}`:{_ddl(f.dataType)}" for f in dtype.fields) + ">"
    if isinstance(dtype, T.ArrayType):
        return f"array<{_ddl(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"map<{_ddl(dtype.keyType)},{_ddl(dtype.valueType)}>"
    return dtype.simpleString()


def _plain(value):
    """A collected value in ``decode``'s shapes: Rows as dicts, bytes as bytes."""
    if isinstance(value, Row):
        return {k: _plain(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_plain(v) for v in value]
    if isinstance(value, bytearray):
        return bytes(value)
    return value


@settings(max_examples=40, deadline=None)
@given(_SCHEMAS.flatmap(lambda s: st.tuples(st.just(s), st.lists(_values(s), min_size=1, max_size=6))))
def test_jvm_codec_matches_python_codec(spark, case):
    """``to_avro_py`` writes ``encode``'s bytes and ``from_avro_py`` reads
    ``decode``'s values, over generated schemas and rows."""
    schema, values = case
    ddl = _ddl(A.avro_to_spark_type(schema)[0])
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "rows.json"), "w") as f:
            for i, v in enumerate(values):
                f.write(json.dumps({"i": i, "v": _jsonable(v)}) + "\n")
        rows = (
            spark.read.schema(f"i int, v {ddl}").json(d)
            .select("i", to_avro_py(F.col("v"), schema).alias("b"))
            .select("i", "b", from_avro_py(F.col("b"), schema, ddl).alias("v"))
            .orderBy("i")
            .collect()
        )
    # A SQL NULL row encodes to NULL, not to the union's null branch.
    assert [None if r.b is None else bytes(r.b) for r in rows] == [
        None if v is None else encode(v, schema) for v in values
    ]
    assert [_plain(r.v) for r in rows] == [
        None if v is None else decode(encode(v, schema), schema) for v in values
    ]


_RECORD = {
    "type": "record",
    "name": "value",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "score", "type": ["double", "null"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "bytes"}},
    ],
}
_RECORD_DDL = (
    "struct<id:bigint,name:string,note:string,score:double,tags:array<string>,attrs:map<string,binary>>"
)
_VALUE = {
    "id": -(2**40), "name": "naïve", "note": None, "score": -0.0, "tags": ["x", ""], "attrs": {"k": b"\x00\xff"},
}


def test_struct_fields_are_matched_by_name(spark):
    """A struct whose fields are in another order than the schema's still
    writes the schema's order. (No map field: a record holding a map is
    rebuilt in schema order before it reaches the JVM.)"""
    schema = {**_RECORD, "fields": [f for f in _RECORD["fields"] if f["name"] != "attrs"]}
    value = {k: v for k, v in _VALUE.items() if k != "attrs"}
    df = spark.createDataFrame(
        [(value,)], "v struct<tags:array<string>,score:double,note:string,name:string,id:bigint>"
    )
    [row] = df.select(to_avro_py(F.col("v"), schema).alias("b")).collect()
    assert bytes(row.b) == encode(value, schema)


def test_null_rows_stay_null(spark):
    df = spark.createDataFrame([(None, None)], f"v {_RECORD_DDL}, b binary")
    [row] = df.select(
        to_avro_py(F.col("v"), _RECORD, schema_id=3).alias("framed"),
        from_avro_py(F.col("b"), _RECORD, _RECORD_DDL, confluent_framed=True).alias("v"),
    ).collect()
    assert row.framed is None and row.v is None


def test_nan_stays_a_double_in_a_union(spark):
    """A double NaN is a value, not null, in both codecs, and they write
    the same bytes for it."""
    [row] = spark.createDataFrame([(math.nan,)], "v double").select(
        to_avro_py(F.col("v"), ["null", "double"]).alias("b")
    ).collect()
    assert bytes(row.b)[:1] == b"\x02" and math.isnan(struct.unpack("<d", bytes(row.b)[1:])[0])
    assert bytes(row.b) == encode(math.nan, ["null", "double"])


def _decode_fails(spark, payload: bytes) -> bool:
    df = spark.createDataFrame([(bytearray(payload),)], "b binary")
    try:
        df.select(from_avro_py(F.col("b"), _RECORD, _RECORD_DDL).alias("v")).collect()
    except Py4JJavaError:
        return True
    return False


def test_truncated_and_malformed_payloads_fail(spark):
    """Every strict prefix of a payload, a bad union branch and bad UTF-8
    fail the task; none decodes to NULL or to a value."""
    full = encode(_VALUE, _RECORD)
    assert not _decode_fails(spark, full)
    assert [n for n in range(len(full)) if not _decode_fails(spark, full[:n])] == []
    bad_branch = encode({**_VALUE, "note": "x"}, _RECORD).replace(b"\x02\x02x", b"\x04\x02x", 1)
    bad_utf8 = encode({**_VALUE, "name": "ab"}, _RECORD).replace(b"\x04ab", b"\x04\xc3(", 1)
    assert _decode_fails(spark, bad_branch) and _decode_fails(spark, bad_utf8)


# ---------------------------------------------------------------------------
# no Python worker on the codec's path
# ---------------------------------------------------------------------------
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")


def test_codec_plans_run_no_python(spark):
    df = spark.createDataFrame([(_VALUE,)], f"v {_RECORD_DDL}").select(
        to_avro_py(F.col("v"), _RECORD, schema_id=2).alias("b")
    )
    df = df.select(from_avro_py(F.col("b"), _RECORD, _RECORD_DDL, confluent_framed=True).alias("v"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pyconnect_avro_decode" in plan and not [n for n in _PYTHON_NODES if n in plan]
    assert _plain(df.collect()[0].v) == _VALUE


_KEY = {"type": "string", "name": "key"}


class _AvroSource(SparkSource):
    def transform(self, df):
        return df.select(
            to_avro_py(F.col("key"), _KEY, schema_id=1).alias("key"),
            to_avro_py(F.col("value"), _RECORD, schema_id=2).alias("value"),
        )


class _AvroSink(EpochFileSink):
    def read_stream(self):
        [topic] = self.config.topics
        return self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).json(topic)

    def transform(self, df):
        return df.select(
            from_avro_py(F.col("key"), _KEY, "string", confluent_framed=True).alias("key"),
            from_avro_py(F.col("value"), _RECORD, _RECORD_DDL, confluent_framed=True).alias("value"),
        )


def test_connector_stream_runs_no_python(spark, tmp_path):
    """An availableNow source -> topic -> EpochFileSink round, shaped like
    the connector benchmark's: neither query's plan evaluates Python."""
    in_dir, topic, out = tmp_path / "in", tmp_path / "topic", tmp_path / "out"
    in_dir.mkdir()
    topic.mkdir()
    for f in range(2):
        with open(in_dir / f"part-{f}.jsonl", "w") as fh:
            for i in range(5):
                rec = {**_VALUE, "id": f * 10 + i, "attrs": {"k": base64.b64encode(b"v").decode()}}
                fh.write(json.dumps({"key": f"K{f}{i}", "value": rec}) + "\n")
    source = _AvroSource(
        spark,
        SourceConfig(bootstrap_servers="localhost:9092", topic=str(topic), checkpoint_location=str(tmp_path / "ck1")),
        input_dir=str(in_dir),
        schema=f"key string, value {_RECORD_DDL}",
        reader_options={"maxFilesPerTrigger": 1},
    )
    source.run()
    sink = _AvroSink(
        spark,
        SinkConfig(bootstrap_servers="localhost:9092", topics=[str(topic)], checkpoint_location=str(tmp_path / "ck2")),
        schema="key binary, value binary",
        out_dir=str(out),
    )
    sink.run()
    for query in (source._query, sink._query):
        plan = query._jsq.explainInternal(False)
        assert "pyconnect_avro" in plan and not [n for n in _PYTHON_NODES if n in plan]
    keys = [json.loads(line)["key"] for part in out.glob("epoch-*/part-*") for line in part.read_text().splitlines()]
    assert sorted(keys) == sorted(f"K{f}{i}" for f in range(2) for i in range(5))


_PLAIN_JVM = textwrap.dedent(
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyconnect_spark.functions.avro_codec import from_avro_py, to_avro_py
    from pyconnect_spark.operators.dedup import minhash_signatures
    from pyconnect_spark.operators.similarity import _hyperplanes, lsh_tables

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    df = spark.createDataFrame([(7, "a b c d", [0.5] * 64)], "doc_id long, text string, embedding array<float>")
    print(df.select(from_avro_py(to_avro_py(F.col("doc_id"), "long"), "long", "bigint").alias("v")).first().v)
    print(len(minhash_signatures(df).first().signature))
    print(len(df.select(lsh_tables(F.col("embedding"), _hyperplanes(64, 72), 12, 6).alias("k")).first().k))
    spark.stop()
    """
)


def test_a_jvm_launched_without_the_jar_loads_it_for_the_java_udfs():
    """A plain builder launched the JVM, as an external driver does, so the
    package jar is not on its classpath: the codec and the curation kernels
    add it to the session and run."""
    proc = subprocess.run(
        [sys.executable, "-c", _PLAIN_JVM],
        capture_output=True, text=True, env={**os.environ, "PYTHONPATH": _ROOT}, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-3:] == ["7", "64", "12"], proc.stdout
