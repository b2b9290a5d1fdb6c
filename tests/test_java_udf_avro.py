"""The in-repo JVM Avro codec, the engine's one codec path, compiled and
executed for real: java/fkta/*.java is compiled with javac against
pyspark's bundled avro-1.12 jar (sources are the committed artifact, the
jar is a build product), registered into the live session, and checked
against rows built from the inputs and against the plain-Python reference
codec (sources/avro_codec.py) on:

- plain decode (framed + unframed)
- writer→reader schema RESOLUTION from the framed id (mixed v1/v2 topic,
  via Avro's own GenericDatumReader(writer, reader) — the same rules
  sources/avro_codec.py implements by hand)
- the full type surface (enum/array/map/nested record/date/decimal/
  bytes/timestamp-millis/nullable unions)
- encode: the Java UDF's bytes are BIT-IDENTICAL to the Python codec's
- the decode_avro_column/encode_avro_column integration, and the per-task
  schema-id policy the decode UDF keeps as instance state
"""

from __future__ import annotations

import datetime as dt
import decimal
import io
import json
import shutil

import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.avro_schema import avro_to_struct
from flink_kafka_table_api_spark.sources import java_udf
from flink_kafka_table_api_spark.sources import kafka as ka
from flink_kafka_table_api_spark.sources.avro_codec import (
    _decode,
    encode_record,
)

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jar") is None,
    reason="needs javac + jar (JDK) to build the in-repo Avro UDFs",
)

V2 = json.dumps({
    "type": "record", "name": "R", "fields": [
        {"name": "id", "type": "string"},
        {"name": "status",
         "type": {"type": "enum", "name": "S", "symbols": ["A", "B"]}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "counts", "type": {"type": "map", "values": "long"}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                 "precision": 10, "scale": 2}},
        {"name": "blob", "type": "bytes"},
        {"name": "ts",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "nested", "type": {"type": "record", "name": "N",
                                    "fields": [{"name": "x", "type": "long"}]}},
        {"name": "added", "type": ["null", "string"], "default": None},
    ],
})
_v1 = json.loads(V2)
_v1["fields"] = _v1["fields"][:-1]  # v1 lacks the nullable 'added' field
V1 = json.dumps(_v1)

ROWS = [
    {"id": "a", "status": "A", "tags": ["x", "y"], "counts": {"k": 3},
     "d": dt.date(2024, 3, 4), "dec": decimal.Decimal("12.34"),
     "blob": b"\x01\x02", "ts": dt.datetime(2024, 1, 2, 3, 4, 5),
     "nested": {"x": 9}},
    {"id": "b", "status": "B", "tags": [], "counts": {},
     "d": dt.date(2020, 1, 1), "dec": decimal.Decimal("-0.05"),
     "blob": b"", "ts": dt.datetime(2030, 12, 31, 23, 59, 59),
     "nested": {"x": -1}},
]


def _row_tuple(r):
    return (r["id"], r["status"], tuple(r["tags"]),
            tuple(sorted(r["counts"].items())), r["d"], r["dec"],
            bytes(r["blob"]), r["ts"], r["nested"]["x"], r.get("added"))


def _collect_tuples(df):
    return {
        (r.id, r.status, tuple(r.tags), tuple(sorted(r.counts.items())),
         r.d, r.dec, bytes(r.blob), r.ts, r.nested.x, r.added)
        for r in df.collect()
    }


def test_jar_builds_and_registers(spark):
    jar = java_udf.ensure_built()
    assert jar is not None, "javac present but the UDF jar failed to build"
    fname = java_udf.ensure_decode_registered(spark, V2)
    assert fname is not None
    # idempotent: second call returns the cached registration
    assert java_udf.ensure_decode_registered(spark, V2) == fname
    assert java_udf.ensure_encode_registered(spark) is not None


def test_unbuildable_codec_fails_loudly(spark, monkeypatch):
    """With no codec jar there is no fallback path: building the decode or
    encode column raises, naming the missing JDK tools."""
    monkeypatch.setattr(java_udf, "ensure_built", lambda: None)
    monkeypatch.setattr(java_udf, "_REGISTERED", set())
    raw = spark.createDataFrame([(b"",)], "value binary")
    with pytest.raises(RuntimeError, match="javac and jar"):
        ka.decode_avro_column(raw, V2)
    with pytest.raises(RuntimeError, match="javac and jar"):
        ka.encode_avro_column(raw, V2)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _uses_java_path(df) -> bool:
    return "fkta_avro_decode" in _analyzed(df)


def test_java_decode_matches_python_full_type_surface(spark):
    payloads = [ka.frame_header(7) + encode_record(V2, dict(r, added="zz"))
                for r in ROWS]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")

    # prove the Java UDF from the analyzed plan, not by assumption
    out = ka.decode_avro_column(raw, V2, expected_schema_ids=[7])
    assert _uses_java_path(out)
    got_java = _collect_tuples(out)

    expected = {_row_tuple(dict(r, added="zz")) for r in ROWS}
    assert got_java == expected


def test_undeclared_framed_decode_runs_on_jvm_path(spark):
    """With no id declared, the framed decode still runs in the JVM: the
    decode UDF pins the first id each task sees, so no Python pre-scan is
    needed and the plan holds no MapInPandas."""
    payloads = [ka.frame_header(7) + encode_record(V2, dict(r, added=None))
                for r in ROWS]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")
    out = ka.decode_avro_column(raw, V2)
    assert _uses_java_path(out)
    assert "MapInPandas" not in _analyzed(out)
    assert _collect_tuples(out) == {
        _row_tuple(dict(r, added=None)) for r in ROWS
    }


def _framed(spark, ids: list[int], slices: int):
    """Two V2 payloads per id, in id order, over `slices` partitions."""
    payloads = [ka.frame_header(i) + encode_record(V2, dict(r, added=None))
                for i in ids for r in ROWS]
    rdd = spark.sparkContext.parallelize([(p,) for p in payloads], slices)
    return spark.createDataFrame(rdd, "value binary")


def test_single_partition_mixed_ids_fail_on_jvm_path(spark):
    raw = _framed(spark, [7, 8], 1)
    out = ka.decode_avro_column(raw, V2)
    assert _uses_java_path(out)
    with pytest.raises(
        Exception, match=r"mixed Avro schema ids in topic \(\[7, 8\]\)"
    ):
        out.collect()


def test_decode_udf_instance_is_per_task(spark):
    """Spark deserializes a fresh decode-UDF instance for every task, so
    the pinned id is task state: a later action on another id starts
    unpinned, although both share one registered function, and two tasks
    may each carry their own id."""
    expected = {_row_tuple(dict(r, added=None)) for r in ROWS}
    for sid in (7, 8):
        one_task = ka.decode_avro_column(_framed(spark, [sid], 1), V2)
        assert _collect_tuples(one_task) == expected
    two_tasks = ka.decode_avro_column(_framed(spark, [7, 8], 2), V2)
    assert len(two_tasks.collect()) == 4


def test_java_decode_resolves_mixed_writer_schemas(spark):
    """A topic carrying v1- and v2-framed messages decodes under the v2
    reader when writer_schemas maps both ids, on the JVM path via Avro's
    own resolution."""
    payloads = [ka.frame_header(1) + encode_record(V1, ROWS[0]),
                ka.frame_header(2) + encode_record(V2,
                                                   dict(ROWS[1], added="zz"))]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")
    writers = {1: V1, 2: V2}

    got_java = _collect_tuples(
        ka.decode_avro_column(raw, V2, writer_schemas=writers)
    )

    expected = {_row_tuple(dict(ROWS[0], added=None)),
                _row_tuple(dict(ROWS[1], added="zz"))}
    assert got_java == expected


def test_java_decode_unknown_id_fails_loudly(spark):
    payloads = [ka.frame_header(99) + encode_record(V1, ROWS[0])]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")
    with pytest.raises(Exception, match="unknown Avro schema id 99"):
        ka.decode_avro_column(raw, V2, writer_schemas={1: V1}).collect()


def test_java_encode_bit_identical_to_python(spark):
    full = [dict(r, added="zz") for r in ROWS]
    st = avro_to_struct(V2)
    src = spark.createDataFrame(
        [(r["id"], r["status"], r["tags"], r["counts"], r["d"], r["dec"],
          r["blob"], r["ts"], (r["nested"]["x"],), r["added"]) for r in full],
        st,
    )
    enc = ka.encode_avro_column(src, V2, schema_id=42)
    got = sorted(bytes(r.value) for r in enc.collect())
    want = sorted(ka.frame_header(42) + encode_record(V2, r) for r in full)
    assert got == want
    # and the Python decoder reads the Java encoder's bytes
    decoded = _decode(io.BytesIO(got[0][5:]), json.loads(V2))
    assert decoded["id"] in {"a", "b"}


def test_roundtrip_through_registered_payload(spark):
    """registered_payload (the O9 sink value builder) -> decode_avro_column
    round trip."""
    df = spark.createDataFrame(
        [("t1", 10.5, "APPROVED"), ("t2", 99.0, "PENDING")],
        "transactionId string, amount double, status string",
    )
    schema = json.dumps({
        "type": "record", "name": "Transaction", "fields": [
            {"name": "transactionId", "type": "string"},
            {"name": "amount", "type": "double"},
            {"name": "status", "type": "string"},
        ],
    })
    payload = ka.encode_avro_column(df, schema, schema_id=5)
    back = ka.decode_avro_column(payload, schema,
                                 expected_schema_ids=[5])
    got = {(r.transactionId, r.amount, r.status) for r in back.collect()}
    assert got == {("t1", 10.5, "APPROVED"), ("t2", 99.0, "PENDING")}


def test_unframed_decode(spark):
    payloads = [encode_record(V2, dict(r, added=None)) for r in ROWS]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")
    out = ka.decode_avro_column(raw, V2, confluent_framed=False)
    assert _uses_java_path(out)  # unframed = no ids exist, JVM path ok
    got = _collect_tuples(out)
    assert got == {_row_tuple(dict(r, added=None)) for r in ROWS}
