"""End-to-end Avro-Confluent codec tests WITHOUT brokers or the spark-avro
jar: the pure-Python reference codec (sources/avro_codec.py) encodes the
reference's 5-row fixture into Confluent-framed payloads, the engine
decodes them through decode_avro_column (the JVM codec UDF) and runs the
full reference pipeline on the result — O2 exercised for real, not just
framing.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from flink_kafka_table_api_spark.avro_schema import struct_to_avro
from flink_kafka_table_api_spark.catalog import TRANSACTION_SCHEMA
from flink_kafka_table_api_spark.plans.pipeline import approved_transactions
from flink_kafka_table_api_spark.sources.avro_codec import (
    decode_record,
    encode_record,
)
from flink_kafka_table_api_spark.sources.kafka import (
    decode_avro_column,
    encode_avro_column,
    frame_header,
)

TX_AVSC = struct_to_avro(TRANSACTION_SCHEMA, name="Transaction")

NOW = dt.datetime(2024, 1, 1, 12, 0, 0)


def _tx(i, amount, currency, status, metadata=None, description=None):
    return {
        "id": f"tx-{i}",
        "amount": float(amount),
        "currency": currency,
        "timestamp": NOW,
        "description": description,
        "merchant": "Test Merchant",
        "category": "Test",
        "status": status,
        "userId": f"user-{i}",
        "metadata": metadata,
    }


FIXTURE = [
    _tx(1, 100.0, "USD", "APPROVED", metadata={}),
    _tx(2, 200.0, "EUR", "APPROVED", metadata={"k": "v", "k2": "v2"}),
    _tx(3, 150.0, "GBP", "APPROVED", description="unicode: héllo 的"),
    _tx(4, 300.0, "USD", "CANCELLED"),
    _tx(5, 250.0, "EUR", "PENDING", metadata=None),
]


def test_codec_roundtrip_every_fixture_row():
    for rec in FIXTURE:
        payload = encode_record(TX_AVSC, rec)
        back = decode_record(TX_AVSC, payload)
        assert back["id"] == rec["id"]
        assert back["amount"] == rec["amount"]
        assert back["timestamp"] == rec["timestamp"]
        assert back["description"] == rec["description"]
        assert back["metadata"] == rec["metadata"]


def test_codec_edge_values():
    schema = json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "big", "type": "long"},
            {"name": "neg", "type": "long"},
            {"name": "z", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
        ],
    })
    rec = {"big": 2**62, "neg": -(2**62), "z": 0, "d": -0.5,
           "b": True, "raw": b"\x00\xff", "arr": [1, -2, 3]}
    assert decode_record(schema, encode_record(schema, rec)) == rec


def test_confluent_framed_pipeline_end_to_end(spark):
    """Framed payloads -> decode_avro_column (JVM codec UDF) -> the
    reference pipeline. This is the reference's whole job minus the broker
    (reference TransactionProcessor.java:89-192)."""
    framed = [
        (bytearray(frame_header(17) + encode_record(TX_AVSC, rec)),)
        for rec in FIXTURE
    ]
    raw = spark.createDataFrame(framed, "value binary")
    decoded = decode_avro_column(raw, TX_AVSC, confluent_framed=True)
    assert [f.name for f in decoded.schema.fields] == [
        f.name for f in TRANSACTION_SCHEMA.fields
    ]
    out = approved_transactions(decoded).collect()
    assert len(out) == 4  # CANCELLED filtered (reference TransactionFlinkTest.java:93)
    by_id = {r.id: r for r in out}
    assert by_id["tx-2"].amountInUsd == pytest.approx(220.0, abs=1e-3)
    assert by_id["tx-3"].amountInUsd == pytest.approx(195.0, abs=1e-3)
    assert "tx-4" not in by_id


def test_streaming_avro_pipeline_full_reference_job(spark, tmp_path):
    """The COMPLETE reference job with only the Kafka socket replaced by a
    file stream: Confluent-framed Avro records -> streaming decode ->
    filter/project/convert -> collect. Everything the reference's
    TransactionProcessor does (reference TransactionProcessor.java:45-223)
    runs here through Structured Streaming."""
    src = str(tmp_path / "kafka_like")
    framed = [
        (bytearray(frame_header(17) + encode_record(TX_AVSC, rec)),)
        for rec in FIXTURE
    ]
    spark.createDataFrame(framed, "value binary").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    from flink_kafka_table_api_spark.sources.files import stream_parquet_dir

    raw_stream = stream_parquet_dir(
        spark, src, spark.read.parquet(src).schema
    )
    assert raw_stream.isStreaming
    decoded = decode_avro_column(raw_stream, TX_AVSC, confluent_framed=True)
    approved = approved_transactions(decoded)
    q = (
        approved.writeStream.format("memory").queryName("avro_e2e")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("avro_e2e").collect()
    assert len(rows) == 4
    assert {r.currency for r in rows} == {"USD", "EUR", "GBP"}
    conv = {r.id: r.amountInUsd for r in rows}
    assert conv["tx-2"] == pytest.approx(220.0, abs=1e-3)
    assert all(r.processingTimestamp is not None for r in rows)


def test_encode_decode_column_roundtrip(spark):
    """Sink direction: engine rows -> framed Avro bytes -> decode again."""
    rows = [
        ("a", 1.5, NOW),
        ("b", -2.25, NOW + dt.timedelta(seconds=1)),
    ]
    schema = json.dumps({
        "type": "record", "name": "S", "fields": [
            {"name": "k", "type": "string"},
            {"name": "v", "type": "double"},
            {"name": "ts",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    })
    df = spark.createDataFrame(rows, "k string, v double, ts timestamp_ntz")
    encoded = encode_avro_column(df, schema, schema_id=99)
    vals = [bytes(r.value) for r in encoded.collect()]
    assert all(v[:5] == frame_header(99) for v in vals)
    back = decode_avro_column(
        spark.createDataFrame([(bytearray(v),) for v in vals], "value binary"),
        schema, confluent_framed=True,
    ).collect()
    got = {r.k: (r.v, r.ts) for r in back}
    assert got["a"] == (1.5, NOW)
    assert got["b"] == (-2.25, NOW + dt.timedelta(seconds=1))


# ---------------------------------------------------------------------------
# writer -> reader schema resolution (Avro 1.11 "Schema Resolution")
# ---------------------------------------------------------------------------

def _rec(name, fields):
    return {"type": "record", "name": name, "fields": fields}


def test_resolution_added_field_takes_default():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    writer = _rec("R", [{"name": "a", "type": "long"}])
    reader = _rec("R", [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "c", "type": "long", "default": 7},
    ])
    payload = encode_record(json.dumps(writer), {"a": 42})
    got = decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)
    assert got == {"a": 42, "b": None, "c": 7}


def test_resolution_removed_field_is_skipped():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    writer = _rec("R", [
        {"name": "a", "type": "long"},
        {"name": "gone", "type": "string"},
        {"name": "z", "type": "double"},
    ])
    reader = _rec("R", [
        {"name": "a", "type": "long"},
        {"name": "z", "type": "double"},
    ])
    payload = encode_record(
        json.dumps(writer), {"a": 1, "gone": "bye", "z": 2.5}
    )
    got = decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)
    assert got == {"a": 1, "z": 2.5}


def test_resolution_numeric_and_string_promotions():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    writer = _rec("R", [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "s", "type": "string"},
    ])
    reader = _rec("R", [
        {"name": "i", "type": "double"},
        {"name": "l", "type": "double"},
        {"name": "s", "type": "bytes"},
    ])
    payload = encode_record(json.dumps(writer), {"i": 3, "l": 9, "s": "hi"})
    got = decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)
    assert got == {"i": 3.0, "l": 9.0, "s": b"hi"}
    assert isinstance(got["i"], float) and isinstance(got["l"], float)


def test_resolution_union_and_nested_record():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    inner_w = _rec("Inner", [{"name": "x", "type": "long"}])
    inner_r = _rec("Inner", [
        {"name": "x", "type": "long"},
        {"name": "y", "type": ["null", "long"], "default": None},
    ])
    writer = _rec("R", [
        {"name": "n", "type": ["null", inner_w]},
        {"name": "m", "type": {"type": "map", "values": "int"}},
    ])
    reader = _rec("R", [
        {"name": "n", "type": ["null", inner_r]},
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ])
    payload = encode_record(
        json.dumps(writer), {"n": {"x": 5}, "m": {"a": 1, "b": 2}}
    )
    got = decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)
    assert got == {"n": {"x": 5, "y": None}, "m": {"a": 1, "b": 2}}


def test_resolution_missing_field_without_default_raises():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    writer = _rec("R", [{"name": "a", "type": "long"}])
    reader = _rec("R", [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},  # no default -> unresolvable
    ])
    payload = encode_record(json.dumps(writer), {"a": 1})
    with pytest.raises(ValueError, match="no default"):
        decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)


def test_resolution_enum_unknown_symbol_takes_reader_default():
    """Avro >=1.9: a writer enum symbol absent from the reader's symbols
    resolves to the reader enum's declared default; without one it is an
    error (avro_codec.py enum resolution)."""
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    w_enum = {"type": "enum", "name": "E", "symbols": ["A", "B", "NEW"]}
    writer = _rec("R", [{"name": "e", "type": w_enum}, {"name": "t", "type": "long"}])
    payload = encode_record(json.dumps(writer), {"e": "NEW", "t": 5})

    r_default = {"type": "enum", "name": "E", "symbols": ["A", "B"],
                 "default": "A"}
    reader_ok = _rec("R", [{"name": "e", "type": r_default},
                           {"name": "t", "type": "long"}])
    got = decode_record_resolved(
        json.dumps(writer), json.dumps(reader_ok), payload)
    assert got == {"e": "A", "t": 5}
    # known symbols still pass through unchanged
    p2 = encode_record(json.dumps(writer), {"e": "B", "t": 6})
    assert decode_record_resolved(
        json.dumps(writer), json.dumps(reader_ok), p2) == {"e": "B", "t": 6}

    r_nodefault = {"type": "enum", "name": "E", "symbols": ["A", "B"]}
    reader_bad = _rec("R", [{"name": "e", "type": r_nodefault},
                            {"name": "t", "type": "long"}])
    with pytest.raises(ValueError, match="no default symbol"):
        decode_record_resolved(
            json.dumps(writer), json.dumps(reader_bad), payload)


def test_resolution_fixed_size_mismatch_raises():
    from flink_kafka_table_api_spark.sources.avro_codec import (
        decode_record_resolved,
    )
    writer = _rec("R", [
        {"name": "f", "type": {"type": "fixed", "name": "F8", "size": 8}},
        {"name": "tail", "type": "long"},
    ])
    reader = _rec("R", [
        {"name": "f", "type": {"type": "fixed", "name": "F8", "size": 16}},
        {"name": "tail", "type": "long"},
    ])
    payload = encode_record(json.dumps(writer), {"f": b"12345678", "tail": 7})
    with pytest.raises(ValueError, match="fixed size mismatch"):
        decode_record_resolved(json.dumps(writer), json.dumps(reader), payload)
