"""upsert-kafka framing (`sources/upsert_kafka.py`, built round 8):
Flink's upsert-kafka connector semantics for UPDATE-mode tables —
keyed messages, +I/+U carry the encoded row, -D is a NULL-value
tombstone, -U is never written, and a reader materializes latest-per-
key. Pinned: the Top-N retract log round-trips (frame -> materialize
equals apply_changelog), tombstone-then-reinsert ordering, -U rows
absent from the framed stream, and Confluent-framed key/value headers."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_kafka_table_api_spark.sources.avro_codec import encode_record
from flink_kafka_table_api_spark.sources.kafka import frame_header
from flink_kafka_table_api_spark.sources.upsert_kafka import (
    materialize_upsert_topic,
    upsert_kafka_payload,
)

KEY_SCHEMA = """
{"type": "record", "name": "TopKey", "fields": [
  {"name": "key", "type": "long"}]}
"""
VALUE_SCHEMA = """
{"type": "record", "name": "TopRow", "fields": [
  {"name": "key", "type": "long"},
  {"name": "total", "type": "double"},
  {"name": "rnk", "type": "int"}]}
"""


def _frame(log):
    return upsert_kafka_payload(
        log,
        key_cols=["key"],
        key_schema_json=KEY_SCHEMA,
        value_schema_json=VALUE_SCHEMA,
        offset_col="batch_id",
    )


def test_retract_log_roundtrip_equals_apply_changelog(spark, tmp_path):
    """The integration contract: stream_topn_retract's changelog,
    framed as an upsert-kafka topic and materialized back, equals
    applying the changelog directly — a Kafka consumer of the compacted
    topic holds exactly the maintained Top-N."""
    from flink_kafka_table_api_spark.streaming.retract import (
        apply_changelog,
    )
    from tests.test_retract_topn import FIXTURE, _rows

    from flink_kafka_table_api_spark.streaming.retract import (
        stream_topn_retract,
    )

    log = stream_topn_retract(
        spark, _rows(spark, FIXTURE), str(tmp_path / "u1"),
        n_chunks=3, n=2,
    )
    direct = sorted(
        (r.key, float(r.total), r.rnk)
        for r in apply_changelog(log).collect()
    )
    via_topic = sorted(
        (r.key, float(r.total), r.rnk)
        for r in materialize_upsert_topic(_frame(log), VALUE_SCHEMA)
        .collect()
    )
    assert via_topic == direct == [(1, 5.0, 1), (2, 4.0, 2)]


def test_tombstone_and_reinsert_ordering(spark):
    """A key deleted at offset 2 and re-inserted at offset 3 survives;
    a key whose LAST message is the tombstone is absent."""
    log = spark.createDataFrame(
        [
            ("+I", 1, 5.0, 1, 0),
            ("+I", 2, 3.0, 2, 0),
            ("-D", 1, 5.0, 1, 2),
            ("+U", 1, 7.0, 1, 3),   # re-insert after the tombstone
            ("-D", 2, 3.0, 2, 3),   # tombstone is the last word
        ],
        "op string, key long, total double, rnk int, batch_id long",
    )
    got = sorted(
        (r.key, float(r.total), r.rnk)
        for r in materialize_upsert_topic(_frame(log), VALUE_SCHEMA)
        .collect()
    )
    assert got == [(1, 7.0, 1)]


def test_retract_before_update_is_not_written(spark):
    """upsert-kafka never writes -U rows (the upsert contract makes
    them redundant): the framed stream has one message per surviving
    op, and the -U row's stale total never reaches the topic."""
    log = spark.createDataFrame(
        [
            ("+I", 1, 5.0, 1, 0),
            ("-U", 1, 5.0, 1, 1),
            ("+U", 1, 9.0, 1, 1),
        ],
        "op string, key long, total double, rnk int, batch_id long",
    )
    frames = _frame(log).collect()
    assert len(frames) == 2
    got = [(r.key, float(r.total)) for r in
           materialize_upsert_topic(_frame(log), VALUE_SCHEMA).collect()]
    assert got == [(1, 9.0)]


def test_confluent_framing_headers(spark):
    """With schema ids, both key and value carry the 5-byte Confluent
    header (magic 0x0 + big-endian id) — the reference sink's framing
    (TransactionProcessor.java:112-115) applied to the upsert shape."""
    log = spark.createDataFrame(
        [("+I", 1, 5.0, 1, 0), ("-D", 1, 5.0, 1, 1)],
        "op string, key long, total double, rnk int, batch_id long",
    )
    frames = upsert_kafka_payload(
        log, key_cols=["key"], key_schema_json=KEY_SCHEMA,
        value_schema_json=VALUE_SCHEMA, offset_col="batch_id",
        schema_id=7, key_schema_id=3,
    ).orderBy("offset").collect()
    assert frames[0].key[:5] == b"\x00\x00\x00\x00\x03"
    assert frames[0].value[:5] == b"\x00\x00\x00\x00\x07"
    assert frames[1].value is None          # tombstone has NO framing
    got = sorted(
        (r.key, float(r.total))
        for r in materialize_upsert_topic(
            upsert_kafka_payload(
                log.filter("op = '+I'"), key_cols=["key"],
                key_schema_json=KEY_SCHEMA,
                value_schema_json=VALUE_SCHEMA, offset_col="batch_id",
                schema_id=7, key_schema_id=3,
            ),
            VALUE_SCHEMA, confluent_framed=True,
        ).collect()
    )
    assert got == [(1, 5.0)]


def test_key_and_value_bytes_equal_the_reference_codec(spark):
    """The JVM encoder's key and value bytes equal the plain-Python
    reference codec's output behind the Confluent header, with the value
    struct built in the schema's field order although the log's columns
    come in another order."""
    log = spark.createDataFrame(
        [(1, 2, 5.0, "+I", 0), (2, 1, 3.5, "+U", 1), (3, 1, 2.0, "-D", 2)],
        "rnk int, key long, total double, op string, batch_id long",
    )
    frames = upsert_kafka_payload(
        log, key_cols=["key"], key_schema_json=KEY_SCHEMA,
        value_schema_json=VALUE_SCHEMA, offset_col="batch_id",
        schema_id=7, key_schema_id=3,
    ).orderBy("offset").collect()
    assert [bytes(r.key) for r in frames] == [
        frame_header(3) + encode_record(KEY_SCHEMA, {"key": k})
        for k in (2, 1, 1)
    ]
    assert [None if r.value is None else bytes(r.value) for r in frames] == [
        frame_header(7) + encode_record(
            VALUE_SCHEMA, {"key": 2, "total": 5.0, "rnk": 1}),
        frame_header(7) + encode_record(
            VALUE_SCHEMA, {"key": 1, "total": 3.5, "rnk": 2}),
        None,
    ]
