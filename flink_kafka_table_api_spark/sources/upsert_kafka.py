"""upsert-kafka framing: a RowKind changelog as a compacted Kafka
topic (sandbox-local like every Kafka surface here — no
broker socket, the framing and materialization are the testable parts,
exactly the registered_payload precedent in sources/kafka.py).

Flink's upsert-kafka connector (public connector docs) is how an
UPDATE-mode table (e.g. the Rank changelog streaming/retract.py emits)
lands in Kafka: messages are keyed by the PRIMARY KEY, +I/+U rows write
the encoded row as the message value, DELETE writes a NULL value (the
log-compaction tombstone), and -U (retract-before-update) rows are NOT
written at all — the upsert contract makes them redundant, because a
reader materializes the table as "latest message per key, tombstones
remove". This module implements both directions:

  upsert_kafka_payload      changelog -> (key bytes, value bytes|NULL,
                            offset) — Avro-encoded, Confluent-framed
                            when a schema id is given, ready for the
                            kafka writer's key/value columns;
  materialize_upsert_topic  frames -> the current table: latest offset
                            per key bytes (one max_by hash aggregate —
                            the same fold Kafka log compaction itself
                            performs), tombstones dropped, values
                            decoded by decode_avro_column.

Keys and values are encoded by the engine's one Avro codec, the in-repo
JVM UDF (sources/java_udf.py).

Round-trip contract, pinned by tests/test_upsert_kafka.py: framing the
Top-N retract log and materializing the topic equals applying the
changelog directly (streaming/retract.py:apply_changelog) — i.e. a
Kafka reader of the compacted topic sees exactly the maintained Top-N.

At 100 TB: encoding is one projection; materialization is one keyed
hash aggregate over the topic — the read cost any compacted-topic
consumer pays. Nothing driver-side.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.sources import java_udf
from flink_kafka_table_api_spark.sources.kafka import decode_avro_column


def upsert_kafka_payload(
    log: DataFrame,
    *,
    key_cols: list[str],
    key_schema_json: str,
    value_schema_json: str,
    offset_col: str,
    op_col: str = "op",
    schema_id: int | None = None,
    key_schema_id: int | None = None,
) -> DataFrame:
    """Frame a RowKind changelog for an upsert-kafka topic: drop -U
    rows, encode `key_cols` as the message key, encode the value-schema
    fields as the message value — NULL for -D tombstones — and carry
    `offset_col` through (the per-key total order; a real broker
    assigns it, the bounded twin derives it from batch_id). Returns
    (key binary, value binary, offset long). The key schema's fields must
    be among `key_cols`."""
    key_fields = [f["name"] for f in json.loads(key_schema_json)["fields"]]
    if not set(key_fields) <= set(key_cols):
        raise ValueError(
            f"key schema fields {key_fields} are not all in key_cols "
            f"{key_cols}"
        )
    spark = log.sparkSession
    value = java_udf.encode_column(spark, value_schema_json, schema_id)
    return log.filter(F.col(op_col) != "-U").select(
        java_udf.encode_column(spark, key_schema_json, key_schema_id)
        .alias("key"),
        F.when(F.col(op_col) == "-D", F.lit(None).cast("binary"))
        .otherwise(value).alias("value"),
        F.col(offset_col).cast("long").alias("offset"),
    )


def materialize_upsert_topic(
    frames: DataFrame,
    value_schema_json: str,
    *,
    confluent_framed: bool = False,
) -> DataFrame:
    """Read a (bounded) upsert-kafka topic back into the table it
    encodes: latest message per key bytes (ONE max_by hash aggregate —
    the fold Kafka log compaction performs), tombstones removed, values
    decoded. The result has the value schema's columns."""
    latest = (
        frames.groupBy("key")
        .agg(F.max_by(F.struct("value"), F.col("offset")).alias("w"))
        .select(F.col("w.value").alias("value"))
        .filter(F.col("value").isNotNull())
    )
    return decode_avro_column(
        latest, value_schema_json, confluent_framed=confluent_framed
    )


__all__ = ["upsert_kafka_payload", "materialize_upsert_topic"]
