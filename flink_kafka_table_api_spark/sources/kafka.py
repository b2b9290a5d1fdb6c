"""Kafka source/sink with Confluent-framed Avro (SURVEY.md §2.1 O1, O2, O9,
O11).

Reference surface being reproduced:

- O1  streaming source scan: connector 'kafka', earliest offsets, consumer
      group (reference TransactionProcessor.java:89-116)
- O2  'avro-confluent' format: payload = magic 0x00 + 4-byte big-endian
      schema id + Avro body, schema from Registry subject '<topic>-value'
      (reference TransactionProcessor.java:112-115)
- O9  INSERT INTO kafka sink, at-least-once (reference
      TransactionProcessor.java:126-158, :192 — no transactional options set;
      Spark's Kafka sink gives the same at-least-once guarantee)
- O11 bounded read-back: the reference bounds the scan with SQL hints
      (reference TransactionFlinkTest.java:144-146); Spark's *batch* Kafka
      reader is natively bounded, exposed here as ``bounded=True``.

Kafka prefix passthrough mirrors the reference's createKafkaProperties
(reference ConfigUtils.java:46-60): options prefixed ``kafka.`` reach the
client untouched — Spark uses the exact same convention.

The Kafka connector itself (spark-sql-kafka) still needs its jar and a
broker. Avro decode and encode need no external jar: they run through one
codec, the in-repo javac-compiled JVM UDFs (java/fkta/,
sources/java_udf.py), so the wire format runs everywhere. No broker
exists in the test container, so framing and codecs are tested
standalone and broker integration is env-gated, the same trade-off the
reference makes with Testcontainers.
"""

from __future__ import annotations

import json
import struct
import urllib.request

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_kafka_table_api_spark.sources import java_udf

CONFLUENT_MAGIC = 0x00
CONFLUENT_HEADER_LEN = 5  # magic(1) + schema-id(4, big-endian)


def frame_header(schema_id: int) -> bytes:
    """Confluent wire-format header for a registered schema id."""
    return struct.pack(">bI", CONFLUENT_MAGIC, schema_id)


def strip_confluent_header(value: Column | str | None = None) -> Column:
    """Drop the 5-byte Confluent header, leaving the raw Avro body.
    expr-level: stays in codegen, no UDF. Operates on the given column
    (default: `value`, the Kafka source's payload column)."""
    c = F.col(value) if isinstance(value, str) else (
        value if value is not None else F.col("value")
    )
    return F.substring(c, CONFLUENT_HEADER_LEN + 1, 2_000_000_000)


def extract_schema_id(value: Column | str | None = None) -> Column:
    """Big-endian int32 schema id from bytes 2-5 of the framed payload
    (default column: `value`)."""
    c = F.col(value) if isinstance(value, str) else (
        value if value is not None else F.col("value")
    )
    return F.conv(F.hex(F.substring(c, 2, 4)), 16, 10).cast("int")


class SchemaRegistryClient:
    """Minimal Confluent Schema Registry REST client (register + fetch).
    Mirrors what Flink's avro-confluent format does internally; only the
    two calls the engine needs."""

    def __init__(self, url: str):
        self.url = url.rstrip("/")

    def register(self, subject: str, schema_json: str) -> int:
        body = json.dumps({"schema": schema_json}).encode()
        req = urllib.request.Request(
            f"{self.url}/subjects/{subject}/versions",
            data=body,
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())["id"]

    def get_latest(self, subject: str) -> tuple[int, str]:
        with urllib.request.urlopen(
            f"{self.url}/subjects/{subject}/versions/latest"
        ) as resp:
            payload = json.loads(resp.read())
            return payload["id"], payload["schema"]

    def get_by_id(self, schema_id: int) -> str:
        """Writer-schema lookup by the id embedded in the Confluent header;
        the decode UDF makes the same call in the JVM."""
        with urllib.request.urlopen(
            f"{self.url}/schemas/ids/{schema_id}"
        ) as resp:
            return json.loads(resp.read())["schema"]


def decode_avro_column(
    df: DataFrame,
    avro_schema_json: str,
    *,
    value_col: str = "value",
    confluent_framed: bool = True,
    schema_registry_url: str | None = None,
    expected_schema_ids: list[int] | None = None,
    writer_schemas: dict[int, str] | None = None,
) -> DataFrame:
    """Decode an Avro-encoded binary column into its record fields.

    Every decode runs in the JVM, through the in-repo
    ``fkta.ConfluentAvroDecode`` UDF (sources/java_udf.py); it raises
    RuntimeError when that UDF cannot be built. The UDF owns the
    schema-id policy of framed payloads, per task:

    - ``expected_schema_ids``: an allowlist. Any other id raises
      ``unexpected Avro schema id``. Declaring several ids asserts that all
      of them decode with the reader schema (e.g. one schema registered
      under several subjects).
    - ``writer_schemas`` ({schema_id: writer schema JSON}): each message
      decodes with the writer schema of its framed id, projected onto
      ``avro_schema_json`` (the reader schema) by Avro's resolution rules.
      This decodes a mixed-version topic without a live registry. An id
      missing from the map raises ``unknown Avro schema id``.
    - ``schema_registry_url``: writer schemas missing from the map are
      fetched by id from the registry (``GET /schemas/ids/{id}``, cached
      per executor JVM), as Flink's avro-confluent format does
      (reference TransactionProcessor.java:112-115).
    - nothing declared: the first id a task sees is pinned, and any other
      id raises ``mixed Avro schema ids`` rather than mis-decode bytes
      written under another schema. A payload that does not decode with
      the reader schema raises an error naming mixed ids or an evolved
      writer schema as the likely causes.

    Ids are compared within a task. Mixing across partitions is caught
    only by ``expected_schema_ids``, ``writer_schemas`` or a registry.
    Unframed payloads carry no id, so the id keywords do not apply.
    """
    declared = {}
    if confluent_framed:
        declared = dict(
            writer_schemas=writer_schemas,
            expected_schema_ids=expected_schema_ids,
            schema_registry_url=schema_registry_url,
        )
    decoded = java_udf.decode_column(
        df.sparkSession, F.col(value_col), avro_schema_json,
        header_len=CONFLUENT_HEADER_LEN if confluent_framed else 0,
        **declared,
    )
    return df.select(decoded.alias("v")).select("v.*")


def encode_avro_column(
    df: DataFrame,
    avro_schema_json: str,
    *,
    schema_id: int | None = None,
) -> DataFrame:
    """Inverse of decode_avro_column: rows -> single binary 'value' column,
    Confluent-framed when a schema_id is given. Runs the in-repo
    ``fkta.ConfluentAvroEncode`` UDF, whose bytes equal the reference codec
    in sources/avro_codec.py (tests/test_java_udf_avro.py)."""
    return df.select(
        java_udf.encode_column(df.sparkSession, avro_schema_json, schema_id)
        .alias("value")
    )


def read_topic(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topic: str,
    avro_schema_json: str | None = None,
    bounded: bool = False,
    starting_offsets: str = "earliest",
    confluent_framed: bool = True,
    kafka_options: dict[str, str] | None = None,
    schema_registry_url: str | None = None,
    expected_schema_ids: list[int] | None = None,
    writer_schemas: dict[int, str] | None = None,
) -> DataFrame:
    """O1/O11: read a topic as a streaming (unbounded) or batch (bounded)
    DataFrame, decoding Confluent-framed Avro values when a schema is given.
    The id keywords are decode_avro_column's schema-id policy: a
    ``schema_registry_url`` resolves each message's writer schema from its
    framed id, ``writer_schemas`` pre-resolves known ids without a live
    registry, and ``expected_schema_ids`` is a fail-loud id allowlist.
    """
    reader = (spark.read if bounded else spark.readStream).format("kafka")
    reader = (
        reader.option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if bounded:
        reader = reader.option("endingOffsets", "latest")
    for k, v in (kafka_options or {}).items():
        # reference ConfigUtils.java:46-60 prefix passthrough
        key = k if k.startswith("kafka.") else f"kafka.{k}"
        reader = reader.option(key, v)
    raw = reader.load()
    if avro_schema_json is None:
        return raw
    return decode_avro_column(
        raw, avro_schema_json, confluent_framed=confluent_framed,
        schema_registry_url=schema_registry_url,
        expected_schema_ids=expected_schema_ids,
        writer_schemas=writer_schemas,
    )


def registered_payload(
    df: DataFrame,
    avro_schema_json: str,
    *,
    topic: str,
    schema_registry_url: str | None = None,
) -> DataFrame:
    """The sink's value-building step, separated from the Kafka writer so
    it is testable without a broker: register the schema under
    '<topic>-value' (when a registry url is given) and encode every row to
    one Confluent-framed binary 'value' column — magic byte 0x0 + big-endian
    int32 schema id + Avro body, the exact framing the reference's
    avro-confluent sink emits (reference TransactionProcessor.java:112-115)."""
    schema_id = None
    if schema_registry_url is not None:
        schema_id = SchemaRegistryClient(schema_registry_url).register(
            f"{topic}-value", avro_schema_json
        )
    return encode_avro_column(df, avro_schema_json, schema_id=schema_id)


def write_topic(
    df: DataFrame,
    *,
    bootstrap_servers: str,
    topic: str,
    avro_schema_json: str,
    checkpoint_location: str,
    schema_registry_url: str | None = None,
    kafka_options: dict[str, str] | None = None,
) -> StreamingQuery:
    """O9: continuous INSERT INTO the topic, Avro-encoded; when a registry
    url is given the schema is registered under '<topic>-value' and the
    Confluent 5-byte header is prepended (wire-compatible with the
    reference's avro-confluent sink)."""
    out = registered_payload(
        df, avro_schema_json,
        topic=topic, schema_registry_url=schema_registry_url,
    )
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
    )
    for k, v in (kafka_options or {}).items():
        key = k if k.startswith("kafka.") else f"kafka.{k}"
        writer = writer.option(key, v)
    return writer.start()
