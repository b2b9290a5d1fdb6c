"""Avro Object Container File (OCF) source/sink — the `.avro` FILE format
(Avro spec 1.11, "Object Container Files"), dependency-free.

Why: the reference's ecosystem is Avro-first (Confluent-framed Avro on the
wire, .avro files at rest); Spark's native path is the spark-avro package,
absent from this container. This module implements the container format
over the same pure-Python record codec `avro_codec.py` already uses for
the wire format:

    header   = magic 'Obj\\x01' + file-metadata map + 16-byte sync marker
    metadata = avro.schema (the WRITER schema, embedded), avro.codec
    blocks   = long(record count) + long(byte size) + records + sync

Reading is distributed: Spark's `binaryFile` source gives (path, content)
rows — one task per file — and an Arrow-batched mapInPandas parses blocks
and decodes records executor-side. A file written under an OLDER schema
resolves to the requested reader schema through the spec's resolution
rules (`decode_record_resolved`) — the embedded writer schema makes OCF
self-describing, so mixed-schema directories just work.

Codecs: null and deflate (stdlib zlib) — the two the spec requires.
Writing distributes one OCF per partition via mapPartitions to a shared
filesystem path (the local/POSIX analog of what every distributed writer
does); at true 100 TB you install spark-avro and keep this as the
infra-free twin.
"""

from __future__ import annotations

import io
import json
import os
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# low-level OCF encode/decode (pure functions over bytes — unit-testable)
# ---------------------------------------------------------------------------

def _write_long_bytes(n: int) -> bytes:
    buf = io.BytesIO()
    from flink_kafka_table_api_spark.sources.avro_codec import _write_long
    _write_long(buf, n)
    return buf.getvalue()


def write_ocf_bytes(
    schema_json: str,
    records: list[dict],
    *,
    codec: str = "null",
    sync: bytes | None = None,
    block_records: int = 1000,
) -> bytes:
    """Serialize records to one complete OCF byte string."""
    from flink_kafka_table_api_spark.sources.avro_codec import encode_record

    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r}")
    parsed = json.loads(schema_json)  # parse ONCE, not per record
    sync = sync or uuid.uuid4().bytes
    assert len(sync) == 16
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": codec.encode(),
    }
    out.write(_write_long_bytes(len(meta)))
    for k, v in meta.items():
        kb = k.encode()
        out.write(_write_long_bytes(len(kb)) + kb)
        out.write(_write_long_bytes(len(v)) + v)
    out.write(_write_long_bytes(0))  # end of metadata map
    out.write(sync)
    for i in range(0, max(len(records), 1), block_records):
        block = records[i:i + block_records]
        if not block:
            break
        body = b"".join(encode_record(parsed, r) for r in block)
        if codec == "deflate":
            # spec: raw deflate, no zlib header/checksum
            body = zlib.compress(body)[2:-4]
        out.write(_write_long_bytes(len(block)))
        out.write(_write_long_bytes(len(body)))
        out.write(body)
        out.write(sync)
    return out.getvalue()


def _read_ocf_header(buf: io.BytesIO) -> tuple[str, str, bytes]:
    """Parse the OCF header -> (writer schema json, codec, sync marker);
    leaves *buf* positioned at the first data block."""
    from flink_kafka_table_api_spark.sources.avro_codec import _read_long

    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        count = _read_long(buf)
        if count == 0:
            break
        if count < 0:
            _read_long(buf)  # block byte size, unused
            count = -count
        for _ in range(count):
            klen = _read_long(buf)
            k = buf.read(klen).decode()
            vlen = _read_long(buf)
            meta[k] = buf.read(vlen)
    writer_schema = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r}")
    return writer_schema, codec, buf.read(16)


def read_ocf_schema(content: bytes) -> str:
    """The writer schema embedded in an OCF header (self-description)."""
    return _read_ocf_header(io.BytesIO(content))[0]


def read_ocf_bytes(
    content: bytes, reader_schema_json: str | None = None
) -> tuple[str, list[dict]]:
    """Parse one OCF byte string -> (embedded writer schema, records).
    With a reader schema, records are resolved writer->reader."""
    from flink_kafka_table_api_spark.sources.avro_codec import (
        _decode,
        _decode_resolved,
        _read_long,
    )

    buf = io.BytesIO(content)
    writer_schema, codec, sync = _read_ocf_header(buf)
    writer_parsed = json.loads(writer_schema)
    reader_parsed = (
        None if reader_schema_json is None else json.loads(reader_schema_json)
    )
    same = reader_parsed is None or reader_parsed == writer_parsed
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        n_records = _read_long(buf)
        n_bytes = _read_long(buf)
        body = buf.read(n_bytes)
        if codec == "deflate":
            body = zlib.decompress(body, wbits=-15)
        block = io.BytesIO(body)
        for _ in range(n_records):
            if same:
                records.append(_decode(block, writer_parsed))
            else:
                records.append(
                    _decode_resolved(block, writer_parsed, reader_parsed)
                )
        if buf.read(16) != sync:
            raise ValueError("OCF block sync marker mismatch (corrupt file)")
    return writer_schema, records


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def read_avro(
    spark: SparkSession,
    path: str,
    *,
    reader_schema_json: str | None = None,
) -> DataFrame:
    """Distributed OCF read: one task per file via the binaryFile source,
    Arrow-batched decode executor-side. Files written under older schema
    versions resolve to ``reader_schema_json`` (or, when omitted, to the
    schema embedded in one file's header, probed through the same
    binaryFile source — so hdfs://, s3a://, and glob paths work exactly
    like local ones; no driver-side os.listdir)."""
    from flink_kafka_table_api_spark.avro_schema import avro_to_struct

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )
    if reader_schema_json is None:
        # self-describing: take the reader schema from one file's header.
        # head() is limit-1 without a sort — Spark reads a single
        # partition (one file), not the whole dataset, so the probe stays
        # O(1 file) at any scale.
        first = raw.head()
        if first is None:
            raise ValueError(f"no .avro files under {path}")
        reader_schema_json = read_ocf_schema(bytes(first["content"]))
    spark_schema = avro_to_struct(reader_schema_json)
    field_names = [f.name for f in spark_schema.fields]
    reader_json = reader_schema_json

    def decode(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows: list[dict] = []
            for content in pdf["content"]:
                _, records = read_ocf_bytes(bytes(content), reader_json)
                rows.extend(records)
            yield pd.DataFrame(rows, columns=field_names)

    return raw.mapInPandas(decode, schema=spark_schema)


def write_avro(
    df: DataFrame,
    path: str,
    schema_json: str,
    *,
    codec: str = "null",
) -> int:
    """Distributed OCF write: each partition serializes its rows to one
    `part-<partitionId>.avro` file under ``path`` (shared/POSIX
    filesystem). File names are DETERMINISTIC per partition and published
    via atomic replace, so a retried or speculative task overwrites its
    own earlier attempt instead of leaving a duplicate file (the
    idempotence every distributed committer needs). Returns the number of
    files written."""
    os.makedirs(path, exist_ok=True)
    cols = df.columns
    schema = schema_json

    def write_partition(it):
        import pandas as pd  # noqa: PLC0415
        from pyspark import TaskContext  # noqa: PLC0415

        records = []
        for pdf in it:
            for row in pdf.itertuples(index=False):
                rec = {}
                for name, val in zip(cols, row):
                    if isinstance(val, pd.Timestamp):
                        val = val.to_pydatetime()
                    rec[name] = val
                records.append(rec)
        if records:
            pid = TaskContext.get().partitionId()
            fname = os.path.join(path, f"part-{pid:05d}.avro")
            # unique temp per attempt; atomic replace publishes exactly one
            # complete file per partition no matter how many attempts ran
            tmp = f"{fname}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "wb") as fh:
                fh.write(write_ocf_bytes(schema, records, codec=codec))
            os.replace(tmp, fname)
            yield pd.DataFrame({"files": [1]})
        else:
            yield pd.DataFrame({"files": [0]})

    out = df.mapInPandas(write_partition, schema="files int")
    return int(out.agg({"files": "sum"}).collect()[0][0] or 0)
