"""Minimal pure-Python Avro binary codec (encode + decode): the
reference codec of the object-container file source and of the tests.

The reference's wire format is Confluent-framed Avro (SURVEY.md §2.1
O2). The Kafka path (`sources/kafka.py`) decodes and encodes it in the
JVM, through the in-repo codec UDF (`sources/java_udf.py`). This module
is the plain-Python codec beside it: the OCF reader/writer in
`sources/avro_file.py` uses it, and tests check the JVM codec's rows and
bytes against it. It implements the subset of the Avro 1.11 binary
encoding the engine's schemas use — primitives, nullable unions, maps,
arrays, records, and timestamp logical types:

- int/long: zigzag -> unsigned LEB128 varint
- float/double: 4/8 bytes little-endian IEEE
- string/bytes: long(length) + payload
- union: long(branch index) + value
- array/map: blocks of long(count) + items, 0-count terminator
  (negative count = block-size follows; we emit the simple positive form
  and accept both on read)
- record: fields in declared order
- timestamp-millis/micros: long
- date: int (days since epoch) <-> datetime.date
- decimal (bytes/fixed): two's-complement big-endian unscaled int, minimal
  length (the same bytes java.math.BigInteger.toByteArray() emits, so the
  JVM UDF path in java/fkta/ and this codec are bit-identical)
"""

from __future__ import annotations

import datetime as dt
import decimal
import io
import json
import struct
from typing import Any

_EPOCH_DATE = dt.date(1970, 1, 1)


def _decimal_to_bytes(value: Any, scale: int) -> bytes:
    """Unscaled int -> minimal two's-complement big-endian bytes (matches
    java.math.BigInteger.toByteArray so both decode paths see one wire)."""
    if isinstance(value, decimal.Decimal):
        unscaled = int(value.scaleb(scale).to_integral_value())
    else:
        unscaled = int(value)
    length = (unscaled.bit_length() // 8) + 1  # sign bit always fits
    return unscaled.to_bytes(length, "big", signed=True)


def _bytes_to_decimal(raw: bytes, scale: int) -> decimal.Decimal:
    return decimal.Decimal(
        int.from_bytes(raw, "big", signed=True)
    ).scaleb(-scale)


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return _zigzag_decode(acc)
        shift += 7


# ---------------------------------------------------------------------------
# schema-driven encode/decode
# ---------------------------------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)


def _ts_to_units(v: Any, per_second: int) -> int:
    if isinstance(v, dt.datetime):
        # exact integer arithmetic: float total_seconds() loses microsecond
        # precision past ~2100 (2^52 mantissa vs 4e15 micros)
        delta = v.replace(tzinfo=None) - _EPOCH
        total_micros = (
            (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        )
        if per_second == 1_000_000:
            return total_micros
        return total_micros // (1_000_000 // per_second)
    return int(v)


def _encode(buf: io.BytesIO, schema: Any, value: Any) -> None:
    if isinstance(schema, list):  # union
        for i, branch in enumerate(schema):
            if _matches(branch, value):
                _write_long(buf, i)
                _encode(buf, branch, value)
                return
        raise ValueError(f"value {value!r} matches no union branch {schema!r}")

    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        t = schema["type"]
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            _write_long(buf, _ts_to_units(value, 1000))
            return
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            _write_long(buf, _ts_to_units(value, 1_000_000))
            return
        if lt == "date" and t == "int":
            days = (
                (value - _EPOCH_DATE).days
                if isinstance(value, dt.date) else int(value)
            )
            _write_long(buf, days)
            return
        if lt == "decimal" and t in ("bytes", "fixed"):
            raw = _decimal_to_bytes(value, int(schema.get("scale", 0)))
            if t == "fixed":
                size = int(schema["size"])
                pad = b"\xff" if raw[0] & 0x80 else b"\x00"
                buf.write(pad * (size - len(raw)) + raw)
            else:
                _write_long(buf, len(raw))
                buf.write(raw)
            return
        if t == "record":
            for f in schema["fields"]:
                _encode(buf, f["type"], value[f["name"]])
            return
        if t == "map":
            if value:
                _write_long(buf, len(value))
                for k, v in value.items():
                    _encode(buf, "string", k)
                    _encode(buf, schema["values"], v)
            _write_long(buf, 0)
            return
        if t == "array":
            if value:
                _write_long(buf, len(value))
                for item in value:
                    _encode(buf, schema["items"], item)
            _write_long(buf, 0)
            return
        if t == "enum":
            _write_long(buf, schema["symbols"].index(value))
            return
        if t == "fixed":
            buf.write(bytes(value))
            return
        _encode(buf, t, value)  # wrapped primitive
        return

    if schema == "null":
        return
    if schema == "boolean":
        buf.write(b"\x01" if value else b"\x00")
        return
    if schema in ("int", "long"):
        _write_long(buf, int(value))
        return
    if schema == "float":
        buf.write(struct.pack("<f", float(value)))
        return
    if schema == "double":
        buf.write(struct.pack("<d", float(value)))
        return
    if schema == "string":
        raw = value.encode("utf-8")
        _write_long(buf, len(raw))
        buf.write(raw)
        return
    if schema == "bytes":
        raw = bytes(value)
        _write_long(buf, len(raw))
        buf.write(raw)
        return
    raise ValueError(f"unsupported schema {schema!r}")


def _matches(schema: Any, value: Any) -> bool:
    if schema == "null":
        return value is None
    if value is None:
        return False
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "map":
            return isinstance(value, dict)
        if t == "array":
            return isinstance(value, (list, tuple))
        return True
    if schema == "string":
        return isinstance(value, str)
    if schema in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if schema in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if schema == "boolean":
        return isinstance(value, bool)
    if schema == "bytes":
        return isinstance(value, (bytes, bytearray))
    return True


def _decode(buf: io.BytesIO, schema: Any) -> Any:
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        return _decode(buf, schema[idx])

    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        t = schema["type"]
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            return _EPOCH + dt.timedelta(milliseconds=_read_long(buf))
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return _EPOCH + dt.timedelta(microseconds=_read_long(buf))
        if lt == "date" and t == "int":
            return _EPOCH_DATE + dt.timedelta(days=_read_long(buf))
        if lt == "decimal" and t in ("bytes", "fixed"):
            raw = (
                buf.read(int(schema["size"]))
                if t == "fixed" else buf.read(_read_long(buf))
            )
            return _bytes_to_decimal(raw, int(schema.get("scale", 0)))
        if t == "record":
            return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
        if t == "map":
            out: dict[str, Any] = {}
            while True:
                count = _read_long(buf)
                if count == 0:
                    return out
                if count < 0:
                    _read_long(buf)  # block byte-size, unused
                    count = -count
                for _ in range(count):
                    k = _decode(buf, "string")
                    out[k] = _decode(buf, schema["values"])
        if t == "array":
            items: list[Any] = []
            while True:
                count = _read_long(buf)
                if count == 0:
                    return items
                if count < 0:
                    _read_long(buf)
                    count = -count
                for _ in range(count):
                    items.append(_decode(buf, schema["items"]))
        if t == "enum":
            return schema["symbols"][_read_long(buf)]
        if t == "fixed":
            return buf.read(schema["size"])
        return _decode(buf, t)

    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "string":
        n = _read_long(buf)
        return buf.read(n).decode("utf-8")
    if schema == "bytes":
        n = _read_long(buf)
        return buf.read(n)
    raise ValueError(f"unsupported schema {schema!r}")


# ---------------------------------------------------------------------------
# writer -> reader schema resolution (Avro 1.11 spec, "Schema Resolution")
# ---------------------------------------------------------------------------
#
# This is what makes registry-based schema EVOLUTION work: a topic normally
# carries messages written under several registered schema versions, and a
# consumer must decode each payload with the WRITER's schema (resolved from
# the embedded 5-byte-header id), then project it onto its own READER
# schema — dropping removed fields, filling added fields from defaults,
# applying the spec's numeric/string promotions. The reference gets this
# behavior from flink-avro-confluent-registry
# (TransactionProcessor.java:112-115 declares only the reader schema; the
# per-message writer lookup happens inside the format); here it is explicit.

_PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}


def _plain_type(schema: Any) -> Any:
    """The schema's type name for compatibility checks (unwraps dicts)."""
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def _promote(value: Any, writer_t: str, reader_t: str) -> Any:
    if writer_t in ("int", "long") and reader_t in ("float", "double"):
        return float(value)
    if writer_t == "float" and reader_t == "double":
        return value
    if writer_t == "string" and reader_t == "bytes":
        return value.encode("utf-8")
    if writer_t == "bytes" and reader_t == "string":
        return value.decode("utf-8")
    return value


def _default_value(schema: Any, default: Any) -> Any:
    """Convert an Avro JSON default to the runtime value the decoder would
    produce. Per spec, a union's default is typed by its FIRST branch."""
    if isinstance(schema, list):
        return _default_value(schema[0], default)
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            return _EPOCH + dt.timedelta(milliseconds=int(default))
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return _EPOCH + dt.timedelta(microseconds=int(default))
        if lt == "date" and schema["type"] == "int":
            return _EPOCH_DATE + dt.timedelta(days=int(default))
        if lt == "decimal" and schema["type"] in ("bytes", "fixed"):
            # spec: bytes defaults are JSON strings of latin-1 code points
            return _bytes_to_decimal(
                default.encode("latin-1"), int(schema.get("scale", 0))
            )
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _default_value(f["type"], default.get(f["name"]))
                for f in schema["fields"]
            }
        if t == "array":
            return [_default_value(schema["items"], d) for d in default]
        if t == "map":
            return {
                k: _default_value(schema["values"], v)
                for k, v in default.items()
            }
        if t in ("enum", "fixed"):
            return default
        schema = t
    if schema == "bytes" and isinstance(default, str):
        # spec: bytes defaults are JSON strings of latin-1 code points
        return default.encode("latin-1")
    if schema in ("float", "double") and default is not None:
        return float(default)
    return default


def _compatible(writer: Any, reader: Any) -> bool:
    """Can a value written as `writer` be read as `reader`? (shallow check;
    nested mismatches surface during the recursive decode)."""
    if isinstance(writer, list) or isinstance(reader, list):
        return True  # branch choice happens at decode time
    wt, rt = _plain_type(writer), _plain_type(reader)
    if wt == rt:
        return True
    return isinstance(wt, str) and rt in _PROMOTIONS.get(wt, ())


def _decode_resolved(buf: io.BytesIO, writer: Any, reader: Any) -> Any:
    # writer union: the wire carries the branch index against the WRITER's
    # union; resolve the chosen branch against the reader schema
    if isinstance(writer, list):
        idx = _read_long(buf)
        return _decode_resolved(buf, writer[idx], reader)
    # reader union, writer not: spec says read as the first reader branch
    # that matches the writer schema
    if isinstance(reader, list):
        for branch in reader:
            if _compatible(writer, branch):
                return _decode_resolved(buf, writer, branch)
        raise ValueError(
            f"writer schema {writer!r} matches no reader union branch {reader!r}"
        )

    wt, rt = _plain_type(writer), _plain_type(reader)
    if wt == "record" and rt == "record":
        reader_fields = {f["name"]: f for f in reader["fields"]}
        out: dict[str, Any] = {}
        for wf in writer["fields"]:
            name = wf["name"]
            if name in reader_fields:
                out[name] = _decode_resolved(
                    buf, wf["type"], reader_fields[name]["type"]
                )
            else:
                _decode(buf, wf["type"])  # skip a field the reader dropped
        for rf in reader["fields"]:
            if rf["name"] not in out:
                if "default" not in rf:
                    raise ValueError(
                        f"reader field {rf['name']!r} absent from writer "
                        "schema and has no default"
                    )
                out[rf["name"]] = _default_value(rf["type"], rf["default"])
        return out
    if wt == "array" and rt == "array":
        items: list[Any] = []
        while True:
            count = _read_long(buf)
            if count == 0:
                return items
            if count < 0:
                _read_long(buf)
                count = -count
            for _ in range(count):
                items.append(
                    _decode_resolved(buf, writer["items"], reader["items"])
                )
    if wt == "map" and rt == "map":
        out = {}
        while True:
            count = _read_long(buf)
            if count == 0:
                return out
            if count < 0:
                _read_long(buf)
                count = -count
            for _ in range(count):
                k = _decode(buf, "string")
                out[k] = _decode_resolved(
                    buf, writer["values"], reader["values"]
                )
    if wt == "enum" and rt == "enum":
        symbol = writer["symbols"][_read_long(buf)]
        if symbol not in reader["symbols"]:
            # Avro >=1.9 resolution: an unknown writer symbol maps to the
            # reader enum's declared default, if any; only a defaultless
            # reader makes it an error
            default = reader.get("default")
            if default is not None:
                return default
            raise ValueError(
                f"enum symbol {symbol!r} unknown to reader and the reader "
                "enum declares no default symbol"
            )
        return symbol
    if wt == rt:
        if wt == "fixed" and writer["size"] != reader["size"]:
            # spec: fixed resolves only when sizes match — reading the
            # reader's size would shift every later field silently
            raise ValueError(
                f"fixed size mismatch: writer {writer['size']} vs "
                f"reader {reader['size']}"
            )
        # identical wire shape — decode per the READER's annotation, so a
        # reader that adds/removes a logicalType gets its own view (the
        # varint on the wire is the same either way)
        return _decode(buf, reader)
    if isinstance(wt, str) and rt in _PROMOTIONS.get(wt, ()):
        return _promote(_decode(buf, writer), wt, rt)
    raise ValueError(f"cannot resolve writer {writer!r} to reader {reader!r}")


def decode_record_resolved(
    writer_schema: str | dict[str, Any],
    reader_schema: str | dict[str, Any],
    payload: bytes,
) -> dict[str, Any]:
    """Decode one Avro-binary record written under `writer_schema`,
    projected onto `reader_schema` per the spec's resolution rules."""
    if isinstance(writer_schema, str):
        writer_schema = json.loads(writer_schema)
    if isinstance(reader_schema, str):
        reader_schema = json.loads(reader_schema)
    return _decode_resolved(io.BytesIO(payload), writer_schema, reader_schema)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def encode_record(schema: str | dict[str, Any], record: dict[str, Any]) -> bytes:
    """Encode one record dict to Avro binary (no framing)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    buf = io.BytesIO()
    _encode(buf, schema, record)
    return buf.getvalue()


def decode_record(schema: str | dict[str, Any], payload: bytes) -> dict[str, Any]:
    """Decode one Avro-binary record (no framing) to a dict."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    return _decode(io.BytesIO(payload), schema)
