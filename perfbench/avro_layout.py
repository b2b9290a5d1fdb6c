"""Vectorised Avro binary encoding of the benchmark's generated transactions,
and a decoder for the pipeline's sink records.

Both are independent of the program under test: the generator must not use
the codec it loads, and the output check must not trust the codec it checks.

The encoder builds each field as a (rows, width) byte matrix plus per-row
lengths and concatenates the fields with numpy scatter writes, which encodes
millions of records per second. The sink decoder relies on a property of the
generated inputs: every string the pipeline projects to its output has one
fixed length, so every sink record has one fixed layout. The decoder checks
that layout (record length, every length prefix, every varint continuation
bit) before it slices fields out; a record outside it fails the check.
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pyarrow as pa

# The reference's Transaction.avsc / ApprovedTransaction.avsc, re-declared
# here so the benchmark owns its wire format.
TRANSACTION_AVSC = json.dumps({
    "type": "record", "name": "Transaction", "namespace": "perfbench",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "currency", "type": "string"},
        {"name": "timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "description", "type": ["null", "string"], "default": None},
        {"name": "merchant", "type": "string"},
        {"name": "category", "type": ["null", "string"], "default": None},
        {"name": "status", "type": "string"},
        {"name": "userId", "type": "string"},
        {"name": "metadata",
         "type": ["null", {"type": "map", "values": "string"}],
         "default": None},
    ],
})
APPROVED_AVSC = json.dumps({
    "type": "record", "name": "ApprovedTransaction", "namespace": "perfbench",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "currency", "type": "string"},
        {"name": "timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "merchant", "type": "string"},
        {"name": "userId", "type": "string"},
        {"name": "amountInUsd", "type": "double"},
        {"name": "processingTimestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
})
TRANSACTION_SCHEMA_ID = 1
APPROVED_SCHEMA_ID = 2

CURRENCIES = ("USD", "EUR", "GBP")
STATUSES = ("PENDING", "APPROVED", "COMPLETED", "CANCELLED")
CANCELLED = STATUSES.index("CANCELLED")
CATEGORIES = ("groceries", "travel", "electronics", "fuel", "dining")
ID_DIGITS = 10       # "t" + 10 digits
MERCHANT_DIGITS = 5  # "m" + 5 digits
USER_DIGITS = 7      # "u" + 7 digits


# ---------------------------------------------------------------- encoding

def _digits(prefix: bytes, values: np.ndarray, width: int) -> np.ndarray:
    """Avro string 'prefix + zero-padded decimal' as a (n, 1+len) matrix."""
    n = len(values)
    text_len = len(prefix) + width
    out = np.empty((n, 1 + text_len), np.uint8)
    out[:, 0] = 2 * text_len  # zigzag varint of a length < 64
    out[:, 1:1 + len(prefix)] = np.frombuffer(prefix, np.uint8)
    powers = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    out[:, 1 + len(prefix):] = (values.astype(np.int64)[:, None] // powers) % 10 + 48
    return out


def _vocab(words: tuple[str, ...], codes: np.ndarray, *, union: bool = False):
    """Avro strings drawn from a vocabulary: (matrix, lengths). With
    ``union`` the field is ["null", "string"] and code -1 is null."""
    enc = []
    for w in words:
        b = w.encode()
        assert len(b) < 64
        enc.append((b"\x02" if union else b"") + bytes([2 * len(b)]) + b)
    width = max(len(e) for e in enc)
    table = np.zeros((len(enc) + 1, width), np.uint8)
    lens = np.zeros(len(enc) + 1, np.int64)
    for i, e in enumerate(enc):
        table[i, :len(e)] = np.frombuffer(e, np.uint8)
        lens[i] = len(e)
    lens[-1] = 1  # the null branch: union index 0, one byte 0x00
    idx = np.where(codes < 0, len(enc), codes)
    return table[idx], lens[idx]


def _long(values: np.ndarray):
    """Zigzag varint of int64 values: (matrix, lengths)."""
    v = values.astype(np.int64)
    z = ((v << 1) ^ (v >> 63)).astype(np.uint64)
    shifts = np.arange(10, dtype=np.uint64) * np.uint64(7)
    groups = ((z[:, None] >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    lens = np.ones(len(v), np.int64)
    for k in range(1, 10):
        lens += z >= np.uint64(1) << np.uint64(7 * k)
    more = np.arange(10)[None, :] < (lens[:, None] - 1)
    return groups | (more.astype(np.uint8) << 7), lens


def _double(values: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(values, dtype="<f8").view(np.uint8).reshape(-1, 8)


def _concat(parts: list) -> pa.BinaryArray:
    """Concatenate per-row field encodings into one Arrow binary array.
    Each part is a fixed-width matrix or a (matrix, lengths) pair."""
    parts = [(p, np.full(len(p), p.shape[1], np.int64)) if isinstance(p, np.ndarray)
             else p for p in parts]
    n = len(parts[0][0])
    row_len = sum(lens for _, lens in parts)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(row_len, out=offsets[1:])
    buf = np.empty(int(offsets[-1]), np.uint8)
    pos = offsets[:-1].copy()
    for mat, lens in parts:
        cols = np.arange(mat.shape[1])
        mask = cols[None, :] < lens[:, None]
        buf[(pos[:, None] + cols[None, :])[mask]] = mat[mask]
        pos += lens
    assert offsets[-1] < 2**31
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)],
    )


def confluent_header(schema_id: int, n: int) -> np.ndarray:
    return np.tile(np.frombuffer(struct.pack(">bI", 0, schema_id), np.uint8), (n, 1))


def encode_transactions(ev: dict) -> pa.BinaryArray:
    """Confluent-framed Transaction records for the generated event columns
    (see gen.make_events for the keys)."""
    n = len(ev["id"])
    null = np.zeros((n, 1), np.uint8)
    return _concat([
        confluent_header(TRANSACTION_SCHEMA_ID, n),
        _digits(b"t", ev["id"], ID_DIGITS),
        _double(ev["amount"]),
        _vocab(CURRENCIES, ev["currency"]),
        _long(ev["ts_ms"]),
        null,                                   # description: null
        _digits(b"m", ev["merchant"], MERCHANT_DIGITS),
        _vocab(CATEGORIES, ev["category"], union=True),
        _vocab(STATUSES, ev["status"]),
        _digits(b"u", ev["user"], USER_DIGITS),
        null,                                   # metadata: null
    ])


# ---------------------------------------------------------------- decoding

class LayoutError(ValueError):
    """A sink record does not have the layout the generated inputs imply."""


def decode_approved(values: list | pa.Array) -> dict:
    """Decode Confluent-framed ApprovedTransaction records into numpy
    columns: id, merchant, user (ints), amount, amount_usd (float64),
    currency (index into CURRENCIES), ts_ms, proc_ts_ms (int64)."""
    arr = pa.array(values, pa.binary()) if not isinstance(values, pa.Array) else values
    arr = arr.cast(pa.binary())
    n = len(arr)
    if n == 0:
        return {k: np.zeros(0) for k in
                ("id", "merchant", "user", "amount", "amount_usd",
                 "currency", "ts_ms", "proc_ts_ms")}
    if arr.null_count:
        raise LayoutError("null sink payload")
    offsets = np.frombuffer(arr.buffers()[1], np.int32, n + 1, arr.offset * 4)
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    lengths = np.diff(offsets)
    width = int(lengths[0])
    if not (lengths == width).all():
        raise LayoutError("sink records differ in length")
    rows = data[offsets[0]:offsets[0] + n * width].reshape(n, width)

    pos = 0
    header = np.frombuffer(struct.pack(">bI", 0, APPROVED_SCHEMA_ID), np.uint8)
    if not (rows[:, :5] == header).all():
        raise LayoutError("bad Confluent header or schema id")
    pos = 5
    out = {}

    def text(prefix: bytes, digits: int) -> np.ndarray:
        nonlocal pos
        tl = len(prefix) + digits
        if not (rows[:, pos] == 2 * tl).all():
            raise LayoutError("unexpected string length")
        lo, hi = pos + 1, pos + 1 + tl
        if not (rows[:, lo:lo + len(prefix)] == np.frombuffer(prefix, np.uint8)).all():
            raise LayoutError("unexpected string prefix")
        d = rows[:, lo + len(prefix):hi].astype(np.int64) - 48
        if ((d < 0) | (d > 9)).any():
            raise LayoutError("non-digit in numbered string")
        pos = hi
        return d @ (10 ** np.arange(digits - 1, -1, -1, dtype=np.int64))

    def double() -> np.ndarray:
        nonlocal pos
        v = np.ascontiguousarray(rows[:, pos:pos + 8]).view("<f8").ravel()
        pos += 8
        return v

    def long_() -> np.ndarray:
        nonlocal pos
        cont = rows[:, pos:pos + 10] >= 0x80
        # all records share one varint width (checked): find it on row 0
        width_ = int(np.argmin(cont[0])) + 1
        if not ((cont[:, :width_ - 1]).all() and not cont[:, width_ - 1].any()):
            raise LayoutError("varint widths differ")
        g = (rows[:, pos:pos + width_] & 0x7F).astype(np.uint64)
        z = np.zeros(n, np.uint64)
        for k in range(width_):
            z |= g[:, k] << np.uint64(7 * k)
        pos += width_
        return (z >> np.uint64(1)).astype(np.int64) ^ -(z & np.uint64(1)).astype(np.int64)

    out["id"] = text(b"t", ID_DIGITS)
    out["amount"] = double()
    cur = np.full(n, -1, np.int64)
    if not (rows[:, pos] == 6).all():
        raise LayoutError("unexpected currency length")
    for i, c in enumerate(CURRENCIES):
        cur[(rows[:, pos + 1:pos + 4] == np.frombuffer(c.encode(), np.uint8)).all(axis=1)] = i
    if (cur < 0).any():
        raise LayoutError("unknown currency")
    out["currency"] = cur
    pos += 4
    out["ts_ms"] = long_()
    out["merchant"] = text(b"m", MERCHANT_DIGITS)
    out["user"] = text(b"u", USER_DIGITS)
    out["amount_usd"] = double()
    out["proc_ts_ms"] = long_()
    if pos != width:
        raise LayoutError("trailing bytes in sink record")
    return out


def usd(amount: np.ndarray, currency: np.ndarray) -> np.ndarray:
    """Reference USD conversion: IEEE double multiplies, as the pipeline."""
    return np.where(currency == 1, amount * 1.1,
                    np.where(currency == 2, amount * 1.3, amount))
