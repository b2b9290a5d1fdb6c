"""Multimodal column handling: opaque binary payloads + typed metadata.

Pattern (EXT scope, BASELINE.json): image/audio/video payloads travel as
``binary`` columns next to a typed metadata struct; decode / feature-extract
/ resize / frame-sample run as Arrow-batched Pandas iterators via
``mapInPandas`` so each executor processes whole record batches without
per-row Python overhead.

Codec status — real where the stdlib suffices, stubbed where it doesn't:

- REAL (no external libs): BMP/PNG/GIF dimension decode (fixed-offset
  header fields, parsed with ``struct``) in ``decode_image_meta``; WAV PCM
  decode (stdlib ``wave``, 8/16-bit) in ``audio_features``.
- STUBBED: jpeg/riff pixel decode (needs PIL/libvips), compressed audio
  (needs soundfile/librosa), video containers (needs pyav/ffmpeg). These
  raise NotImplementedError unless ``fake=True``, in which case a
  deterministic fake decoder exercises the real Spark plumbing — schema
  contract, Arrow batch shape, partition-parallel execution.

Scale notes: binary payloads dominate row size, so (a) keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` small enough that one batch
of payloads fits executor memory, (b) never groupBy/shuffle the binary
column itself — shuffle ids, join payloads back late, (c) store payloads in
parquet with a small row-group size or in external object storage with the
table holding URIs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Typed metadata contract for an image-bearing table.
IMAGE_META_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("byte_len", LongType(), False),
    StructField("content_md5", StringType(), False),
    StructField("format", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
])

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"RIFF": "riff",
    b"BM": "bmp",
}


def sniff_format(payload: bytes) -> str | None:
    for magic, fmt in _MAGIC.items():
        if payload[: len(magic)] == magic:
            return fmt
    return None


# SOF0-SOF15 carry frame dimensions; C4/C8/CC are DHT/JPG/DAC, not frames
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def _jpeg_dims(payload: bytes) -> tuple[int, int]:
    """JPEG dimensions via marker scan: only PIXEL data is entropy-coded —
    the frame header (SOFn segment) is a plain [len:2][precision:1]
    [height:2][width:2] struct, so width/height need no codec library.
    Walks marker segments (each FF xx + big-endian length) to the first
    SOF."""
    import struct

    i = 2  # past FFD8
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            break
        marker = payload[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2  # standalone marker, no length field
            continue
        seg_len = struct.unpack_from(">H", payload, i + 2)[0]
        if marker in _JPEG_SOF:
            if i + 9 <= n:
                h, w = struct.unpack_from(">HH", payload, i + 5)
                return int(w), int(h)
            break
        if marker == 0xDA:  # SOS: entropy-coded data follows, no SOF seen
            break
        i += 2 + seg_len
    raise NotImplementedError("malformed JPEG: no SOF marker before SOS")


def parse_image_dims(payload: bytes) -> tuple[str | None, int, int]:
    """REAL image metadata decode, stdlib only: BMP/PNG/GIF keep their
    dimensions in fixed-offset header fields and JPEG keeps them in the
    (uncompressed) SOF marker segment, so width/height extraction is a
    ``struct`` parse — no imaging library involved. Returns
    (format, width, height); raises NotImplementedError for formats whose
    metadata genuinely needs codec machinery (riff sub-chunk trees)."""
    import struct

    fmt = sniff_format(payload)
    if fmt == "bmp" and len(payload) >= 26:
        w, h = struct.unpack_from("<ii", payload, 18)
        return fmt, int(w), abs(int(h))  # negative height = top-down DIB
    if fmt == "png" and len(payload) >= 24:
        # 8-byte signature + IHDR length/tag, then big-endian w, h
        w, h = struct.unpack_from(">II", payload, 16)
        return fmt, int(w), int(h)
    if fmt == "gif" and len(payload) >= 10:
        w, h = struct.unpack_from("<HH", payload, 6)  # logical screen size
        return fmt, int(w), int(h)
    if fmt == "jpeg":
        w, h = _jpeg_dims(payload)
        return fmt, w, h
    raise NotImplementedError(
        f"dimension decode for format={fmt!r} requires PIL/libvips; "
        "stdlib path covers bmp/png/gif/jpeg (or run with fake=True)"
    )


def _fake_decode_len(n: int) -> tuple[int, int]:
    """Deterministic stand-in for a real image decoder: derives a (w, h)
    from the payload length alone (pure arithmetic, so the DuckDB oracle can
    reproduce it). Replace with PIL/libvips in a real deployment."""
    return 1 + (n % 512), 1 + (n * 31 % 512)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    return _fake_decode_len(len(payload))


def decode_image_meta(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Decode binary payloads into the IMAGE_META_SCHEMA via mapInPandas.

    ``fake=False`` (the default) is a REAL decode for bmp/png/gif — header
    dimension fields parsed with stdlib ``struct`` (parse_image_dims);
    formats needing an actual imaging library (jpeg, riff) raise
    NotImplementedError there. ``fake=True`` swaps in the deterministic
    length-derived decoder (oracle-reproducible) for plumbing tests and
    mixed-format corpora without the libs.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf[payload_col]
            if fake:
                fmts = [sniff_format(bytes(p)) for p in payloads]
                dims = [_fake_decode(bytes(p)) for p in payloads]
            else:
                parsed = [parse_image_dims(bytes(p)) for p in payloads]
                fmts = [t[0] for t in parsed]
                dims = [(t[1], t[2]) for t in parsed]
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "byte_len": payloads.map(len).astype("int64"),
                "content_md5": payloads.map(
                    lambda p: hashlib.md5(bytes(p)).hexdigest()
                ),
                "format": fmts,
                "width": pd.array([d[0] for d in dims], dtype="Int32"),
                "height": pd.array([d[1] for d in dims], dtype="Int32"),
            })

    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        decode_batches, schema=IMAGE_META_SCHEMA
    )


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame_offset", LongType(), False),
    StructField("frame_md5", StringType(), False),
])


def frame_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_frames: int = 4,
    frame_len: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Evenly sample ``n_frames`` frames from each payload — the video
    frame-sampling pattern (decode container -> seek to evenly spaced
    timestamps -> emit per-frame features) as Arrow-batched mapInPandas.

    The container decode is STUBBED: with ``fake=True`` the payload is
    "decoded" as utf-8 text and frames are ``frame_len``-character slices at
    evenly spaced offsets (pure arithmetic the DuckDB oracle reproduces);
    without it, NotImplementedError — pyav/ffmpeg are not in this
    container. One output row per (payload, frame), id-keyed so downstream
    per-frame ops (embedding, dedup) join back without touching payloads.
    """

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real video decode requires pyav/ffmpeg; run with fake=True"
                )
            ids, idxs, offs, md5s = [], [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                s = bytes(p).decode("utf-8")
                step = max(len(s) // n_frames, 1)
                for fi in range(n_frames):
                    off = fi * step
                    if off >= len(s):
                        break
                    frame = s[off:off + frame_len]
                    ids.append(i)
                    idxs.append(fi)
                    offs.append(off)
                    md5s.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.array(ids, dtype="int64"),
                "frame_idx": pd.array(idxs, dtype="int32"),
                "frame_offset": pd.array(offs, dtype="int64"),
                "frame_md5": md5s,
            })

    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        sample_batches, schema=FRAME_SCHEMA
    )


def decode_image_meta_arrow(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """mapInArrow twin of :func:`decode_image_meta`: consumes/produces
    pyarrow RecordBatches directly — no pandas materialization, so binary
    payloads are never copied into Python objects until the decoder needs
    them. The right variant when payloads are large and the decoder
    accepts buffers (pyarrow binary scalars expose zero-copy views)."""

    def decode_batches(batches):
        import hashlib

        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            payloads = batch.column(1)
            blens, md5s, fmts, ws, hs = [], [], [], [], []
            for p in payloads:
                b = p.as_buffer()
                mv = memoryview(b)
                blens.append(len(mv))
                md5s.append(hashlib.md5(mv).hexdigest())
                if fake:
                    fmts.append(sniff_format(bytes(mv[:4])))
                    w, h = _fake_decode_len(len(mv))
                else:
                    # fixed-offset headers need <=26 bytes; JPEG's SOF
                    # marker scan walks segments, so hand it the whole
                    # buffer (still a zero-copy arrow view until `bytes`)
                    # NB: arrow buffers view as signed 'b' — compare via
                    # bytes(), not memoryview == bytes (always False there)
                    head = mv if bytes(mv[:3]) == b"\xff\xd8\xff" else mv[:26]
                    fmt, w, h = parse_image_dims(bytes(head))
                    fmts.append(fmt)
                ws.append(w)
                hs.append(h)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(pa.int64()),
                    pa.array(blens, pa.int64()),
                    pa.array(md5s, pa.string()),
                    pa.array(fmts, pa.string()),
                    pa.array(ws, pa.int32()),
                    pa.array(hs, pa.int32()),
                ],
                names=["doc_id", "byte_len", "content_md5",
                       "format", "width", "height"],
            )

    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInArrow(
        decode_batches, schema=IMAGE_META_SCHEMA
    )


AUDIO_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("window_idx", IntegerType(), False),
    StructField("rms", StringType(), False),       # fixed 6-decimal string
    StructField("zero_crossings", LongType(), False),
])


def audio_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_bytes: int = 256,
    fake: bool = False,
) -> DataFrame:
    """Windowed audio feature extraction over opaque payloads — the audio
    leg of the multimodal pattern (decode container -> PCM frames -> per-
    window features), as Arrow-batched mapInPandas.

    ``fake=False`` (the default) is a REAL codec for WAV containers:
    stdlib ``wave`` parses the RIFF/fmt chunks and yields PCM frames
    (8-bit unsigned or 16-bit signed; channel 0 of multi-channel files);
    non-WAV payloads raise NotImplementedError there (compressed audio
    needs soundfile/librosa). With ``fake=True`` the payload bytes are
    treated directly as centered int8 samples (b - 128) — the
    deterministic, oracle-reproducible twin. Either way, per-window RMS +
    zero-crossing counts are computed with numpy over ``window_bytes``
    samples per window, one output row per (payload, window); RMS is
    emitted as a fixed 6-decimal string so results are bit-stable across
    numpy builds."""

    def _wav_samples(payload: bytes):
        """stdlib WAV decode -> centered float64 samples (channel 0)."""
        import io
        import wave

        import numpy as np

        try:
            with wave.open(io.BytesIO(payload)) as wf:
                nch = wf.getnchannels()
                sw = wf.getsampwidth()
                raw = wf.readframes(wf.getnframes())
        except (wave.Error, EOFError) as exc:
            raise NotImplementedError(
                "payload is not PCM WAV; compressed audio requires "
                "soundfile/librosa (or run with fake=True)"
            ) from exc
        if sw == 1:
            arr = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        elif sw == 2:
            arr = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        else:
            raise NotImplementedError(
                f"{8 * sw}-bit WAV requires soundfile; stdlib path covers "
                "8/16-bit PCM"
            )
        return arr[::nch] if nch > 1 else arr

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, rms_l, zc_l = [], [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                if fake:
                    samples = np.frombuffer(bytes(p), dtype=np.uint8).astype(
                        np.float64
                    ) - 128.0
                else:
                    samples = _wav_samples(bytes(p))
                for w in range(0, max(len(samples), 1), window_bytes):
                    win = samples[w:w + window_bytes]
                    if len(win) == 0:
                        win = np.zeros(1)
                    ids.append(i)
                    idxs.append(w // window_bytes)
                    rms_l.append(f"{float(np.sqrt(np.mean(win * win))):.6f}")
                    zc_l.append(int(np.sum(np.signbit(win[:-1]) != np.signbit(win[1:]))))
            yield pd.DataFrame({
                "doc_id": pd.array(ids, dtype="int64"),
                "window_idx": pd.array(idxs, dtype="int32"),
                "rms": rms_l,
                "zero_crossings": pd.array(zc_l, dtype="int64"),
            })

    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    return ensure_parallelism(df.select(id_col, payload_col)).mapInPandas(
        feat_batches, schema=AUDIO_SCHEMA
    )


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Adapter for the driver testdata: treat each document's utf-8 bytes as
    an opaque payload so the multimodal plumbing has real input to chew on."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
