"""Multimodal column plumbing: binary media + typed metadata over Spark.

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side plumbing — schemas, mapInArrow batch shape,
partition sizing — is real and tested. Header decoding is REAL for
PNG/GIF/JPEG images (IHDR / screen descriptor / SOF frame parsers) and
WAV audio (RIFF chunk walk); other formats fall back to clearly-marked
deterministic stubs because the full raster/codec libraries
(PIL/ffmpeg/etc.) are not available in this container — swap the
fallbacks for real decoders in production and every other line stays
unchanged. Feature embeddings remain deterministic stubs standing in
for a CNN/CLIP/wav2vec forward pass.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_FEATURES_SCHEMA",
    "AUDIO_FEATURES_SCHEMA",
    "attach_media_metadata",
    "image_features",
    "audio_features",
]

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("byte_len", LongType()),
        StructField("sha256", StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", FloatType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


# PNG color type -> sample channels (PNG spec §11.2.2).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _parse_png_header(payload: bytes) -> tuple[int, int, int] | None:
    """Real PNG decode of (width, height, channels) from the IHDR chunk.

    PNG layout: 8-byte signature, then chunks of
    ``len(4 BE) type(4) data(len) crc(4)``; IHDR must come first and
    carries ``width(4 BE) height(4 BE) bit_depth(1) color_type(1) ...``.
    """
    if len(payload) < 33 or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    if payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    color_type = payload[25]
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or not width or not height:
        raise ValueError("corrupt PNG IHDR")
    return width, height, channels


def _parse_gif_header(payload: bytes) -> tuple[int, int, int] | None:
    """Real GIF decode: logical-screen width/height (little-endian
    uint16 right after the GIF87a/GIF89a signature)."""
    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    if not width or not height:
        raise ValueError("corrupt GIF screen descriptor")
    return width, height, 3


def _parse_jpeg_header(payload: bytes) -> tuple[int, int, int] | None:
    """Real JPEG decode: walk marker segments to the first SOFn frame
    header (``FF C0..CF`` minus DHT/JPG/DAC), which carries
    ``precision(1) height(2 BE) width(2 BE) n_components(1)``."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 >= n:
                break
            height, width = struct.unpack(">HH", payload[i + 5 : i + 9])
            channels = payload[i + 9]
            if not width or not height:
                raise ValueError("corrupt JPEG frame header")
            return width, height, channels
        i += 2 + seg_len
    raise ValueError("no JPEG frame header found")


def _decode_image(payload: bytes) -> tuple[int, int, int]:
    """Image header decode: REAL for PNG/GIF/JPEG (pure-Python header
    parsers above), deterministic STUB for any other format (the full
    raster codecs aren't in this container; swap the fallback for PIL in
    production). Raises ValueError on empty or corrupt-known-format
    payloads like a real decoder would.
    """
    if not payload:
        raise ValueError("empty media payload")
    for parse in (_parse_png_header, _parse_gif_header, _parse_jpeg_header):
        dims = parse(payload)
        if dims is not None:
            return dims
    # STUB fallback (unknown format): deterministic fake dimensions.
    digest = hashlib.sha256(payload).digest()
    w, h = struct.unpack("<HH", digest[:4])
    return 1 + w % 4096, 1 + h % 4096, 3


def _feature_stub(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic fake feature extractor (stands in for a CNN/CLIP
    forward pass). Values derive from the payload hash: stable across
    runs and partitions."""
    digest = hashlib.sha256(payload).digest()
    raw = struct.unpack(f"<{dim}H", (digest * ((2 * dim) // len(digest) + 1))[: 2 * dim])
    return [v / 65535.0 for v in raw]


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """JVM-side metadata: byte length + sha256 (no Python involved)."""
    return df.withColumns(
        {
            "byte_len": F.length(payload_col).cast("long"),
            "sha256": F.sha2(F.col(payload_col), 256),
        }
    )


def _featurize(df: DataFrame, schema: StructType, decode, dim: int) -> DataFrame:
    """One ``mapInArrow`` over ``(media_id, payload)``: ``decode(payload)``
    gives the schema's fields between ``media_id`` and ``embedding``,
    and a ``ValueError`` from it NULLs them all instead of failing the
    task."""
    names = schema.names[1:]
    arrow_schema = to_arrow_schema(schema)

    def worker(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = {name: [] for name in names}
            for payload in batch.column("payload").to_pylist():
                try:
                    row = (*decode(bytes(payload or b"")), _feature_stub(payload, dim))
                except ValueError:
                    row = (None,) * len(names)
                for name, value in zip(names, row):
                    out[name].append(value)
            out["media_id"] = batch.column("media_id")
            yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return df.select("media_id", "payload").mapInArrow(worker, schema)


def image_features(df: DataFrame, *, dim: int = 16) -> DataFrame:
    """Decode + featurize images via mapInArrow (Arrow batches).

    The batch shape is the production contract: one Arrow record batch
    in and one out, payload bytes in, fixed-width feature rows out. Decode
    failures yield NULL dimensions rather than failing the task (lineage
    keeps the error count observable).
    """
    return _featurize(df, IMAGE_FEATURES_SCHEMA, _decode_image, dim)


def _parse_wav_header(payload: bytes) -> tuple[int, int] | None:
    """Real WAV (RIFF) decode: walk chunks for ``fmt `` (sample rate,
    block align) and ``data`` (frame count = size / block_align)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    rate = block_align = data_size = None
    i = 12
    n = len(payload)
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= n:
            rate = struct.unpack("<I", payload[i + 12 : i + 16])[0]
            block_align = struct.unpack("<H", payload[i + 20 : i + 22])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data_size is None or not block_align:
        raise ValueError("corrupt WAV: missing fmt/data chunk")
    return rate, data_size // block_align


def _decode_audio(payload: bytes) -> tuple[int, int]:
    """Audio header decode: REAL for WAV/RIFF (pure-Python chunk walk),
    deterministic STUB for any other container (no ffmpeg/soundfile in
    this container; swap the fallback in production). Raises ValueError
    on empty or corrupt-WAV payloads like a real decoder would.
    """
    if not payload:
        raise ValueError("empty media payload")
    parsed = _parse_wav_header(payload)
    if parsed is not None:
        return parsed
    # STUB fallback (unknown container): deterministic fake shape.
    digest = hashlib.sha256(payload).digest()
    rate = (8000, 16000, 22050, 44100, 48000)[digest[0] % 5]
    # fake "compression ratio": ~4 samples per payload byte
    return rate, 4 * len(payload)


def audio_features(df: DataFrame, *, dim: int = 16) -> DataFrame:
    """Decode + featurize audio via mapInArrow (Arrow batches).

    Same production contract as :func:`image_features`: payload bytes
    in, fixed-width feature rows out, decode failures -> NULLs instead
    of task failure. The embedding stub stands in for an MFCC/wav2vec
    forward pass.
    """

    def decode(payload: bytes) -> tuple[int, int, float]:
        rate, n = _decode_audio(payload)
        return rate, n, n / rate

    return _featurize(df, AUDIO_FEATURES_SCHEMA, decode, dim)
