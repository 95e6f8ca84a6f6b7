"""Multimodal columns: binary payloads + typed metadata (north-star
requirement; reference analog is the document ingest path §2.1 S2/S3).

Design: media are opaque ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.  Formats with dependency-free
specs decode FOR REAL — uncompressed 24-bit BMP, non-interlaced 8-bit
PNG (stdlib zlib + RFC 2083 filter reconstruction), and PCM16 WAV —
while codec-bound formats (JPEG, MP3, video) use a deterministic fake
derived from the byte content, or fail loudly under ``strict=True``:
real result or explicit failure, never a silent fake.  The Spark-side
contract (schema, batch shape, partitioning) is identical either way,
so swapping in PIL/libvips/ffmpeg touches only the kernel functions.

Ingest mirrors S2: binaryFile source -> magic-byte validation -> sha256
-> (tenant, hash) anti-join dedup (reference
``src/services/file_validator.py:65-131``, ``020_documents.sql:31``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Magic-byte whitelist — reference src/services/file_validator.py:65-131.
# Each mime maps to a list of (offset, bytes) conditions that must ALL
# hold: WAV needs 'WAVE' at offset 8 as well as the 'RIFF' prefix,
# otherwise every RIFF container (WebP images, AVI video) would
# misclassify as audio.
MAGIC_BYTES = {
    "application/pdf": [(0, b"%PDF")],
    "image/png": [(0, b"\x89PNG")],
    "image/jpeg": [(0, b"\xff\xd8\xff")],
    "application/zip": [(0, b"PK\x03\x04")],
    "image/bmp": [(0, b"BM")],
    "audio/wav": [(0, b"RIFF"), (8, b"WAVE")],
    "video/avi": [(0, b"RIFF"), (8, b"AVI ")],
}


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime_type", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("mean_abs_amplitude", IntegerType()),
        StructField("feature_hash", StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", IntegerType()),
        StructField("feature_hash", StringType()),
    ]
)


def detect_mime(content_col) -> "F.Column":
    """Magic-byte dispatch as a when-chain (F30-adjacent; JVM-side)."""
    expr = None
    for mime, conds in MAGIC_BYTES.items():
        cond = None
        for off, magic in conds:
            c = (
                F.lower(F.hex(F.substring(content_col, off + 1, len(magic))))
                == magic.hex().lower()
            )
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(mime)) if expr is None else expr.when(cond, F.lit(mime))
    return expr.otherwise(F.lit("application/octet-stream"))


def ingest_binary_dir(spark: SparkSession, path: str, tenant_id: str = "t0") -> DataFrame:
    """S2: binaryFile scan -> validate -> hash.  Dedup is a separate
    anti-join step so re-ingest of the same content is idempotent.
    ``ingest_date`` (from the file's modification time, deterministic
    from filesystem state — never the wall clock) is the date half of
    the landing partition contract (``ingest.LANDING_PARTITIONS``)."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.col("path"),
        F.col("content"),
        detect_mime(F.col("content")).alias("mime_type"),
        F.col("length").alias("file_size_bytes"),
        F.sha2(F.col("content"), 256).alias("file_hash"),
        F.lit(tenant_id).alias("tenant_id"),
        F.to_date(F.col("modificationTime")).alias("ingest_date"),
    ).filter(F.col("file_size_bytes") > 0)


def dedup_against_existing(
    incoming: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """J6: drop rows whose (tenant_id, file_hash) already exists
    (reference unique constraint ``020_documents.sql:31``) and
    first-wins within the batch itself."""
    batch_deduped = incoming.dropDuplicates(["tenant_id", "file_hash"])
    if existing is None:
        return batch_deduped
    return batch_deduped.join(
        existing.select("tenant_id", "file_hash"),
        ["tenant_id", "file_hash"],
        "left_anti",
    )


def _fake_decode(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: derives plausible
    dimensions/stats from the byte content."""
    h = hashlib.sha256(content or b"").digest()
    width = 64 + h[0] * 8
    height = 64 + h[1] * 8
    mean_luma = h[2]
    return width, height, mean_luma


def _bmp_raster(content: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode for uncompressed 24-bit BMP (the one raster
    format whose spec is simple enough for a dependency-free decoder):
    BITMAPFILEHEADER (14 B, pixel offset at 10) + BITMAPINFOHEADER
    (width/height int32 at 18/22, bpp uint16 at 28, compression uint32
    at 30 == BI_RGB), rows padded to 4 bytes, bottom-up when height>0.
    Returns (width, height, RGB triplets in TOP-DOWN row order — the
    bottom-up storage is flipped, BGR reordered).  Raises ValueError on
    anything it cannot faithfully decode — the strict-mode contract is
    'real result or explicit failure', never a silent fake."""
    import struct

    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_off = struct.unpack_from("<I", content, 10)[0]
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    abs_h = abs(height)
    if width <= 0 or abs_h == 0:
        raise ValueError("degenerate BMP dimensions")
    row_stride = (width * 3 + 3) & ~3
    need = pixel_off + row_stride * abs_h
    if len(content) < need:
        raise ValueError("truncated BMP pixel data")
    out = bytearray(width * abs_h * 3)
    for r in range(abs_h):
        stored = abs_h - 1 - r if height > 0 else r
        base = pixel_off + stored * row_stride
        row = content[base : base + width * 3]
        o = r * width * 3
        for i in range(0, width * 3, 3):  # BGR -> RGB
            out[o + i] = row[i + 2]
            out[o + i + 1] = row[i + 1]
            out[o + i + 2] = row[i]
    return width, abs_h, bytes(out)


def _decode_bmp(content: bytes) -> tuple[int, int, int]:
    """(width, height, mean BT.601 integer luma) over the real BMP
    raster (:func:`_bmp_raster`)."""
    width, height, rgb = _bmp_raster(content)
    total = 0
    for i in range(0, len(rgb), 3):
        total += (299 * rgb[i] + 587 * rgb[i + 1] + 114 * rgb[i + 2]) // 1000
    return width, height, total // (width * height)


def _decode_png(content: bytes) -> tuple[int, int, int]:
    """REAL decode kernel for non-interlaced 8-bit PNG (gray, RGB,
    gray+alpha, RGBA) — pure stdlib: chunk walk + zlib inflate (the PNG
    datastream IS zlib, RFC 2083) + the five scanline filter
    reconstructions (None/Sub/Up/Average/Paeth) exactly as specified.
    Returns (width, height, mean BT.601 luma over RGB; gray value for
    grayscale).  Raises ValueError for anything outside the supported
    profile — same 'real result or explicit failure' contract as
    :func:`_decode_bmp`, never a silent fake."""
    import struct
    import zlib

    if len(content) < 8 or content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    try:
        return _decode_png_body(content)
    except (struct.error, zlib.error) as e:
        # parse-layer failures ARE decode failures: normalize so the
        # non-strict fallback path (except ValueError) catches them
        # instead of one corrupt file killing the whole batch
        raise ValueError(f"corrupt PNG stream: {e}") from e


def _decode_png_body(content: bytes) -> tuple[int, int, int]:
    width, height, channels, raster = _png_raster(content)
    stride = width * channels
    total = 0
    for r in range(height):
        line = raster[r * stride : (r + 1) * stride]
        for x in range(0, stride, channels):
            if channels >= 3:
                rr, g, b = line[x], line[x + 1], line[x + 2]
                total += (299 * rr + 587 * g + 114 * b) // 1000
            else:
                total += line[x]  # gray (alpha ignored for luma)
    return width, height, total // (width * height)


def _png_raster(content: bytes) -> tuple[int, int, int, bytes]:
    """The unfiltered PNG raster: (width, height, channels, top-down
    scanline bytes) — chunk walk + zlib inflate + the five RFC 2083
    filter reconstructions.  Shared by the luma kernel and the resize
    path."""
    import struct
    import zlib

    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG profile (depth={depth}, color={color}, "
            f"interlace={interlace})"
        )
    if width <= 0 or height <= 0:
        raise ValueError("degenerate PNG dimensions")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) < (stride + 1) * height:
        raise ValueError("truncated PNG pixel data")
    prev = bytearray(stride)
    raster = bytearray(stride * height)
    for r in range(height):
        base = r * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        raster[r * stride : (r + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(raster)


def _decode_wav(content: bytes) -> tuple[int, int, int, int]:
    """REAL decode kernel for PCM16 RIFF/WAVE audio — pure stdlib
    struct: chunk walk to the fmt (audio format 1 = integer PCM,
    16-bit) and data chunks, then mean |amplitude| over the interleaved int16 samples.
    Returns (sample_rate, n_channels, duration_ms, mean_abs_amplitude).
    Raises ValueError outside the profile — same 'real result or
    explicit failure' contract as the image kernels."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    try:
        return _decode_wav_body(content)
    except struct.error as e:
        # parse-layer failures ARE decode failures: normalize so the
        # non-strict fallback (except ValueError) catches them
        raise ValueError(f"corrupt WAVE stream: {e}") from e


def _decode_wav_body(content: bytes) -> tuple[int, int, int, int]:
    import struct

    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("truncated WAVE chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_fmt, n_channels, sample_rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits != 16 or n_channels == 0 or sample_rate == 0:
        raise ValueError(
            f"unsupported WAVE profile (fmt={audio_fmt}, bits={bits}, "
            f"ch={n_channels})"
        )
    n_samples = len(data) // 2
    if n_samples == 0:
        raise ValueError("empty WAVE data")
    # memoryview cast: iterate int16 samples zero-copy — a giant
    # struct.unpack tuple would cost ~30x the file size in Python ints.
    # cast() is NATIVE-endian; WAV is little-endian, so big-endian
    # hosts take the (slower, correct) unpack path.
    import sys

    if sys.byteorder == "little":
        samples = memoryview(data)[: n_samples * 2].cast("h")
    else:  # pragma: no cover - no big-endian host in CI
        samples = struct.unpack(f"<{n_samples}h", data[: n_samples * 2])
    frames = n_samples // n_channels
    duration_ms = frames * 1000 // sample_rate
    mean_abs = sum(abs(x) for x in samples) // n_samples
    return sample_rate, n_channels, duration_ms, mean_abs


def _jpeg_dimensions(content: bytes) -> tuple[int, int]:
    """REAL header parse for JPEG dimensions: marker walk to the first
    start-of-frame segment (SOF0-SOF15, excluding DHT/JPG/DAC), whose
    payload carries height/width big-endian at offset 3 (JPEG spec,
    ITU-T T.81 — public).  Pixel DECODE stays codec-bound; this reads
    only what the headers state.  Raises ValueError when no SOF is
    found (corrupt/truncated stream)."""
    import struct

    if len(content) < 4 or content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            pos += 1  # padding/garbage tolerance between markers
            continue
        marker = content[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers have no length field
            continue
        (seg_len,) = struct.unpack_from(">H", content, pos + 2)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > len(content):
                break
            height, width = struct.unpack_from(">HH", content, pos + 5)
            if width == 0 or height == 0:
                raise ValueError("degenerate JPEG dimensions")
            return width, height
        pos += 2 + seg_len
    raise ValueError("no JPEG start-of-frame marker found")


def _fake_audio(content: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for non-WAV audio (mp3/ogg decode needs
    codec libraries not in this container)."""
    h = hashlib.sha256(content or b"").digest()
    return 8000 * (1 + h[0] % 6), 1 + h[1] % 2, 1000 + h[2] * 100, h[3] * 64


def extract_audio_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Audio decode + feature-extract via mapInPandas — the audio
    column of the multimodal contract.  PCM16 WAV decodes FOR REAL
    (:func:`_decode_wav`); compressed codecs use the deterministic fake
    (or fail loudly under ``strict=True``), exactly mirroring the image
    boundary's kernel/stub split."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = row["content"]
                raw = bytes(content) if content is not None else b""
                if raw[:4] == b"RIFF":
                    try:
                        sr, ch, dur, amp = _decode_wav(raw)
                    except ValueError:
                        if strict:
                            raise
                        sr, ch, dur, amp = _fake_audio(content)
                elif strict:
                    raise NotImplementedError(
                        "real decode beyond PCM16 WAV requires codec "
                        "libraries (not in container)"
                    )
                else:
                    sr, ch, dur, amp = _fake_audio(content)
                rows.append(
                    {
                        "path": row["path"],
                        "mime_type": row["mime_type"],
                        "sample_rate": sr,
                        "n_channels": ch,
                        "duration_ms": dur,
                        "mean_abs_amplitude": amp,
                        "feature_hash": hashlib.sha256(content or b"").hexdigest()[:16],
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return media.mapInPandas(decode_batches, AUDIO_FEATURES_SCHEMA)


def extract_image_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    ``strict=True`` raises NotImplementedError where a real decoder
    (PIL/libvips — not in this container) would run; the default uses
    the deterministic fake so the full pipeline is testable.  Swap
    ``_fake_decode`` for the real kernel without touching the dataflow.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = row["content"]
                raw = bytes(content) if content is not None else b""
                kernel = None
                if raw[:2] == b"BM":
                    kernel = _decode_bmp
                elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                    kernel = _decode_png
                if kernel is not None:
                    # real kernels: uncompressed 24-bit BMP and 8-bit
                    # non-interlaced PNG decode for real in BOTH modes;
                    # a malformed/unsupported file fails loudly in
                    # strict mode and falls back to the fake outside
                    try:
                        width, height, luma = kernel(raw)
                    except ValueError:
                        if strict:
                            raise
                        width, height, luma = _fake_decode(content)
                elif raw[:2] == b"\xff\xd8" and not strict:
                    # JPEG: dimensions parse FOR REAL from the SOF
                    # header (T.81 marker walk); pixel decode remains
                    # codec-bound, so luma stays the declared stub and
                    # strict mode still fails explicitly below
                    try:
                        width, height = _jpeg_dimensions(raw)
                        luma = _fake_decode(content)[2]
                    except ValueError:
                        width, height, luma = _fake_decode(content)
                elif strict:
                    raise NotImplementedError(
                        "real decode beyond BMP/PNG requires PIL/libvips "
                        "(not in container)"
                    )
                else:
                    width, height, luma = _fake_decode(content)
                rows.append(
                    {
                        "path": row["path"],
                        "mime_type": row["mime_type"],
                        "width": width,
                        "height": height,
                        "mean_luma": luma,
                        "feature_hash": hashlib.sha256(content or b"").hexdigest()[:16],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields],
            )

    return media.mapInPandas(decode_batches, IMAGE_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Resize — the fourth multimodal primitive (decode / feature-extract /
# RESIZE / frame-sample).  Real nearest-neighbor resampling over the
# real BMP/PNG rasters; output re-encoded as uncompressed 24-bit BMP
# (the dependency-free interchange container — a production deployment
# would swap the encoder for libvips/PIL without touching the dataflow
# or the sampling arithmetic).


def image_raster_rgb(content: bytes) -> tuple[int, int, bytes]:
    """(width, height, top-down RGB triplets) for any format with a
    real pixel decoder (24-bit BMP; 8-bit non-interlaced PNG — gray
    replicated to RGB, alpha dropped).  ValueError otherwise ('real
    result or explicit failure', same contract as the luma kernels)."""
    import struct
    import zlib

    raw = bytes(content or b"")
    if raw[:2] == b"BM":
        return _bmp_raster(raw)
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        try:
            width, height, channels, raster = _png_raster(raw)
        except (struct.error, zlib.error) as e:
            raise ValueError(f"corrupt PNG stream: {e}") from e
        if channels == 3:
            return width, height, raster
        rgb = bytearray(width * height * 3)
        stride = width * channels
        for r in range(height):
            for x in range(width):
                px = raster[r * stride + x * channels : r * stride + (x + 1) * channels]
                o = (r * width + x) * 3
                if channels >= 3:
                    rgb[o : o + 3] = px[:3]  # RGBA: drop alpha
                else:
                    rgb[o] = rgb[o + 1] = rgb[o + 2] = px[0]  # gray / gray+alpha
        return width, height, bytes(rgb)
    raise ValueError("no real pixel decoder for this format")


def encode_bmp_rgb(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BI_RGB BMP from top-down RGB triplets
    (stored bottom-up, BGR, rows padded to 4 bytes — the exact layout
    :func:`_bmp_raster` reads back)."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pixels = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up storage
        o = r * width * 3
        row = bytearray()
        for i in range(0, width * 3, 3):
            row += bytes((rgb[o + i + 2], rgb[o + i + 1], rgb[o + i]))
        pixels += row + b"\x00" * (row_stride - width * 3)
    size = 54 + len(pixels)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + bytes(pixels)


def resize_image_bytes(content: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resample to (out_w, out_h): source pixel for
    output (x, y) is ((x·in_w)//out_w, (y·in_h)//out_h) — pure integer
    floor mapping, deterministic and arithmetically replayable by the
    oracle.  Returns a 24-bit BMP."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("degenerate resize target")
    w, h, rgb = image_raster_rgb(content)
    out = bytearray(out_w * out_h * 3)
    for y in range(out_h):
        srow = ((y * h) // out_h) * w * 3
        orow = y * out_w * 3
        for x in range(out_w):
            sx = (x * w) // out_w
            out[orow + 3 * x : orow + 3 * x + 3] = rgb[srow + 3 * sx : srow + 3 * sx + 3]
    return encode_bmp_rgb(out_w, out_h, bytes(out))


RESIZED_IMAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime_type", StringType()),
        StructField("content", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(media: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas resize stage: (path, content, out_w, out_h) rows →
    resized binaries (+ actual output dims).  ``strict=True`` raises on
    any input without a real pixel decoder; the default drops it (the
    thumbnail-pipeline convention: undecodable assets simply get no
    thumbnail, they don't kill the batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                raw = bytes(row["content"]) if row["content"] is not None else b""
                try:
                    data = resize_image_bytes(raw, int(row["out_w"]), int(row["out_h"]))
                except ValueError:
                    if strict:
                        raise
                    continue
                rows.append(
                    {
                        "path": row["path"],
                        "mime_type": "image/bmp",
                        "content": data,
                        "width": int(row["out_w"]),
                        "height": int(row["out_h"]),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in RESIZED_IMAGE_SCHEMA.fields]
            )

    return media.mapInPandas(run, RESIZED_IMAGE_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic synthetic-asset encoders — the INVERSE twins of the
# decode kernels above, spec-faithful (a real decoder reads them), used
# by the correctness harness: the registry's media row synthesizes
# binaries from arithmetic parameters, decodes them back through the
# real kernels, and the DuckDB oracle recomputes the expected features
# from the SAME arithmetic — so a silent decode regression (or a fake
# fallback) flips the hash.


def synth_bmp(width: int, height: int, gray: int) -> bytes:
    """Uncompressed 24-bit BI_RGB BMP, constant gray pixels — constant
    (v,v,v) makes BT.601 integer luma exactly v, so the oracle can
    state the expected mean_luma arithmetically."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pixels = bytearray()
    row = bytes([gray, gray, gray] * width) + b"\x00" * (row_stride - width * 3)
    for _ in range(height):
        pixels += row
    size = 54 + len(pixels)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + bytes(pixels)


def synth_gradient_bmp(width: int, height: int) -> bytes:
    """24-bit BMP whose pixel (x, y) is the constant-gray triplet
    g(x, y) = (7x + 13y) mod 256 — every pixel's luma is exactly
    g(x, y), so a nearest-neighbor resize has a closed-form expected
    raster: out(x, y) = g((x·W)//w, (y·H)//h).  The strong-signal
    fixture for the resize kernel (constant-gray assets can't catch a
    wrong sampling coordinate)."""
    rgb = bytearray(width * height * 3)
    for y in range(height):
        for x in range(width):
            g = (7 * x + 13 * y) % 256
            o = (y * width + x) * 3
            rgb[o] = rgb[o + 1] = rgb[o + 2] = g
    return encode_bmp_rgb(width, height, bytes(rgb))


def _png_filter_line(ftype: int, line: bytes, prev: bytes, channels: int) -> bytes:
    """Apply one RFC 2083 filter FORWARD (encode side) — exact inverse
    of the reconstructions in :func:`_decode_png_body`."""
    out = bytearray(len(line))
    for i in range(len(line)):
        a = line[i - channels] if i >= channels else 0
        b = prev[i]
        c = prev[i - channels] if i >= channels else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (line[i] - pred) & 0xFF
    return bytes(out)


def synth_png(width: int, height: int, gray: int, filter_type: int = 0) -> bytes:
    """Non-interlaced 8-bit RGB PNG, constant gray pixels, every
    scanline encoded with ``filter_type`` — exercises each of the five
    filter reconstructions in the real decode kernel."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    line = bytes([gray] * (width * 3))
    prev = bytes(width * 3)
    raw = bytearray()
    for _ in range(height):
        raw.append(filter_type)
        raw += _png_filter_line(filter_type, line, prev, 3)
        prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def synth_wav(sample_rate: int, n_channels: int, n_frames: int, amplitude: int) -> bytes:
    """PCM16 RIFF/WAVE, every sample == ``amplitude`` — mean |amplitude|
    is exactly the parameter, duration_ms is frames*1000//rate."""
    import struct

    n_samples = n_frames * n_channels
    data = struct.pack(f"<{n_samples}h", *([amplitude] * n_samples))
    block_align = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def synth_jpeg(width: int, height: int) -> bytes:
    """Minimal JPEG stream: SOI + a spec-correct SOF0 frame header
    carrying the dimensions + EOI.  Pixel payload stays absent by
    design (pixel decode is codec-bound); the REAL artifact here is the
    T.81 marker walk in :func:`_jpeg_dimensions`."""
    import struct

    sof = struct.pack(
        ">BHH", 8, height, width
    ) + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    return (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof))
        + sof
        + b"\xff\xd9"
    )


# --- video: RIFF/AVI container ---------------------------------------------

VIDEO_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_ms", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("feature_hash", StringType()),
    ]
)


def synth_avi(width: int, height: int, n_frames: int, frame_ms: int) -> bytes:
    """Minimal spec-correct AVI (Microsoft RIFF 'AVI ' form): hdrl LIST
    with a 56-byte ``avih`` MainAVIHeader + one 'vids' strl, then a
    movi LIST of ``00dc`` frame chunks.  Frame payloads are
    deterministic odd-length byte runs so the RIFF even-padding rule is
    exercised on every asset; pixel encoding stays absent by design
    (codec-bound) — the REAL artifact is the container walk in
    :func:`_decode_avi`."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def list_chunk(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I",
        frame_ms * 1000,  # dwMicroSecPerFrame
        0, 0, 0,  # dwMaxBytesPerSec, dwPaddingGranularity, dwFlags
        n_frames,  # dwTotalFrames
        0, 1, 0,  # dwInitialFrames, dwStreams, dwSuggestedBufferSize
        width, height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vidsDIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, frame_ms, 1000, 0, n_frames, 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, width * height * 3, 0, 0, 0, 0
    )
    hdrl = list_chunk(
        b"hdrl", chunk(b"avih", avih) + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    )
    frames = b"".join(
        chunk(b"00dc", bytes([(i * 37 + j) % 256 for j in range(2 * i + 1)]))
        for i in range(n_frames)
    )
    movi = list_chunk(b"movi", frames)
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk_riff(content: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) over a RIFF chunk run,
    honoring the even-padding rule."""
    import struct

    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", content, pos + 4)
        yield cid, pos + 8, clen
        pos += 8 + clen + (clen % 2)


def _decode_avi(content: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """REAL container kernel for RIFF/AVI: chunk walk to the avih
    header (dimensions, frame count, frame interval) and the movi list
    (actual ``##dc``/``##db`` frame payloads).  Returns (width, height,
    n_frames, frame_ms, frame_payloads); raises ValueError when the
    header's dwTotalFrames disagrees with the frames physically present
    — same 'real result or explicit failure' contract as the other
    kernels."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    try:
        avih = None
        frames: list[bytes] = []
        for cid, start, clen in _walk_riff(content, 12, len(content)):
            if cid != b"LIST":
                continue
            kind = content[start : start + 4]
            if kind == b"hdrl":
                for sub, s2, l2 in _walk_riff(content, start + 4, start + clen):
                    if sub == b"avih":
                        avih = struct.unpack_from("<14I", content, s2)
                        break
            elif kind == b"movi":
                for sub, s2, l2 in _walk_riff(content, start + 4, start + clen):
                    if sub[2:4] in (b"dc", b"db"):
                        frames.append(content[s2 : s2 + l2])
        if avih is None:
            raise ValueError("no avih header")
    except struct.error as e:
        raise ValueError(f"corrupt AVI stream: {e}") from e
    usecpf, total, width, height = avih[0], avih[4], avih[8], avih[9]
    if total != len(frames):
        raise ValueError(
            f"header declares {total} frames, movi contains {len(frames)}"
        )
    return width, height, len(frames), usecpf // 1000, frames


def _fake_video(content: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for codec-bound containers (mp4/mkv need
    ffmpeg, not in this container)."""
    h = hashlib.sha256(content or b"").digest()
    return 64 * (1 + h[0] % 8), 64 * (1 + h[1] % 8), 10 + h[2], 20 + h[3] % 80


def extract_video_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Video feature-extract via mapInPandas — the video column of the
    multimodal contract.  RIFF/AVI containers parse FOR REAL
    (:func:`_decode_avi`); codec-bound containers use the deterministic
    fake or fail loudly under ``strict=True``."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = row["content"]
                raw = bytes(content) if content is not None else b""
                if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                    # a malformed/truncated AVI must not kill the whole
                    # job under the non-strict contract — fall back to
                    # the deterministic fake like every other format
                    try:
                        w, h, nf, fms, _frames = _decode_avi(raw)
                    except ValueError:
                        if strict:
                            raise
                        w, h, nf, fms = _fake_video(raw)
                elif strict:
                    raise NotImplementedError(
                        "real decode beyond RIFF/AVI requires codec "
                        "libraries (not in container)"
                    )
                else:
                    w, h, nf, fms = _fake_video(raw)
                rows.append(
                    {
                        "path": row["path"],
                        "mime_type": row["mime_type"],
                        "width": w,
                        "height": h,
                        "n_frames": nf,
                        "frame_ms": fms,
                        "duration_ms": nf * fms,
                        "feature_hash": hashlib.sha256(raw).hexdigest()[:16],
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FEATURES_SCHEMA.fields]
            )

    return media.mapInPandas(decode_batches, VIDEO_FEATURES_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_hash", StringType()),
    ]
)


def sample_frames(
    media: DataFrame, every_n_bytes: int = 1024, every_n_frames: int = 1
) -> DataFrame:
    """Frame sampling: one output row per sampled frame — the UDTF
    shape (§2.10, rows explode per input).  RIFF/AVI containers sample
    their REAL ``00dc`` frame chunks (every ``every_n_frames``-th,
    original frame_index preserved); other binaries fall back to byte
    windows of ``every_n_bytes`` as the stand-in a codec decoder would
    replace."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = bytes(row["content"] or b"")
                payloads = None
                if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
                    # malformed AVI -> byte-window fallback, never a
                    # job-killing ValueError (non-strict contract)
                    try:
                        payloads = _decode_avi(content)[4]
                    except ValueError:
                        payloads = None
                if payloads is not None:
                    windows = [
                        (i, payloads[i])
                        for i in range(0, len(payloads), every_n_frames)
                    ]
                else:
                    windows = [
                        (i, content[start : start + every_n_bytes])
                        for i, start in enumerate(
                            range(0, len(content), every_n_bytes)
                        )
                    ]
                for i, window in windows:
                    rows.append(
                        {
                            "path": row["path"],
                            "frame_index": i,
                            "frame_hash": hashlib.sha256(window).hexdigest()[:16],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Fused wide feature extraction (r13, guide §4 "cross the boundary
# once"): ONE mapInPandas pass that runs the SAME kernels the per-leg
# stages above run — image decode (non-strict: real BMP/PNG kernels,
# real JPEG header, stub luma), strict WAV decode, strict AVI container
# walk + the every-Nth-frame sampler over the real 00dc chunks, and the
# strict resize round-trip (real raster -> nearest-neighbor -> BMP
# re-encode -> real re-decode) for PNG/BMP rows.  media_features_report
# used to run FIVE separate Python stages over the checkpointed binary
# asset table (image, resize+re-decode, video, frame-sample, audio) —
# every one a JVM->Python crossing of the payload bytes, and the AVI
# bytes decoded twice (features + sampler).  The fused stage crosses
# the boundary once per asset and emits one skinny row per asset; the
# aggregates become pure relational work over it.

WIDE_MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", IntegerType()),
        StructField("r_width", IntegerType()),
        StructField("r_height", IntegerType()),
        StructField("r_luma", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("mean_abs_amplitude", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_sampled", LongType()),
    ]
)

#: pandas nullable dtypes per numeric wide column — mixed int/None rows
#: otherwise infer float64 (NaN) and the Arrow cast to int is unsafe
_WIDE_DTYPES = {
    "width": "Int32", "height": "Int32", "mean_luma": "Int32",
    "r_width": "Int32", "r_height": "Int32", "r_luma": "Int32",
    "sample_rate": "Int32", "n_channels": "Int32", "duration_ms": "Int64",
    "mean_abs_amplitude": "Int32", "n_frames": "Int32", "n_sampled": "Int64",
}


def extract_media_features_wide(
    media: DataFrame, sample_every_n_frames: int = 2
) -> DataFrame:
    """Fused decode pass (see the block comment above).  Input rows
    carry (path, content, mime_type[, out_w, out_h]); ``out_w/out_h``
    drive the resize round-trip and are only read for PNG/BMP rows.

    Strictness mirrors the report's per-leg contracts exactly: WAV and
    AVI decode strict (raise on malformed), the image family non-strict
    (real kernels with the deterministic fake as fallback, real JPEG
    SOF dimensions with the declared luma stub), the resize round-trip
    strict."""
    has_resize = "out_w" in media.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WIDE_MEDIA_FEATURES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                content = row["content"]
                raw = bytes(content) if content is not None else b""
                mime = row["mime_type"]
                out = dict.fromkeys(cols)
                out["path"] = row["path"]
                out["mime_type"] = mime
                if mime == "audio/wav":
                    # strict: a non-PCM16 or corrupt stream raises
                    sr, ch, dur, amp = _decode_wav(raw)
                    out.update(
                        sample_rate=sr, n_channels=ch, duration_ms=dur,
                        mean_abs_amplitude=amp,
                    )
                elif mime == "video/avi":
                    # strict container walk; the sampler reuses the SAME
                    # decoded 00dc chunks (the per-leg split decoded the
                    # container twice)
                    w, h, nf, fms, frames_ = _decode_avi(raw)
                    out.update(
                        width=w, height=h, n_frames=nf,
                        duration_ms=nf * fms,
                        n_sampled=len(range(0, len(frames_), sample_every_n_frames)),
                    )
                else:
                    # image family — extract_image_features' non-strict
                    # dispatch, verbatim
                    kernel = None
                    if raw[:2] == b"BM":
                        kernel = _decode_bmp
                    elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                        kernel = _decode_png
                    if kernel is not None:
                        try:
                            width, height, luma = kernel(raw)
                        except ValueError:
                            width, height, luma = _fake_decode(content)
                    elif raw[:2] == b"\xff\xd8":
                        try:
                            width, height = _jpeg_dimensions(raw)
                            luma = _fake_decode(content)[2]
                        except ValueError:
                            width, height, luma = _fake_decode(content)
                    else:
                        width, height, luma = _fake_decode(content)
                    out.update(width=width, height=height, mean_luma=luma)
                    if has_resize and mime in ("image/png", "image/bmp"):
                        # strict resize + strict re-decode through the
                        # real BMP kernel (the per-leg rimgs contract)
                        data = resize_image_bytes(
                            raw, int(row["out_w"]), int(row["out_h"])
                        )
                        rw, rh, rl = _decode_bmp(data)
                        out.update(r_width=rw, r_height=rh, r_luma=rl)
                rows.append(out)
            pdf_out = pd.DataFrame(rows, columns=cols)
            for c, dt in _WIDE_DTYPES.items():
                pdf_out[c] = pdf_out[c].astype(dt)
            yield pdf_out

    return media.mapInPandas(run, WIDE_MEDIA_FEATURES_SCHEMA)
