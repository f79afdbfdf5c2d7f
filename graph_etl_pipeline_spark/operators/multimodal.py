"""Multimodal column operators: decode / feature-extract / resize /
frame-sample over opaque binary columns (driver north-star).

The execution pattern is the deliverable: Arrow-batched mapInPandas
iterators with schemas declared up front, operating on `binary` blobs +
typed metadata structs. Image decode is REAL for 24-bit BMP and binary
PPM (pure-stdlib codecs below — no PIL needed); PIL, when importable,
extends coverage to other formats. `sample_frames` remains a
deterministic stand-in for video (`av`/ffmpeg is not in this container)
with identical stride math and output shape.

Batch sizing note for 100 TB: media blobs are large — set
spark.sql.execution.arrow.maxRecordsPerBatch (and files.maxPartitionBytes)
so one Arrow batch of blobs fits executor memory; the iterator interface
processes a partition as a stream of bounded batches, never materializing
the partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

try:  # real image codec, if present
    from PIL import Image  # type: ignore  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_len int, frame_head int"
FEATURE_SCHEMA = "doc_id bigint, blob_len int, head_byte int, tail_byte int, checksum bigint"
IMAGE_STATS_SCHEMA = (
    "doc_id bigint, img_format string, width int, height int, "
    "n_pixels bigint, sum_pixels bigint, sum_r bigint"
)


class DecodedImage:
    """Decoded raster: RGB bytes, row-major, top-down (the interchange
    shape every codec path normalizes to)."""

    __slots__ = ("format", "width", "height", "rgb")

    def __init__(self, format: str, width: int, height: int, rgb: bytes):
        self.format = format
        self.width = width
        self.height = height
        self.rgb = rgb  # len == width * height * 3


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB bytes as a 24-bit uncompressed (BI_RGB) BMP —
    bottom-up rows, BGR channel order, rows padded to 4 bytes, as the
    format demands. Pure stdlib; used to synthesize real decodable blobs
    in tests and the mm_image_decode query."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb length {len(rgb)} != {width}x{height}x3")
    row_size = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_size - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        # RGB -> BGR per pixel
        bgr = bytearray(row)
        bgr[0::3], bgr[2::3] = row[2::3], row[0::3]
        rows.append(bytes(bgr) + pad)
    pixels = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


def _decode_bmp(blob: bytes) -> DecodedImage:
    import struct

    if len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP blob")
    (offset,) = struct.unpack_from("<I", blob, 10)
    dib_size, width, height, _planes, bpp, compression = struct.unpack_from("<IiiHHI", blob, 14)
    if dib_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (dib={dib_size}, bpp={bpp}, comp={compression})")
    top_down = height < 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for i in range(height):
        src_row = i if top_down else height - 1 - i
        start = offset + src_row * row_size
        bgr = blob[start : start + width * 3]
        if len(bgr) < width * 3:
            raise ValueError("truncated BMP pixel data")
        dst = memoryview(out)[i * width * 3 : (i + 1) * width * 3]
        dst[0::3], dst[1::3], dst[2::3] = bgr[2::3], bgr[1::3], bgr[0::3]
    return DecodedImage("bmp", width, height, bytes(out))


def _decode_ppm(blob: bytes) -> DecodedImage:
    """PPM P6 (binary) — header is whitespace-separated ASCII with
    # comments, then maxval and raw RGB bytes."""
    if not blob.startswith(b"P6"):
        raise ValueError("not a P6 PPM blob")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(blob):
            raise ValueError("truncated PPM header")
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        token = blob[start:pos]
        if not token.isdigit():
            raise ValueError(
                f"malformed PPM header: expected decimal "
                f"width/height/maxval, got {token[:16]!r} at byte {start}"
            )
        fields.append(int(token))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    rgb = blob[pos : pos + width * height * 3]
    if len(rgb) < width * height * 3:
        raise ValueError(
            f"truncated PPM pixel data: header promises {width}x{height} "
            f"({width * height * 3} bytes), blob carries {len(rgb)} after the header"
        )
    return DecodedImage("ppm", width, height, rgb)


def decode_image(blob: bytes) -> DecodedImage:
    """Decode an image blob to top-down RGB. Pure-Python decoders for
    24-bit BMP and binary PPM (always available); PIL, when importable,
    handles everything else. Raises NotImplementedError only for formats
    neither path covers."""
    if blob[:2] == b"BM":
        return _decode_bmp(blob)
    if blob[:2] == b"P6":
        return _decode_ppm(blob)
    if _HAS_PIL:
        import io

        img = Image.open(io.BytesIO(blob)).convert("RGB")
        return DecodedImage((img.format or "unknown").lower(), img.width, img.height, img.tobytes())
    raise NotImplementedError(
        f"no decoder for magic {blob[:2]!r}: built-in codecs cover BMP/PPM; "
        "other formats need PIL (not in this container)"
    )


def resize_image(blob: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize, re-encoded as BMP. Pure Python over the
    decoded RGB matrix — a real implementation of the reference's planned
    image transform, not a stub."""
    img = decode_image(blob)
    out = bytearray(width * height * 3)
    for y in range(height):
        sy = y * img.height // height
        row_base = sy * img.width * 3
        for x in range(width):
            sx = x * img.width // width
            s = row_base + sx * 3
            d = (y * width + x) * 3
            out[d : d + 3] = img.rgb[s : s + 3]
    return encode_bmp(width, height, bytes(out))


def sample_frames(blob: bytes, n_frames: int, frame_size: int) -> list[bytes]:
    """Deterministic fake 'video' frame sampler: treats the blob as a
    frame container and cuts n_frames evenly-spaced fixed-size windows —
    the real implementation swaps this body for `av`/ffmpeg keyframe
    extraction; stride math and output shape are identical."""
    if len(blob) == 0:
        return []
    stride = max(len(blob) // n_frames, 1)
    return [blob[i * stride : i * stride + frame_size] for i in range(n_frames)
            if i * stride < len(blob)]


def binary_features_df(blobs: DataFrame) -> DataFrame:
    """blobs(doc_id, blob) → deterministic fake features via an Arrow
    batch iterator (the single home of the decode stub — the registered
    mm_binary_features query delegates here). Empty-blob sentinel is 0 to
    match SQL `ascii('')` so oracles stay comparable on empty inputs."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            b = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob_len": b.map(len),
                    "head_byte": b.map(lambda x: x[0] if len(x) else 0),
                    "tail_byte": b.map(lambda x: x[-1] if len(x) else 0),
                    "checksum": b.map(lambda x: sum(x) % 2_147_483_647),
                }
            )

    return blobs.mapInPandas(_decode, schema=FEATURE_SCHEMA)


def image_stats_df(blobs: DataFrame) -> DataFrame:
    """blobs(doc_id, blob) → decoded raster stats via the real decoder
    (header-parsed dimensions, pixel-byte sums from the normalized RGB
    matrix — sum_r is channel-0 only, so a BGR/RGB swap in the codec
    would be caught by the oracle). Arrow batch iterator; the decoder is
    pure Python per blob, which is the production shape for any codec
    UDF — the parallelism comes from partitions, not the codec."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "img_format", "width", "height",
                "n_pixels", "sum_pixels", "sum_r",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                img = decode_image(bytes(blob))
                out["doc_id"].append(doc_id)
                out["img_format"].append(img.format)
                out["width"].append(img.width)
                out["height"].append(img.height)
                out["n_pixels"].append(img.width * img.height)
                out["sum_pixels"].append(sum(img.rgb))
                out["sum_r"].append(sum(img.rgb[0::3]))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_stats, schema=IMAGE_STATS_SCHEMA)


def frame_sample_df(blobs: DataFrame, n_frames: int = 4, frame_size: int = 16) -> DataFrame:
    """blobs(doc_id, blob) → one row per sampled frame, via an Arrow batch
    iterator (the video analogue of mm_binary_features)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_len": [], "frame_head": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for idx, frame in enumerate(sample_frames(blob, n_frames, frame_size)):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_len"].append(len(frame))
                    out["frame_head"].append(frame[0] if len(frame) else -1)
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_sample, schema=FRAME_SCHEMA)


AUDIO_FRAME = 256  # samples per analysis frame (hop = frame: no overlap)
AUDIO_RMS_SCHEMA = (
    "doc_id bigint, frame_idx int, n_samples int, energy bigint, rms_fp bigint"
)


def audio_frame_rms_df(blobs: DataFrame) -> DataFrame:
    """Audio-shaped pipeline over opaque binary blobs: interpret the blob
    as a PCM8 sample stream (one unsigned byte per sample — the stand-in
    decode; a real deployment swaps in soundfile/ffmpeg and keeps every
    interface), frame it into AUDIO_FRAME-sample windows, and emit per-
    frame RMS energy — the framing + per-frame-aggregate shape under VAD,
    loudness normalization, and silence trimming in audio corpora.

    Determinism: energy is an exact integer Σ sample², and the RMS is
    quantized to fixed point AFTER the only float ops (one IEEE divide,
    one correctly-rounded sqrt, one multiply) — so the output is hash-
    stable across engines and partitionings. Frames never span documents,
    so the explode is map-side; batches stream through the iterator."""
    from collections.abc import Iterator as _It

    import math

    def _frames(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            ns: list[int] = []
            energies: list[int] = []
            rms: list[int] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                for fi in range(0, (len(b) + AUDIO_FRAME - 1) // AUDIO_FRAME):
                    chunk = b[fi * AUDIO_FRAME : (fi + 1) * AUDIO_FRAME]
                    e = sum(s * s for s in chunk)
                    doc_ids.append(doc_id)
                    idxs.append(fi)
                    ns.append(len(chunk))
                    energies.append(e)
                    rms.append(math.floor(math.sqrt(e / len(chunk)) * 1000))
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": idxs,
                    "n_samples": ns,
                    "energy": energies,
                    "rms_fp": rms,
                }
            )

    return blobs.mapInPandas(_frames, schema=AUDIO_RMS_SCHEMA)


def average_hash(blob: bytes, grid: int = 8) -> int:
    """Perceptual average-hash (aHash): decode, nearest-sample to a
    grid×grid grayscale thumbnail (same index map as resize_image),
    threshold each cell against the integer mean (STRICT >), pack the
    bits row-major into one signed int64. All-integer, so the signature
    is deterministic across platforms — near-identical images differ in
    a few bits (Hamming), identical renders collide exactly."""
    img = decode_image(blob)
    grays: list[int] = []
    for y in range(grid):
        sy = y * img.height // grid
        for x in range(grid):
            sx = x * img.width // grid
            s = (sy * img.width + sx) * 3
            grays.append((img.rgb[s] + img.rgb[s + 1] + img.rgb[s + 2]) // 3)
    mean = sum(grays) // (grid * grid)
    u = 0
    for i, g in enumerate(grays):
        if g > mean:
            u |= 1 << i
    return u - (1 << 64) if u & (1 << 63) else u
