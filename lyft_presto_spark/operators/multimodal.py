"""Multimodal (image/audio/video) column operators: binary blobs + typed metadata.

Beyond the reference (it has no media types; nearest niche is varbinary +
digest functions, VarbinaryFunctions.java:37). A training pipeline treats
media as opaque ``binary`` columns with a typed metadata struct; decode /
feature-extract run as Arrow-batched ``mapInPandas`` stages so the bytes
never round-trip through Python row objects.

Codec reality: third-party image/audio libraries are not in this container,
so compressed formats (JPEG/PNG/MP3/...) are out of reach — but the
*uncompressed* containers are parsed for real with the stdlib: WAV (RIFF
PCM16), PPM (P6) and BMP (24-bit uncompressed) decoders below do actual
byte-level header + payload parsing. ``codec="fake"`` keeps the
deterministic byte-stats codec for the oracle-checked data-path test;
``codec="real"`` dispatches on container magic and raises ValueError for
formats that would need an external library.

Scale notes: mapInPandas streams Arrow batches (no collect, no per-row
Python); blobs stay partition-local (the only shuffle in the demo pipeline
is the final per-source aggregation of small feature rows).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The media-row contract: one blob + typed metadata, media kind discriminated.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("blob", BinaryType()),
        StructField("source", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("source", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("byte_entropy_proxy", DoubleType()),
        StructField("header_hex", StringType()),
    ]
)


def decode_image(blob: bytes, codec: str = "real") -> dict:
    """Decode an image blob to features (real parse for PPM/BMP)."""
    if codec == "fake":
        return _fake_decode(blob)
    meta = decode_media(blob)
    return {
        "n_bytes": len(blob),
        "byte_mean": meta["mean_value"],
        "byte_entropy_proxy": meta["value_spread"],
        "header_hex": blob[:8].hex(),
    }


def decode_audio(blob: bytes, codec: str = "real") -> dict:
    """Decode an audio blob to features (real parse for WAV PCM16)."""
    if codec == "fake":
        return _fake_decode(blob)
    meta = decode_media(blob)
    return {
        "n_bytes": len(blob),
        "byte_mean": meta["mean_value"],
        "byte_entropy_proxy": meta["value_spread"],
        "header_hex": blob[:8].hex(),
    }


# --- real (stdlib) codecs ----------------------------------------------------

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("width", LongType()),  # images; 0 for audio
        StructField("height", LongType()),
        StructField("sample_rate", LongType()),  # audio; 0 for images
        StructField("n_samples", LongType()),  # pixels or PCM frames
        StructField("duration_s", DoubleType()),  # audio; 0.0 for images
        StructField("mean_value", DoubleType()),  # mean pixel byte / PCM sample
        StructField("value_spread", DoubleType()),  # distinct values / range
    ]
)


def encode_wav_pcm16(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: PCM16 mono."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 1, sample_rate, sample_rate * 2, 2, 16, b"data", len(data),
    )
    return hdr + data


def encode_ppm(width: int, height: int, value: int) -> bytes:
    """Minimal P6 PPM writer: constant-value RGB image."""
    return f"P6\n{width} {height}\n255\n".encode() + bytes([value] * (width * height * 3))


def encode_bmp(width: int, height: int, value: int) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (row stride padded to 4)."""
    import struct

    stride = (width * 3 + 3) & ~3
    data = (bytes([value] * (width * 3)) + b"\x00" * (stride - width * 3)) * height
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return hdr + info + data


def decode_media(blob: bytes) -> dict:
    """Container-dispatched REAL decode: WAV / PPM / BMP via stdlib parsing.

    Raises ValueError for containers that would need an external codec
    library (JPEG/PNG/MP3/...), keeping the limitation explicit.
    """
    import struct

    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        # Walk RIFF chunks for fmt + data.
        pos, sample_rate, bits, channels, data = 12, 0, 16, 1, b""
        while pos + 8 <= len(blob):
            cid, size = blob[pos : pos + 4], struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
            body = blob[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                _, channels, sample_rate = struct.unpack("<HHI", body[:8])
                bits = struct.unpack("<H", body[14:16])[0]
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)
        if bits != 16 or channels != 1:
            raise ValueError(f"unsupported WAV layout: {bits}-bit {channels}ch")
        n = len(data) // 2
        samples = struct.unpack(f"<{n}h", data[: n * 2])
        return {
            "container": "wav",
            "width": 0, "height": 0,
            "sample_rate": sample_rate,
            "n_samples": n,
            "duration_s": n / sample_rate if sample_rate else 0.0,
            "mean_value": sum(samples) / n if n else 0.0,
            "value_spread": len(set(samples)) / 65536.0,
        }
    if blob[:2] == b"P6":
        # P6 header: three whitespace-separated tokens after the magic.
        parts = blob.split(maxsplit=4)
        width, height, maxval = int(parts[1]), int(parts[2]), int(parts[3])
        pixels = blob[-width * height * 3 :]
        n = width * height * 3
        return {
            "container": "ppm",
            "width": width, "height": height,
            "sample_rate": 0,
            "n_samples": width * height,
            "duration_s": 0.0,
            "mean_value": sum(pixels) / n if n else 0.0,
            "value_spread": len(set(pixels)) / (maxval + 1.0),
        }
    if blob[:2] == b"BM":
        width, height = struct.unpack("<ii", blob[18:26])
        bits = struct.unpack("<H", blob[28:30])[0]
        if bits != 24:
            raise ValueError(f"unsupported BMP depth: {bits}")
        off = struct.unpack("<I", blob[10:14])[0]
        stride = (width * 3 + 3) & ~3
        rows = [blob[off + r * stride : off + r * stride + width * 3] for r in range(abs(height))]
        pixels = b"".join(rows)
        return {
            "container": "bmp",
            "width": width, "height": abs(height),
            "sample_rate": 0,
            "n_samples": width * abs(height),
            "duration_s": 0.0,
            "mean_value": sum(pixels) / len(pixels) if pixels else 0.0,
            "value_spread": len(set(pixels)) / 256.0,
        }
    raise ValueError(
        "unsupported container (JPEG/PNG/MP3/... need external codec "
        "libraries not present in this environment)"
    )


def encode_y4m(width: int, height: int, frame_values: list[int], fps: int = 25) -> bytes:
    """Minimal YUV4MPEG2 (y4m) writer: C444, one constant value per frame."""
    hdr = f"YUV4MPEG2 W{width} H{height} F{fps}:1 Ip A1:1 C444\n".encode()
    frames = b"".join(
        b"FRAME\n" + bytes([v % 256] * (3 * width * height)) for v in frame_values
    )
    return hdr + frames


VIDEO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("fps", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("sampled_mean", DoubleType()),
    ]
)


def decode_y4m(blob: bytes, frame_stride: int = 1) -> dict:
    """REAL y4m parse: stream header tokens, then frame-sample every
    ``frame_stride``-th frame (the pipeline's frame-sampling primitive —
    only sampled frames' planes are touched).
    """
    nl = blob.index(b"\n")
    header = blob[:nl].decode()
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a y4m stream")
    width = height = fps_num = fps_den = 0
    colorspace = "C420"
    for tok in header.split()[1:]:
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            fps_num, fps_den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            colorspace = tok
    if colorspace != "C444":
        raise ValueError(f"unsupported y4m colorspace {colorspace}")
    frame_size = 3 * width * height
    pos, f, means = nl + 1, 0, []
    while pos < len(blob):
        fnl = blob.index(b"\n", pos)
        if blob[pos:fnl].split()[0] != b"FRAME":
            raise ValueError("malformed y4m frame header")
        body = blob[fnl + 1 : fnl + 1 + frame_size]
        if f % frame_stride == 0:
            means.append(sum(body) / frame_size)
        pos = fnl + 1 + frame_size
        f += 1
    return {
        "container": "y4m",
        "width": width,
        "height": height,
        "fps": fps_num // fps_den,
        "n_frames": f,
        "n_sampled": len(means),
        "duration_s": f * fps_den / fps_num if fps_num else 0.0,
        "sampled_mean": sum(means) / len(means) if means else 0.0,
    }


def _map_rows(df: DataFrame, schema: StructType, fn: Callable) -> DataFrame:
    """``fn(row) -> dict`` over every row of ``df`` (a namedtuple of its
    columns) as one Arrow-batched mapInPandas stage with output ``schema``."""
    names = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [fn(r) for r in pdf.itertuples(index=False)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)


def documents_as_video(documents: DataFrame) -> DataFrame:
    """Synthesize y4m blobs from document columns (Arrow-batched): 8x4 C444,
    least(n_chars, 32) frames, frame f filled with (doc_id%128)+f — every
    decoded property is predictable from (doc_id, n_chars)."""

    def video(r) -> dict:
        mid, n_chars = int(r.doc_id), int(r.n_chars)
        n_frames = max(min(n_chars, 32), 1)
        blob = encode_y4m(8, 4, [(mid % 128) + f for f in range(n_frames)])
        return {"media_id": mid, "kind": "video", "blob": blob, "source": "synth"}

    return _map_rows(documents.select("doc_id", "n_chars"), MEDIA_SCHEMA, video)


def sample_video_frames(media: DataFrame, frame_stride: int = 4) -> DataFrame:
    """Arrow-batched y4m decode + frame sampling."""

    def sample(r) -> dict:
        d = decode_y4m(bytes(r.blob), frame_stride=frame_stride)
        return {"media_id": int(r.media_id), **d}

    return _map_rows(media, VIDEO_SCHEMA, sample)


def documents_as_real_media(documents: DataFrame) -> DataFrame:
    """Synthesize REAL containers from document columns (Arrow-batched).

    Deterministic payloads derived from fixture columns, so an oracle can
    predict every decoded property from (doc_id, n_chars) without parsing:
    WAV with n_chars PCM frames of constant value doc_id%128 at 8 kHz, or a
    PPM/BMP of width min(n_chars,64) x 8 filled with doc_id%256.
    """

    def media(r) -> dict:
        mid, n_chars = int(r.doc_id), int(r.n_chars)
        if mid % 3 == 0:
            blob, kind = encode_wav_pcm16([mid % 128] * n_chars), "audio"
        elif mid % 3 == 1:
            blob, kind = encode_ppm(min(n_chars, 64), 8, mid % 256), "image"
        else:
            blob, kind = encode_bmp(min(n_chars, 64), 8, mid % 256), "image"
        return {"media_id": mid, "kind": kind, "blob": blob, "source": "synth"}

    return _map_rows(documents.select("doc_id", "n_chars"), MEDIA_SCHEMA, media)


def decode_real_media(media: DataFrame) -> DataFrame:
    """Arrow-batched real decode: blobs -> typed media properties."""

    def decode(r) -> dict:
        return {"media_id": int(r.media_id), **decode_media(bytes(r.blob))}

    return _map_rows(media, DECODED_SCHEMA, decode)


def _fake_decode(blob: bytes) -> dict:
    """Deterministic byte-stats 'decoder' exercising the full data path."""
    if not blob:
        return {"n_bytes": 0, "byte_mean": 0.0, "byte_entropy_proxy": 0.0, "header_hex": ""}
    n = len(blob)
    mean = sum(blob) / n
    distinct = len(set(blob))
    # No rounding: sum-of-ints / n and distinct/256 are computed identically
    # in any engine (exact integer sums, one double division) — and rounding
    # half-even vs half-away diverges exactly on the dyadic boundaries these
    # ratios love to hit (e.g. 18/256 = 0.0703125).
    return {
        "n_bytes": n,
        "byte_mean": mean,
        "byte_entropy_proxy": distinct / 256.0,
        "header_hex": blob[:8].hex(),
    }


def extract_features(media: DataFrame, codec: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction over a media DataFrame.

    mapInPandas contract: an iterator of input pandas batches -> iterator of
    output batches; Spark handles partition parallelism and Arrow transfer.
    """

    decoders = {"image": decode_image, "audio": decode_audio, "video": decode_audio}

    def features(r) -> dict:
        d = decoders.get(r.kind, decode_image)(bytes(r.blob or b""), codec=codec)
        return {"media_id": r.media_id, "kind": r.kind, "source": r.source, **d}

    return _map_rows(media, FEATURE_SCHEMA, features)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Demo media table: document text bytes as opaque blobs (fixture has no
    real media; the blob column is genuinely binary so the pipeline is
    schema-faithful)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").cast(BinaryType()).alias("blob"),
        F.col("source"),
    )


def encode_ppm_gradient(width: int, height: int) -> bytes:
    """P6 PPM with a horizontal gradient: pixel value = x*255 // (width-1)."""
    row = b"".join(bytes([(x * 255) // (width - 1)] * 3) for x in range(width))
    return f"P6\n{width} {height}\n255\n".encode() + row * height


def resize_ppm(blob: bytes, new_w: int, new_h: int) -> bytes:
    """REAL nearest-neighbor resize of a P6 PPM (the pipeline's thumbnail
    primitive): parse the header, sample src pixel (x*w//new_w, y*h//new_h)
    per target pixel, re-emit a P6 container."""
    parts = blob.split(maxsplit=4)
    w, h = int(parts[1]), int(parts[2])
    pixels = blob[-w * h * 3 :]
    out = bytearray(f"P6\n{new_w} {new_h}\n255\n".encode())
    for y in range(new_h):
        sy = y * h // new_h
        for x in range(new_w):
            sx = x * w // new_w
            off = (sy * w + sx) * 3
            out += pixels[off : off + 3]
    return bytes(out)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("orig_width", LongType()),
        StructField("orig_height", LongType()),
        StructField("new_width", LongType()),
        StructField("new_height", LongType()),
        StructField("mean_after", DoubleType()),
    ]
)


def resize_table(documents: DataFrame, new_w: int = 3, new_h: int = 2) -> DataFrame:
    """Gradient PPMs (width varies per doc) -> real NN resize -> re-decode.

    The full byte path runs for real: encode a gradient P6, resize_ppm
    parses + samples + re-emits, decode_media parses the result. The oracle
    predicts mean_after from the NN sampling arithmetic alone, so a bug in
    any of the three stages surfaces as a value mismatch.
    """

    def resize(r) -> dict:
        mid = int(r.doc_id)
        blob = encode_ppm_gradient(4 + mid % 5, 4)
        orig = decode_media(blob)
        resized = decode_media(resize_ppm(blob, new_w, new_h))
        return {
            "media_id": mid,
            "orig_width": orig["width"],
            "orig_height": orig["height"],
            "new_width": resized["width"],
            "new_height": resized["height"],
            "mean_after": round(resized["mean_value"], 6),
        }

    return _map_rows(documents.select("doc_id"), RESIZE_SCHEMA, resize)
