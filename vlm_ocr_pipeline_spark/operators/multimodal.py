"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Decode is REAL for the two lossless image containers that need no
codec library (:func:`stdlib_pixel_decoder`): PNG (zlib + predictors,
functions/png_codec.py) and GIF incl. animations (LZW + compositing,
functions/gif_codec.py — which also makes :func:`sample_frames` real
via :func:`stdlib_frame_extractor`).  JPEG gets real header dimensions
(:func:`header_decoder`); JPEG pixels and audio/video remain behind
``decode_fn`` injection — the ``real_*`` defaults raise
NotImplementedError, which surfaces as a 'stubbed:no_codec' status
row, and the ``deterministic_fake_*`` stand-ins give seeded outputs so
the Spark-side plumbing (schema, partitioning, mapInPandas batch
shape, feature vector layout) is tested end-to-end either way.

Design for 100 TB: binary payloads never leave the scan until the
decode stage; metadata-only queries (count, size histograms, format
mix) touch ONLY the typed columns via parquet column pruning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),      # image | audio | video
        T.StructField("format", T.StringType()),    # sniffed container
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("status", T.StringType()),
    ]
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"RIFF": "riff",  # wav/avi
    b"OggS": "ogg",
    b"\x00\x00\x00\x18ftyp": "mp4",
    b"ID3": "mp3",
}


def sniff_format(payload: bytes | None) -> str:
    if not payload:
        return "empty"
    for magic, name in _MAGIC.items():
        if payload[: len(magic)] == magic:
            return name
    return "unknown"


def parse_image_dimensions(payload: bytes | None) -> tuple[int, int] | None:
    """(width, height) from PNG IHDR / JPEG SOF / GIF headers — a pure
    header scan, NO pixel decode and no codec library, so it runs in
    this container on real image bytes.  Returns None when the payload
    is not a recognized image or the header is truncated/corrupt.

    - PNG: the IHDR chunk is mandatory and first (offset 16: width,
      height as big-endian u32).
    - JPEG: walk the marker segments to the first SOF frame header
      (C0-CF minus C4/C8/CC), which carries height then width as
      big-endian u16; stops at SOS (entropy-coded data follows).
    - GIF: logical screen width/height, little-endian u16 at offset 6.
    """
    if not payload:
        return None
    p = bytes(payload)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        if len(p) >= 24 and p[12:16] == b"IHDR":
            return (
                int.from_bytes(p[16:20], "big"),
                int.from_bytes(p[20:24], "big"),
            )
        return None
    if p[:2] == b"\xff\xd8":
        i, n = 2, len(p)
        while i + 4 <= n:
            if p[i] != 0xFF:
                return None  # desynced marker stream
            marker = p[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seglen = int.from_bytes(p[i + 2 : i + 4], "big")
            if seglen < 2:
                return None
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= n:
                    return (
                        int.from_bytes(p[i + 7 : i + 9], "big"),   # width
                        int.from_bytes(p[i + 5 : i + 7], "big"),   # height
                    )
                return None
            if marker == 0xDA:  # SOS — no SOF seen before image data
                return None
            i += 2 + seglen
        return None
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        return (
            int.from_bytes(p[6:8], "little"),
            int.from_bytes(p[8:10], "little"),
        )
    return None


def header_decoder(kind: str, payload: bytes) -> dict:
    """Codec-free decoder for :func:`extract_media_features`: REAL
    width/height from the image file header (see
    :func:`parse_image_dimensions`), no pixel features (``features``
    stays null — that step still needs a codec).  Non-image payloads
    and unparseable headers raise NotImplementedError so they surface
    as 'stubbed:no_codec' status rows, same as :func:`real_decoder`."""
    dims = parse_image_dimensions(payload)
    if dims is None:
        raise NotImplementedError(
            f"kind={kind!r}: not a parseable PNG/JPEG/GIF header; pixel "
            "decode needs an injected codec decode_fn"
        )
    return {"width": dims[0], "height": dims[1], "n_frames": 1, "features": None}


def stdlib_pixel_decoder(kind: str, payload: bytes) -> dict:
    """REAL decode for the codec-free containers — no library needed:

    - PNG (zlib + byte predictors, functions/png_codec.py): true dims
      + 16-dim pixel-stat features (per-channel mean/std + luminance
      histogram).
    - GIF (LZW + compositing, functions/gif_codec.py): logical-screen
      dims, exact ``n_frames`` (block walk — only the first frame pays
      LZW decode), features from the first composited frame's RGB.

    Everything else goes to :func:`header_decoder`: real JPEG header
    dims with null features, and a 'stubbed:no_codec' status row for
    non-image payloads."""
    p = bytes(payload)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        from ..functions.png_codec import decode_png, pixel_features

        arr = decode_png(p)  # ValueError -> failed:*, 16-bit -> stubbed
        return {
            "width": int(arr.shape[1]),
            "height": int(arr.shape[0]),
            "n_frames": 1,
            "features": pixel_features(arr),
        }
    if p[:6] in (b"GIF87a", b"GIF89a"):
        from ..functions.gif_codec import decode_gif
        from ..functions.png_codec import pixel_features

        d = decode_gif(p, max_decode_frames=1)
        return {
            "width": d["width"],
            "height": d["height"],
            "n_frames": min(d["n_frames"], 2**31 - 1),
            "features": pixel_features(d["frames"][0][:, :, :3]),
        }
    return header_decoder(kind, payload)


def stdlib_png_resizer(kind: str, payload: bytes, width: int, height: int) -> bytes:
    """REAL resize for PNG and (first-frame) GIF payloads: decode (pure
    stdlib), box-average (nearest when dims don't divide), re-encode as
    PNG — the thumbnail normal form, so downstream stages see one
    format.  Other formats raise NotImplementedError -> status row."""
    from ..functions.png_codec import decode_png, encode_png, resize_box

    p = bytes(payload)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return encode_png(resize_box(decode_png(p), width, height))
    if p[:6] in (b"GIF87a", b"GIF89a"):
        from ..functions.gif_codec import decode_gif

        frame = decode_gif(p, max_decode_frames=1)["frames"][0]
        return encode_png(resize_box(frame, width, height))
    raise NotImplementedError(
        f"stdlib resizer handles PNG/GIF only (got kind={kind!r}); "
        "inject resize_fn for other formats"
    )


def stdlib_frame_extractor(kind: str, payload: bytes) -> list[bytes]:
    """REAL frame extraction for animated GIFs: every composited frame
    re-encoded as a standalone PNG (lossless — GIF pixels are palette
    exact), so :func:`sample_frames` yields self-contained per-frame
    payloads on actual bytes.  A PNG payload is its own single frame;
    other formats raise NotImplementedError -> status row."""
    p = bytes(payload)
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return [p]
    if p[:6] in (b"GIF87a", b"GIF89a"):
        from ..functions.gif_codec import decode_gif
        from ..functions.png_codec import encode_png

        return [encode_png(f) for f in decode_gif(p)["frames"]]
    raise NotImplementedError(
        f"stdlib frame extractor handles GIF/PNG only (got kind={kind!r})"
    )


def real_decoder(kind: str, payload: bytes) -> dict:
    """Placeholder for a codec-backed decoder for formats the stdlib
    path can't decode (JPEG pixels, audio, video).  Plug a decode_fn
    with the same signature (e.g. wrapping PIL / av / soundfile) into
    :func:`extract_media_features`.  PNG and GIF need no injection —
    use :func:`stdlib_pixel_decoder`.
    """
    raise NotImplementedError(
        f"no codec available for kind={kind!r}; inject decode_fn "
        "(e.g. PIL.Image.open / av.open) on a cluster with codecs"
    )


def deterministic_fake_decoder(kind: str, payload: bytes) -> dict:
    """Stand-in decoder: geometry + a 16-dim feature vector derived from
    sha256 of the payload's lowercase-hex encoding (stable across
    runs/partitions AND expressible in ANSI SQL, so the DuckDB oracle
    can recompute it: sha256(lower(hex(payload))) + hex-slice math).

    Feature j = int(digest_hex[4j:4j+4], 16) / 65536 — a dyadic
    rational with <= 16 mantissa bits, so float32 == float64 exactly
    and round-trips through 65536 * v back to the integer.
    """
    digest_hex = hashlib.sha256(payload.hex().encode("ascii")).hexdigest()
    byte_at = lambda k: int(digest_hex[2 * k : 2 * k + 2], 16)  # noqa: E731
    features = [
        np.float32(int(digest_hex[4 * j : 4 * j + 4], 16) / 65536.0)
        for j in range(16)
    ]
    return {
        "width": 64 + byte_at(8) % 192,
        "height": 64 + byte_at(9) % 192,
        "n_frames": 1 if kind == "image" else 1 + byte_at(10) % 32,
        "features": features,
    }


def extract_media_features(
    media: DataFrame,
    decode_fn: Callable[[str, bytes], dict] = real_decoder,
    batch_size_hint: int = 64,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas.

    The generator shape mirrors the extraction stages: per-partition
    init (decoder tables), per-row decode inside the Arrow batch,
    failures as status rows.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    d = decode_fn(kind, payload)
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": d.get("width"),
                            "height": d.get("height"),
                            "n_frames": d.get("n_frames"),
                            "features": d.get("features"),
                            "status": "decoded",
                        }
                    )
                except NotImplementedError as e:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "features": None,
                            "status": "stubbed:no_codec",
                        }
                    )
                except Exception as e:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "features": None,
                            "status": f"failed:{type(e).__name__}",
                        }
                    )
            yield pd.DataFrame(rows)

    src = media.select("media_id", "kind", "payload")
    return src.mapInPandas(gen, schema=FEATURE_SCHEMA)


def media_metadata_summary(media: DataFrame) -> DataFrame:
    """Metadata-only rollup — never touches the payload column, so the
    parquet scan prunes it (check ReadSchema in .explain)."""
    return media.groupBy("kind", "format").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg("n_bytes").alias("avg_bytes"),
    )


def synth_media(spark, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic fake media table exercising the plumbing."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        magics = [b"\x89PNG\r\n", b"\xff\xd8\xff\xe0junk", b"RIFFxxxxWAVE",
                  b"OggS\x00junk", b"ID3\x03payload"]
        kinds = ["image", "image", "audio", "audio", "audio"]
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                payload = magics[i % 5] + hashlib.md5(str(i).encode()).digest() * 4
                rows.append(
                    {
                        "media_id": i,
                        "kind": kinds[i % 5],
                        "format": sniff_format(payload),
                        "payload": payload,
                        "n_bytes": len(payload),
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---- resize + frame sampling (same stub-decoder contract) -----------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("status", T.StringType()),
    ]
)


def real_resizer(kind: str, payload: bytes, width: int, height: int) -> bytes:
    """Placeholder for a codec-backed resizer (PIL.Image.resize /
    ffmpeg scale) — none ships with the package; inject resize_fn."""
    raise NotImplementedError(
        f"no codec available to resize kind={kind!r}; inject resize_fn"
    )


def deterministic_fake_resizer(
    kind: str, payload: bytes, width: int, height: int
) -> bytes:
    """Stand-in resizer: a payload whose bytes derive from
    sha256(payload || dims) repeated to ~width*height/64 bytes — stable
    across runs and proportional to the target area, so size-based
    assertions exercise the real plumbing."""
    seed = hashlib.sha256(payload + f":{width}x{height}".encode()).digest()
    size = max(32, width * height // 64)
    return (seed * (size // len(seed) + 1))[:size]


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    resize_fn: Callable[[str, bytes, int, int], bytes] = real_resizer,
) -> DataFrame:
    """Batch resize via mapInPandas: one Arrow batch of payloads in,
    one batch of resized payloads out; failures become status rows
    (the stage never aborts a 100 TB job on one corrupt file)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    out = resize_fn(kind, bytes(payload), width, height)
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": width,
                            "height": height,
                            "payload": out,
                            "n_bytes": len(out),
                            "status": "resized",
                        }
                    )
                except NotImplementedError:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": None,
                            "height": None,
                            "payload": None,
                            "n_bytes": None,
                            "status": "stubbed:no_codec",
                        }
                    )
                except Exception as e:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "width": None,
                            "height": None,
                            "payload": None,
                            "n_bytes": None,
                            "status": f"failed:{type(e).__name__}",
                        }
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=RESIZED_SCHEMA
    )


def real_frame_extractor(kind: str, payload: bytes) -> list[bytes]:
    """Placeholder for a codec-backed frame extractor (av/ffmpeg) —
    none ships with the package; inject frame_fn."""
    raise NotImplementedError(
        f"no codec available to extract frames from kind={kind!r}"
    )


def deterministic_fake_frame_extractor(kind: str, payload: bytes) -> list[bytes]:
    """Stand-in: n_frames from the fake decoder's rule, each frame's
    bytes = sha256(payload || frame index) — stable, distinct per
    frame."""
    d = deterministic_fake_decoder(kind, payload)
    return [
        hashlib.sha256(payload + f":f{i}".encode()).digest()
        for i in range(d["n_frames"])
    ]


def sample_frames(
    media: DataFrame,
    every_k: int = 4,
    frame_fn: Callable[[str, bytes], list] = real_frame_extractor,
) -> DataFrame:
    """Frame sampling for video columns: decode each payload's frame
    list inside the Arrow batch, emit every ``every_k``-th frame as its
    own row (the row explosion happens INSIDE mapInPandas — no
    intermediate array column ever materializes a whole video in one
    row, which is what breaks at 100 TB with long clips)."""
    if every_k < 1:
        raise ValueError("every_k must be >= 1")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    frames = frame_fn(kind, bytes(payload))
                    for i in range(0, len(frames), every_k):
                        rows.append(
                            {
                                "media_id": int(mid),
                                "frame_idx": i,
                                "payload": frames[i],
                                "status": "sampled",
                            }
                        )
                except NotImplementedError:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": None,
                            "payload": None,
                            "status": "stubbed:no_codec",
                        }
                    )
                except Exception as e:
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": None,
                            "payload": None,
                            "status": f"failed:{type(e).__name__}",
                        }
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=FRAME_SCHEMA
    )
