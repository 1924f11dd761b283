"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decoder tiers:

- ``decoder="fake"`` — deterministic md5-seeded pseudo-decode: the full
  Spark pipeline (schema, partition sizing, Arrow batch shape, UDF
  signature) is real and testable with zero media libraries.
- ``decoder="real"`` — actual decode where the container allows it:
  images via Pillow when installed; audio via a LIBRARY-FREE PCM WAV
  parser (stdlib ``wave`` + numpy FFT band energies); video via
  LIBRARY-FREE AVI (RIFF) and MP4 (ISO BMFF sample tables) demux —
  compressed audio codecs (mp3/ogg/flac) still raise
  ``NotImplementedError`` at the exact point a librosa/torchaudio call
  would slot in, as do mkv/webm and fragmented MP4 (ffmpeg).
- ``decoder="native"`` (images) — library-free pixel decode via pure
  numpy: uncompressed formats (netpbm P5/P6, 24-bit BMP), compressed
  PNG (stdlib ``zlib`` inflate + full scanline unfiltering — 8-bit
  gray/RGB/RGBA/gray-alpha/palette, all five filter types), and
  BASELINE JPEG (``jpeg.py``: Huffman entropy decode, dequantize, IDCT,
  4:2:0/4:2:2/4:4:4 chroma upsample, restart markers).  Interlaced/
  16-bit PNG, progressive JPEG, and WebP/TIFF/GIF remain the Pillow
  boundary.

Scale notes: media payloads are large, so batch size is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` and partitions should be
sized by BYTES (``repartition_for_media``), not row count — 10k rows of
4 MB images is 40 GB in one task otherwise.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._pairs import same_key_pairs

__all__ = [
    "ASPECT_BUCKETS",
    "aspect_buckets",
    "MEDIA_META_SCHEMA",
    "attach_media_meta",
    "repartition_for_media",
    "encode_png_rgb8",
    "decode_image_features",
    "image_dhash",
    "dhash_pairs",
    "resize_images",
    "extract_audio_features",
    "sample_video_frames",
    "video_dhash",
    "video_near_dup_pairs",
    "audio_fingerprint",
    "dhash_join",
    "dhash_dedup_against",
    "video_scenes",
    "audio_segments",
    "scene_keyframes",
]

#: Typed metadata struct carried beside the binary payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)


def attach_media_meta(
    df: DataFrame, binary_col: str = "payload", mime: str = "application/octet-stream"
) -> DataFrame:
    """Add a typed ``media_meta`` struct (size from the payload; other
    fields null until a decoder fills them)."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(binary_col)).cast("long").alias("size_bytes"),
        ),
    )


def repartition_for_media(
    df: DataFrame, binary_col: str = "payload", target_bytes_per_partition: int = 256 << 20
) -> DataFrame:
    """Repartition by PAYLOAD BYTES, not rows — the knob that keeps media
    tasks memory-bounded at 100 TB."""
    total = df.select(F.sum(F.length(F.col(binary_col))).alias("b")).first()["b"] or 0
    parts = max(1, int(total / target_bytes_per_partition) + 1)
    return df.repartition(parts)


def _real_image_decode(payload: bytes, dim: int) -> list[float]:
    """Actual pixel decode via Pillow: grayscale thumbnail grid, flattened
    to ``dim`` [0,1] floats.  Import is deferred so the fake path never
    needs the library."""
    import io
    import math

    import numpy as np
    from PIL import Image

    g = max(1, math.isqrt(dim - 1) + 1)  # smallest grid covering dim
    img = Image.open(io.BytesIO(payload)).convert("L").resize((g, g))
    arr = (np.asarray(img, dtype=np.float32) / 255.0).reshape(-1)[:dim]
    if arr.size < dim:
        arr = np.pad(arr, (0, dim - arr.size))
    return [float(x) for x in arr]


#: PNG color type → samples per pixel (before palette expansion).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png_rgb8(arr, filters=None) -> bytes:
    """Minimal PNG encoder (8-bit RGB, non-interlaced) used to build
    deterministic compressed-image fixtures for tests and oracle queries.
    ``arr`` is a (h, w, 3) uint8 array; ``filters`` optionally cycles
    scanline filter types 0-4 so decode tests exercise real unfiltering
    (Sub/Up/Average/Paeth), not just filter-None streams."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_png_rgb8 expects a (h, w, 3) uint8 array")
    h, w, ch = a.shape
    filters = list(filters) if filters else [0]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        cur = a[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        line = np.zeros(w * ch, np.int32)
        for x in range(w * ch):
            left = int(cur[x - ch]) if x >= ch else 0
            up = int(prev[x])
            ul = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            elif f == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (
                    left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                )
            else:
                raise ValueError(f"unknown PNG filter type {f}")
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw += bytes(line.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _png_pixels_raw(payload: bytes):
    """REAL compressed-image decode with zero imaging libraries: parse the
    PNG chunk stream, inflate IDAT with stdlib ``zlib``, and undo the five
    scanline filters (None/Sub/Up/Average/Paeth) per the PNG spec.

    Supports bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), non-interlaced.  16-bit samples, sub-byte
    palette depths, and Adam7 interlacing raise ``NotImplementedError`` —
    that is the genuine Pillow boundary.  Returns a 2-D float grayscale
    Returns (px, color_type) where px is the
    palette-expanded uint8 raster (h, w, ch).
    """
    import struct
    import zlib

    import numpy as np

    if len(payload) < 33 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG byte stream")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise NotImplementedError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # length + type + data + crc
    if ihdr is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError(
            "native PNG decode supports bit depth 8 / standard compression; "
            "16-bit or exotic streams need Pillow (decoder='real')"
        )
    if interlace != 0:
        raise NotImplementedError(
            "Adam7-interlaced PNG needs Pillow (decoder='real')"
        )
    if color not in _PNG_CHANNELS or w <= 0 or h <= 0:
        raise NotImplementedError(f"unsupported PNG color type {color}")
    ch = _PNG_CHANNELS[color]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise NotImplementedError("corrupt PNG IDAT stream") from e
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise NotImplementedError("PNG raster shorter than IHDR claims")
    lines = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(
        h, stride + 1
    )
    filters = lines[:, 0]
    # unfilter per spec (a=left, b=up, c=upper-left, distance = one pixel
    # = ch bytes).  Up/None rows vectorize; Sub/Average/Paeth carry a
    # left-to-right dependency, so those walk pixels — test images are
    # small and at scale each file decodes independently inside an Arrow
    # batch, so the per-file loop is bounded by image width.
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(filters[y])
        cur = lines[y, 1:].astype(np.int32)
        up = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            row = cur
        elif f == 2:
            row = (cur + up) & 0xFF
        elif f in (1, 3, 4):
            row = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(row[x - ch]) if x >= ch else 0
                b = int(up[x])
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:  # Paeth
                    c = int(out[y - 1, x - ch]) if (x >= ch and y > 0) else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise NotImplementedError(f"unknown PNG filter type {f}")
        out[y] = row.astype(np.uint8)
    px = out.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise NotImplementedError("palette PNG missing PLTE chunk")
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise NotImplementedError("PNG palette index out of range")
        px = plte[idx]  # (h, w, 3)
        ch = 3
    return px, color


def _png_pixels(payload: bytes):
    """Grayscale [0,1] view of a PNG (RGB averaged; alpha ignored) — the
    :func:`_native_pixels` contract."""
    import numpy as np

    px, color = _png_pixels_raw(payload)
    arr = px.astype(np.float64) / 255.0
    if color in (0, 4):
        return arr[:, :, 0]  # gray (alpha ignored)
    return arr[:, :, :3].mean(axis=2)  # RGB / RGBA / palette-expanded


def _png_pixels_rgb(payload: bytes):
    """RGB [0,1] view of a PNG (gray replicated; alpha dropped)."""
    import numpy as np

    px, color = _png_pixels_raw(payload)
    arr = px.astype(np.float64) / 255.0
    if color in (0, 4):
        return np.repeat(arr[:, :, :1], 3, axis=2)
    return arr[:, :, :3]


def _netpbm_raw(payload: bytes):
    """netpbm P5/P6 raster as the RAW (h, w, ch) uint8 array + maxval —
    the exact-integer tier :func:`image_dhash` hashes on."""
    import numpy as np

    # netpbm: magic, whitespace/comment-separated width height maxval,
    # ONE whitespace byte, then the raw raster
    toks: list[bytes] = []
    i = 2
    while len(toks) < 3 and i < len(payload):
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j > i:
            toks.append(payload[i:j])
        i = j
    try:
        w, h, maxval = (int(t) for t in toks)
    except ValueError as e:
        raise NotImplementedError(
            "malformed netpbm header (truncated or non-numeric)"
        ) from e
    if not (0 < maxval <= 255) or w <= 0 or h <= 0:
        # maxval > 255 means 2-byte big-endian samples per the spec —
        # raise at the boundary rather than mis-decode as uint8
        raise NotImplementedError(
            "native netpbm decode supports 8-bit samples (maxval <= 255)"
        )
    i += 1  # the single whitespace after maxval
    ch = 1 if payload[:2] == b"P5" else 3
    if len(payload) - i < w * h * ch:
        raise NotImplementedError("netpbm raster shorter than header claims")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=i)
    return raster.reshape(h, w, ch), maxval


def _netpbm_arr(payload: bytes):
    """netpbm P5/P6 raster as (h, w, ch) float in [0,1] (divided by the
    header's maxval)."""
    import numpy as np

    raster, maxval = _netpbm_raw(payload)
    return raster.astype(np.float64) / float(maxval)


def _bmp_rows(payload: bytes):
    """24-bit BMP raster as top-down (h, w, 3) float in [0, 255]."""
    import struct

    import numpy as np

    try:
        data_off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
    except struct.error as e:
        raise NotImplementedError("truncated BMP header") from e
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            "native BMP decode supports 24-bit uncompressed only"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    if w <= 0 or h == 0 or len(payload) - data_off < row_bytes * h:
        raise NotImplementedError("BMP raster shorter than header claims")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows.astype(np.float64)


def _netpbm_rgb(payload: bytes):
    import numpy as np

    arr = _netpbm_arr(payload)
    return np.repeat(arr, 3, axis=2) if arr.shape[2] == 1 else arr


def _bmp_rgb(payload: bytes):
    # BMP stores BGR; the gray contract never noticed, color must flip
    return _bmp_rows(payload)[:, :, ::-1] / 255.0


def _native_pixels_rgb(payload: bytes):
    """Library-free COLOR decode: (h, w, 3) float in [0,1] for every
    format the native tier reads (PNG, baseline JPEG, netpbm, BMP) —
    the pixel source for :func:`resize_images` decoder="native"."""
    import numpy as np

    if payload is None or len(payload) < 4:
        raise NotImplementedError("payload too short to be a supported image")
    if payload[:4] == b"\x89PNG":
        return _png_pixels_rgb(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        arr = decode_jpeg(payload).astype(np.float64) / 255.0
        if arr.shape[2] == 1:
            return np.repeat(arr, 3, axis=2)
        return arr
    if payload[:4] == b"GIF8":
        from .gif import decode_gif

        return decode_gif(payload).astype(np.float64) / 255.0
    if payload[:2] in (b"P5", b"P6"):
        return _netpbm_rgb(payload)  # one decode; P5 gray replicates inside
    if payload[:2] == b"BM":
        return _bmp_rgb(payload)
    # unknown format: defer to the grayscale path's canonical boundary error
    _native_pixels(payload)
    raise NotImplementedError("unreachable: _native_pixels accepted a format "
                              "_native_pixels_rgb does not handle")


def _native_pixels(payload: bytes):
    """Library-free pixel decode: netpbm P5/P6 (binary gray/RGB), 24-bit
    uncompressed BMP, and compressed PNG (:func:`_png_pixels` — stdlib
    zlib inflate + scanline unfiltering).  Returns a 2-D float grayscale
    array in [0,1]; raises ``NotImplementedError`` for any other format
    (that is the Pillow/ffmpeg boundary)."""
    import numpy as np

    if payload is None or len(payload) < 4:
        raise NotImplementedError("payload too short to be a supported image")
    if payload[:4] == b"\x89PNG":
        return _png_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        arr = decode_jpeg(payload).astype(np.float64) / 255.0
        return arr[:, :, 0] if arr.shape[2] == 1 else arr.mean(axis=2)
    if payload[:4] == b"GIF8":
        from .gif import decode_gif

        arr = decode_gif(payload).astype(np.float64) / 255.0
        return arr.mean(axis=2)
    if payload[:2] in (b"P5", b"P6"):
        arr = _netpbm_arr(payload)
        ch = arr.shape[2]
        return arr.mean(axis=2) if ch == 3 else arr[:, :, 0] if arr.ndim == 3 else arr
    if payload[:2] == b"BM":
        return _bmp_rows(payload).mean(axis=2) / 255.0
    raise NotImplementedError(
        "native image decode supports netpbm P5/P6, 24-bit BMP, 8-bit "
        "non-interlaced PNG, baseline JPEG, and GIF; other formats "
        "(WebP, TIFF) need Pillow (decoder='real')"
    )


def _native_image_decode(payload: bytes, dim: int) -> list[float]:
    """Pixel decode without any imaging library: grayscale grid sampled
    from the native-decoded array, flattened to ``dim`` [0,1] floats —
    same output contract as :func:`_real_image_decode`."""
    import math

    import numpy as np

    arr = _native_pixels(payload)
    g = max(1, math.isqrt(dim - 1) + 1)
    ys = (np.arange(g) * arr.shape[0]) // g
    xs = (np.arange(g) * arr.shape[1]) // g
    grid = arr[np.ix_(ys, xs)].reshape(-1)[:dim]
    if grid.size < dim:
        grid = np.pad(grid, (0, dim - grid.size))
    return [float(x) for x in grid]


def _fake_image_decode(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real decode+embed: md5-seeded floats."""
    import hashlib

    out: list[float] = []
    seed = payload if payload is not None else b""
    h = hashlib.md5(seed).digest()
    for i in range(dim):
        j = i % len(h)
        out.append((h[j] + i) % 256 / 255.0)
    return out


def decode_image_features(
    df: DataFrame,
    binary_col: str = "payload",
    feature_dim: int = 16,
    decoder: str = "fake",
) -> DataFrame:
    """payload binary → ``features array<float>`` via Arrow-batched
    ``mapInPandas``.  The UDF boundary, output schema, and batch iteration
    are production-shaped; ``decoder="real"`` decodes pixels with Pillow
    when it is installed (checked eagerly on the driver, so a missing
    library fails fast with a clear error instead of mid-job);
    ``decoder="native"`` decodes netpbm P5/P6, 24-bit BMP, PNG,
    baseline JPEG, and GIF with pure numpy — REAL pixels, zero
    libraries — raising ``NotImplementedError`` for WebP/TIFF and
    non-baseline variants; ``decoder="fake"``
    runs the identical pipeline with a deterministic md5-seeded
    stand-in."""
    if decoder not in ("fake", "real", "native"):
        raise ValueError(f"unknown decoder {decoder!r}")
    if decoder == "real":
        try:
            import PIL  # noqa: F401  (driver-side availability probe)
        except ImportError as e:
            raise ImportError(
                "decode_image_features(decoder='real') requires Pillow; "
                "install it on driver and executors, use decoder='native' "
                "for library-free netpbm/BMP decode, or decoder='fake' "
                "for the deterministic stand-in"
            ) from e
    decode = {
        "real": _real_image_decode,
        "native": _native_image_decode,
        "fake": _fake_image_decode,
    }[decoder]

    out_schema = T.StructType(
        df.schema.fields + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )
    cols = df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["features"] = [
                decode(p, feature_dim) for p in pdf[binary_col]
            ]
            yield pdf[cols + ["features"]]

    return df.mapInPandas(batches, schema=out_schema)


def _real_image_resize(payload: bytes, w: int, h: int) -> bytes:
    """Actual resize via Pillow, re-encoded as PNG bytes."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload)).resize((w, h))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def _native_image_resize(payload: bytes, w: int, h: int) -> bytes:
    """REAL library-free resize: decode any native-tier format to RGB
    (:func:`_native_pixels_rgb`), nearest-neighbor resample to (w, h),
    re-encode as PNG with the in-repo encoder.  Raises
    ``NotImplementedError`` for formats outside the native tier — the
    same decode-correctly-or-raise contract as the feature decoder."""
    import numpy as np

    arr = _native_pixels_rgb(payload)
    sh, sw = arr.shape[:2]
    ys = (np.arange(h) * sh) // h
    xs = (np.arange(w) * sw) // w
    out = np.clip(np.round(arr[np.ix_(ys, xs)] * 255.0), 0, 255).astype(
        np.uint8
    )
    return encode_png_rgb8(out)


def _fake_image_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in: md5-keyed bytes sized like a tiny grayscale
    (w*h) buffer — same shape/nullability as the real path, no library."""
    import hashlib

    seed = payload if payload is not None else b""
    h0 = hashlib.md5(seed).digest()
    n = max(1, (w * h) // 16)
    return (h0 * (n // len(h0) + 1))[:n]


def resize_images(
    df: DataFrame,
    size: tuple[int, int] = (64, 64),
    binary_col: str = "payload",
    out_col: str = "payload_resized",
    decoder: str = "fake",
) -> DataFrame:
    """payload binary → resized payload binary + declared (width, height)
    columns, via the same Arrow-batched ``mapInPandas`` plumbing as
    :func:`decode_image_features` — the preprocessing step in front of a
    vision-model featurizer.  ``decoder="native"`` REALLY resizes with
    zero libraries (native-tier decode → nearest-neighbor resample →
    PNG re-encode); ``decoder="real"`` resizes with Pillow (probed
    eagerly driver-side); ``decoder="fake"`` runs the identical batch
    pipeline with a deterministic md5-keyed byte stub.  Pair with
    :func:`repartition_for_media` so tasks stay byte-bounded."""
    if decoder not in ("fake", "real", "native"):
        raise ValueError(f"unknown decoder {decoder!r}")
    if decoder == "real":
        try:
            import PIL  # noqa: F401
        except ImportError as e:
            raise ImportError(
                "resize_images(decoder='real') requires Pillow; use "
                "decoder='fake' for the deterministic stand-in"
            ) from e
    resize = {
        "real": _real_image_resize,
        "native": _native_image_resize,
        "fake": _fake_image_resize,
    }[decoder]
    w, h = int(size[0]), int(size[1])
    if w <= 0 or h <= 0:
        raise ValueError("size must be positive")

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(out_col, T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )
    cols = df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = [resize(p, w, h) for p in pdf[binary_col]]
            pdf["width"] = w
            pdf["height"] = h
            yield pdf[cols + [out_col, "width", "height"]]

    return df.mapInPandas(batches, schema=out_schema)


def _real_audio_features(
    payload: bytes, frame_ms: int, n_mels: int, max_frames: int = 1000
) -> list[list[float]]:
    """REAL audio feature extraction, zero external libraries: decode PCM
    WAV (stdlib ``wave``) or COMPRESSED FLAC (``flac.py`` — lossless, so
    the samples are bit-identical to the source PCM), mix to mono, frame
    at ``frame_ms``, and reduce each frame's power spectrum (numpy rFFT)
    to ``n_mels`` log-spaced band log-energies — a mel-style spectrogram
    shape.

    Lossy codecs (mp3/ogg/aac) remain the genuine library boundary and
    raise ``NotImplementedError`` where a librosa/torchaudio call would
    slot in."""
    import io
    import wave

    import numpy as np

    p = payload if payload is not None else b""
    if p[:4] == b"fLaC":
        from .flac import decode_flac

        samples, sr, _bps = decode_flac(p)
        x = samples.astype(np.float64).mean(axis=1)
        if len(x) == 0:
            return [[0.0] * n_mels]
    else:
        try:
            wf = wave.open(io.BytesIO(p))
            sr = wf.getframerate()
            nch = wf.getnchannels()
            sw = wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
        except (wave.Error, EOFError) as e:
            raise NotImplementedError(
                "real audio decode handles PCM WAV and FLAC natively; lossy "
                "codecs need librosa/torchaudio — plug the decode call here"
            ) from e
        if sw not in (1, 2, 4) or sr <= 0 or nch <= 0:
            raise NotImplementedError(
                "unsupported WAV shape (sample width/rate); compressed or "
                "exotic encodings need librosa/torchaudio"
            )
        dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[sw]
        x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        if sw == 1:
            x -= 128.0  # 8-bit WAV is unsigned
        if len(x) == 0:
            return [[0.0] * n_mels]
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    peak = np.abs(x).max()
    if peak > 0:
        x /= peak
    spf = max(1, int(sr * frame_ms / 1000))
    n_frames = min(max(1, len(x) // spf), max_frames)
    frames = np.zeros((n_frames, spf))
    usable = x[: n_frames * spf]
    frames.reshape(-1)[: usable.size] = usable
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    nbins = power.shape[1]
    edges = np.unique(
        np.round(np.geomspace(1, nbins, n_mels + 1)).astype(int)
    )
    sums = np.stack(
        [power[:, a:b].sum(axis=1) for a, b in zip(edges[:-1], edges[1:])],
        axis=1,
    )  # (n_frames, bands); short clips can collapse geomspace edges
    logs = np.log1p(sums)
    if logs.shape[1] < n_mels:
        logs = np.pad(logs, ((0, 0), (0, n_mels - logs.shape[1])))
    return [[float(v) for v in row[:n_mels]] for row in logs]


def extract_audio_features(
    df: DataFrame,
    binary_col: str = "payload",
    frame_ms: int = 25,
    n_mels: int = 8,
    decoder: str = "fake",
) -> DataFrame:
    """payload audio → per-clip mel-style feature matrix
    (``features array<array<float>>``, one row of ``n_mels`` floats per
    ``frame_ms`` frame) via Arrow-batched ``mapInPandas``.

    ``decoder="real"`` DECODES PCM WAV (stdlib ``wave``) and COMPRESSED
    FLAC (pure-Python lossless codec) natively — numpy FFT band
    energies, no audio library needed — and raises
    ``NotImplementedError`` for lossy codecs at the exact point a
    librosa/torchaudio call would slot in.  Fake decoder derives frame
    count from payload size (1 KB ≅ 1 s) and fills deterministic
    md5-seeded values."""
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField("features", T.ArrayType(T.ArrayType(T.FloatType())))]
    )
    cols = df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            feats = []
            for p in pdf[binary_col]:
                if decoder == "real":
                    feats.append(_real_audio_features(p, frame_ms, n_mels))
                    continue
                payload = p if p is not None else b""
                duration_ms = max(len(payload), 1)
                n_frames = max(1, duration_ms // frame_ms)
                h = hashlib.md5(payload).digest()
                feats.append(
                    [
                        [((h[(f + m) % len(h)] + f) % 256) / 255.0 for m in range(n_mels)]
                        for f in range(min(n_frames, 1000))
                    ]
                )
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf[cols + ["features"]]

    return df.mapInPandas(batches, schema=out_schema)


def _mp4_boxes(p: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for ISO-BMFF boxes in [start, end)."""
    import struct

    i = start
    while i + 8 <= end:
        (size,) = struct.unpack_from(">I", p, i)
        btype = p[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                raise NotImplementedError("mp4: truncated largesize box")
            (size,) = struct.unpack_from(">Q", p, i + 8)
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr or i + size > end:
            raise NotImplementedError("mp4: box overruns container")
        yield btype, i + hdr, i + size
        i += size


def _mp4_find(p: bytes, start: int, end: int, *path: bytes):
    """Body range of the first box at the given nested path, else None."""
    if not path:
        return (start, end)
    for btype, b, e in _mp4_boxes(p, start, end):
        if btype == path[0]:
            return _mp4_find(p, b, e, *path[1:])
    return None


def _mp4_video_frames(
    p: bytes, every_ms: int
) -> list[tuple[int, int, bytes]]:
    """REAL MP4 (ISO BMFF) video demux, zero libraries: find the 'vide'
    track, rebuild per-sample (timestamp, offset, size) from the stbl
    tables (stts deltas, stsz sizes, stsc sample→chunk runs, stco/co64
    chunk offsets), and emit each stored sample's bytes (e.g. one H.264
    access unit) at the ``every_ms`` sampling cadence — no codec needed
    to demux.  Fragmented MP4 (moof) has no stbl sample map and raises."""
    import struct

    moov = _mp4_find(p, 0, len(p), b"moov")
    if moov is None:
        if _mp4_find(p, 0, len(p), b"moof") is not None:
            raise NotImplementedError(
                "fragmented MP4 (moof) needs ffmpeg — plug the call here"
            )
        raise NotImplementedError("mp4: no moov box")
    for btype, tb, te in _mp4_boxes(p, *moov):
        if btype != b"trak":
            continue
        mdia = _mp4_find(p, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_find(p, *mdia, b"hdlr")
        if hdlr is None or p[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _mp4_find(p, *mdia, b"mdhd")
        if mdhd is None or p[mdhd[0]] > 1:
            raise NotImplementedError("mp4: unknown mdhd version")
        # v0: 32-bit times (timescale at +12); v1: 64-bit (at +20)
        ts_off = 12 if p[mdhd[0]] == 0 else 20
        (timescale,) = struct.unpack_from(">I", p, mdhd[0] + ts_off)
        stbl = _mp4_find(p, *mdia, b"minf", b"stbl")
        if stbl is None:
            raise NotImplementedError("mp4: video track lacks stbl")
        tabs = {}
        for bt, bb, be in _mp4_boxes(p, *stbl):
            tabs[bt] = (bb, be)
        for need in (b"stts", b"stsz", b"stsc"):
            if need not in tabs:
                raise NotImplementedError(f"mp4: missing {need.decode()}")
        if b"stco" not in tabs and b"co64" not in tabs:
            raise NotImplementedError("mp4: missing chunk offsets")
        # stts → per-sample decode times (media units)
        b0 = tabs[b"stts"][0]
        (n_ent,) = struct.unpack_from(">I", p, b0 + 4)
        deltas: list[int] = []
        for i in range(n_ent):
            cnt, dlt = struct.unpack_from(">II", p, b0 + 8 + 8 * i)
            deltas.extend([dlt] * cnt)
        # stsz → sizes
        b0 = tabs[b"stsz"][0]
        uniform, n_samples = struct.unpack_from(">II", p, b0 + 4)
        if uniform:
            sizes = [uniform] * n_samples
        else:
            sizes = list(struct.unpack_from(f">{n_samples}I", p, b0 + 12))
        # stco/co64 → chunk offsets
        if b"stco" in tabs:
            b0 = tabs[b"stco"][0]
            (n_ch,) = struct.unpack_from(">I", p, b0 + 4)
            chunk_off = list(struct.unpack_from(f">{n_ch}I", p, b0 + 8))
        else:
            b0 = tabs[b"co64"][0]
            (n_ch,) = struct.unpack_from(">I", p, b0 + 4)
            chunk_off = list(struct.unpack_from(f">{n_ch}Q", p, b0 + 8))
        # stsc → samples per chunk (runs of (first_chunk, spc))
        b0 = tabs[b"stsc"][0]
        (n_runs,) = struct.unpack_from(">I", p, b0 + 4)
        runs = [
            struct.unpack_from(">III", p, b0 + 8 + 12 * i)[:2]
            for i in range(n_runs)
        ]
        spc = []
        for r, (first, count) in enumerate(runs):
            last = runs[r + 1][0] - 1 if r + 1 < len(runs) else n_ch
            spc.extend([count] * (last - first + 1))
        # walk chunks → absolute (offset, size) per sample
        out: list[tuple[int, int, bytes]] = []
        next_ts = 0.0
        t = 0
        s = 0
        for c, coff in enumerate(chunk_off):
            off = coff
            for _ in range(spc[c] if c < len(spc) else 0):
                if s >= n_samples:
                    break
                ts_ms = t * 1000.0 / max(timescale, 1)
                if ts_ms >= next_ts:
                    frame = p[off : off + sizes[s]]
                    if len(frame) < sizes[s]:
                        raise NotImplementedError(
                            "mp4: sample extends past payload"
                        )
                    out.append((len(out), int(ts_ms), frame))
                    # snap to the next cadence boundary AFTER this frame:
                    # a bare += every_ms never catches up across an stts
                    # gap and then emits a burst of consecutive frames
                    next_ts = (ts_ms // every_ms + 1) * every_ms
                off += sizes[s]
                t += deltas[s] if s < len(deltas) else 0
                s += 1
        return out
    raise NotImplementedError("mp4: no video ('vide') track found")


def _gif_video_frames(
    payload: bytes, every_ms: int
) -> list[tuple[int, int, bytes]]:
    """Animated GIF as a video source: composite every frame
    (:func:`~.gif.decode_gif_frames` — GIF89a disposal + transparency
    over the logical screen), timestamp by cumulative GCE delays, and
    emit sampled frames as exact-integer P6 netpbm bytes (the
    ``_native_pixels_int`` fast path — the composited RGB re-enters the
    dHash pipeline losslessly).  Same boundary-snap sampling as the AVI
    walk.  Zero-delay frames advance time by 0 ms, so only the first
    frame at a timestamp is sampled — consistent with "one frame per
    every_ms"."""
    from .gif import decode_gif_frames

    frames = decode_gif_frames(payload)
    out: list[tuple[int, int, bytes]] = []
    next_ts = 0.0
    ts_ms = 0.0
    for delay_ms, arr in frames:
        if ts_ms >= next_ts:
            h, w, _ = arr.shape
            p6 = b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()
            out.append((len(out), int(ts_ms), p6))
            next_ts = (ts_ms // every_ms + 1) * every_ms
        ts_ms += delay_ms
    return out


def _real_video_frames(
    payload: bytes, every_ms: int
) -> list[tuple[int, int, bytes]]:
    """REAL frame sampling, zero external libraries, three containers:
    AVI (RIFF chunk walk — ``hdrl``/``avih`` frame interval, ``movi``
    stream-0 chunks), MP4 (ISO BMFF sample tables —
    :func:`_mp4_video_frames`) and animated GIF (GIF89a compositing —
    :func:`_gif_video_frames`).  Emits every frame whose timestamp
    crosses the next ``every_ms`` boundary; frame BYTES are emitted as
    stored (a JPEG per frame in MJPEG, an H.264 access unit in MP4) — no
    codec needed to demux.  mkv/webm and fragmented MP4 are the genuine
    ffmpeg boundary and raise ``NotImplementedError``."""
    import struct

    p = payload if payload is not None else b""
    if len(p) >= 12 and p[4:8] in (b"ftyp", b"styp", b"moov", b"free", b"wide"):
        return _mp4_video_frames(p, every_ms)
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_video_frames(p, every_ms)
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        raise NotImplementedError(
            "real frame sampling handles AVI (RIFF), MP4 (ISO BMFF) and "
            "animated GIF natively; mkv/webm demux needs ffmpeg — plug "
            "the call here"
        )
    usec_per_frame = None
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal usec_per_frame
        i = start
        while i + 8 <= end:
            cid = p[i : i + 4]
            (sz,) = struct.unpack_from("<I", p, i + 4)
            body, nxt = i + 8, i + 8 + sz + (sz & 1)  # chunks are word-aligned
            if cid in (b"RIFF", b"LIST"):
                walk(body + 4, min(body + sz, end))  # skip the form type
            elif cid == b"avih" and sz >= 4:
                (usec_per_frame,) = struct.unpack_from("<I", p, body)
            elif cid in (b"00dc", b"00db"):
                frames.append(p[body : body + sz])
            i = nxt

    walk(12, len(p))
    if usec_per_frame is None or usec_per_frame <= 0:
        raise NotImplementedError(
            "AVI lacks a usable avih frame interval; irregular streams "
            "need ffmpeg"
        )
    out: list[tuple[int, int, bytes]] = []
    next_ts = 0.0
    for k, fr in enumerate(frames):
        ts_ms = k * usec_per_frame / 1000.0
        if ts_ms >= next_ts:
            out.append((len(out), int(ts_ms), fr))
            next_ts = (ts_ms // every_ms + 1) * every_ms  # boundary snap
    return out


def sample_video_frames(
    df: DataFrame,
    binary_col: str = "payload",
    every_ms: int = 1000,
    decoder: str = "fake",
    on_error: str = "raise",
) -> DataFrame:
    """payload → exploded (frame_idx, frame_ts_ms, frame binary) rows.

    ``decoder="real"`` DEMUXES AVI (RIFF chunk walking) and MP4 (ISO
    BMFF sample tables) natively — an MJPEG AVI yields one stored JPEG
    per sampled frame, an MP4 one stored access unit, no codec required
    — and raises ``NotImplementedError`` for mkv/webm and fragmented MP4
    at the exact point an ffmpeg call would slot in
    (``on_error="skip"`` quarantines such rows as zero frames instead —
    the corpus-sweep mode :func:`video_dhash` uses).  Fake decoder emits
    one pseudo-frame per ``every_ms`` of a pretend duration derived from
    the payload size (1 KB ≅ 1 s)."""
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")
    if on_error not in ("raise", "skip"):
        raise ValueError(f"unknown on_error {on_error!r}")

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    cols = df.columns

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                payload = r[binary_col] or b""
                if decoder == "real":
                    try:
                        demuxed = _real_video_frames(payload, every_ms)
                    except NotImplementedError:
                        if on_error == "skip":
                            continue  # quarantine row: contributes no frames
                        raise
                    for idx, ts, frame in demuxed:
                        rows.append(
                            {
                                **{c: r[c] for c in cols},
                                "frame_idx": idx,
                                "frame_ts_ms": ts,
                                "frame": frame,
                            }
                        )
                    continue
                duration_ms = max(len(payload), 1)
                for idx, ts in enumerate(range(0, duration_ms, every_ms)):
                    frame = hashlib.md5(payload + str(idx).encode()).digest()
                    rows.append({**{c: r[c] for c in cols}, "frame_idx": idx, "frame_ts_ms": ts, "frame": frame})
            yield pd.DataFrame(rows, columns=cols + ["frame_idx", "frame_ts_ms", "frame"])

    return df.mapInPandas(batches, schema=out_schema)


def _native_pixels_int(payload: bytes):
    """Integer grayscale for perceptual hashing: netpbm stays in EXACT
    raw integers (P5: the sample byte; P6: r+g+b — any monotone scale
    works for dHash's brighter-than comparisons); other formats quantize
    the float decode back to 0..255.  int64 (h, w)."""
    import numpy as np

    if payload is not None and len(payload) >= 2 and payload[:2] in (b"P5", b"P6"):
        raster, _ = _netpbm_raw(payload)
        return raster.astype(np.int64).sum(axis=2)
    arr = _native_pixels(payload)
    return np.floor(arr * 255.0 + 0.5).astype(np.int64)


def _dhash64(payload, gh: int, gw: int):
    """Shared per-image dHash kernel (see :func:`image_dhash` for the
    algorithm): exact integer integral-image block sums, cross-multiplied
    brighter-than bits, packed MSB-first into two unsigned-32-bit halves.
    Returns (hi, lo) or (None, None) for undecodable/empty payloads."""
    import numpy as np

    try:
        g = _native_pixels_int(payload)
    except NotImplementedError:
        return None, None
    h, w = g.shape
    if h == 0 or w == 0:
        return None, None
    ys = (np.arange(gh + 1) * h) // gh
    xs = (np.arange(gw + 1) * w) // gw
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(0).cumsum(1)
    s = ii[np.ix_(ys, xs)]
    sums = s[1:, 1:] - s[:-1, 1:] - s[1:, :-1] + s[:-1, :-1]
    ns = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    bits = (sums[:, :-1] * ns[:, 1:] > sums[:, 1:] * ns[:, :-1]).reshape(-1)
    hi = lo = 0
    for k in range(32):
        hi = (hi << 1) | int(bits[k])
        lo = (lo << 1) | int(bits[32 + k])
    return hi, lo


def image_dhash(
    df: DataFrame,
    image_col: str = "payload",
    id_col: str = "doc_id",
    grid: tuple = (8, 9),
) -> DataFrame:
    """64-bit difference hash (dHash) per image — the perceptual
    fingerprint web-scale image dedup races on (LAION-style pipelines
    phash/dhash every image; near-identical crops/re-encodes land within
    a few bits).  Library-free: the native decoders (netpbm/BMP/PNG/
    JPEG/GIF) feed an EXACT integer pipeline — integral-image block sums,
    brighter-than compared by integer cross-products
    ``sum_l·n_r > sum_r·n_l`` (no float averages, no ties from summation
    order), so the hash is reproducible bit-for-bit on any engine.

    Returns (id, dhash_hi, dhash_lo): the 64 row-major grid comparisons
    packed MSB-first into two unsigned-32-bit BIGINTs (two halves rather
    than one 64-bit value so no engine has to reason about sign bits).
    Undecodable payloads yield NULL halves (quarantine with one filter).

    Scale shape: one Arrow ``mapInPandas`` pass, hash state is 16 bytes a
    row; pair-finding is :func:`dhash_pairs`' banded chunk join — never
    an all-pairs scan."""
    import numpy as np

    gh, gw = grid
    if gh * (gw - 1) != 64:
        raise ValueError(
            f"grid must yield 64 comparisons (rows*(cols-1)), got {grid}"
        )

    def _one(payload) -> "tuple[int, int] | tuple[None, None]":
        return _dhash64(payload, gh, gw)

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("dhash_hi", T.LongType()),
            T.StructField("dhash_lo", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf.iloc[:, 0]
            pairs = [_one(p) for p in pdf.iloc[:, 1]]
            yield pd.DataFrame(
                {
                    "id": ids,
                    "dhash_hi": pd.array([p[0] for p in pairs], dtype="Int64"),
                    "dhash_lo": pd.array([p[1] for p in pairs], dtype="Int64"),
                }
            )

    return (
        repartition_for_media(df.select(F.col(id_col), F.col(image_col)))
        .mapInPandas(batches, schema=out_schema)
        .withColumnRenamed("id", id_col)
    )


def dhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs by dHash hamming distance ≤
    ``max_hamming`` — EXACT for ``max_hamming ≤ 3`` via the Manku
    (WWW'07) chunk trick: split the 64-bit hash into four 16-bit chunks;
    any pair within hamming 3 shares at least one identical chunk
    (pigeonhole), so four equi-joins on chunk values find every true
    pair and the exact ``bit_count(xor)`` filter discards the rest.
    Same machinery as :func:`~.dedup.simhash_pairs`, driven by pixel
    hashes instead of token hashes.

    Returns (id_a, id_b, hamming BIGINT), ``id_a < id_b``.

    Scale shape: only (chunk, id, hi, lo) rows shuffle — 4 rows of ~28 B
    per image; candidates are same-chunk-bucket only (never all-pairs),
    and the exact verify is two integer xors."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3] — the 4x16-bit chunk join only "
            "guarantees completeness through hamming 3 (pigeonhole); use "
            "more/smaller bands for a looser radius"
        )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(hi_col).alias("__hi"),
        F.col(lo_col).alias("__lo"),
    ).filter(F.col("__hi").isNotNull() & F.col("__lo").isNotNull())
    chunked = base.select(
        "__id",
        "__hi",
        "__lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(
                            F.col(c), 16 * (1 - (i % 2))
                        ).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i, c in enumerate(["__hi", "__hi", "__lo", "__lo"])
                ]
            )
        ).alias("__b"),
    ).select("__id", "__hi", "__lo", "__b.band", "__b.chunk")
    ham = (
        F.bit_count(F.col("__hi_a").bitwiseXOR(F.col("__hi_b")))
        + F.bit_count(F.col("__lo_a").bitwiseXOR(F.col("__lo_b")))
    ).cast("long")
    return (
        same_key_pairs(chunked, ["band", "chunk"], "__id", carry=["__hi", "__lo"])
        .select(
            F.col("id_a").alias(f"{id_col}_a"),
            F.col("id_b").alias(f"{id_col}_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """CROSS-TABLE near-dup pairs by dHash hamming ≤ ``max_hamming`` —
    the two-corpus sibling of :func:`dhash_pairs` (same Manku 4×16-bit
    chunk equi-join, complete through hamming 3 by pigeonhole), for
    batch-vs-store incremental dedup and cross-source duplication
    audits.  Returns (``{id}_left``, ``{id}_right``, hamming BIGINT) —
    every qualifying (left, right) pair once, NO id ordering (the
    sides are different tables).

    Scale shape: 4 chunk rows × ~28 B per hash on each side; only
    same-chunk candidates shuffle, the verify is two integer xors."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3] — the 4x16-bit chunk join only "
            "guarantees completeness through hamming 3 (pigeonhole)"
        )

    def _chunked(df):
        base = df.select(
            F.col(id_col).alias("__id"),
            F.col(hi_col).alias("__hi"),
            F.col(lo_col).alias("__lo"),
        ).filter(F.col("__hi").isNotNull() & F.col("__lo").isNotNull())
        return base.select(
            "__id",
            "__hi",
            "__lo",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftrightunsigned(
                                F.col(c), 16 * (1 - (i % 2))
                            ).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                        )
                        for i, c in enumerate(
                            ["__hi", "__hi", "__lo", "__lo"]
                        )
                    ]
                )
            ).alias("__b"),
        ).select("__id", "__hi", "__lo", "__b.band", "__b.chunk")

    a, b = _chunked(left).alias("a"), _chunked(right).alias("b")
    ham = (
        F.bit_count(F.col("a.__hi").bitwiseXOR(F.col("b.__hi")))
        + F.bit_count(F.col("a.__lo").bitwiseXOR(F.col("b.__lo")))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk")),
        )
        .select(
            F.col("a.__id").alias(f"{id_col}_left"),
            F.col("b.__id").alias(f"{id_col}_right"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dhash_dedup_against(
    new_hashes: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    update: bool = True,
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
) -> DataFrame:
    """INCREMENTAL perceptual-hash dedup: flag a new batch of image (or
    video-frame / audio) hashes against the STORED corpus hash table,
    then fold the batch into the store — the multimodal sibling of
    ``dedup.dedup_exact_against``: day-N ingest only ever joins 16-byte
    hashes against the store, never re-hashes or reshuffles the corpus
    media.

    Matches within the batch itself also flag (earliest id wins,
    mirroring keep-first semantics).  Returns per new row: (id_col,
    dhash_hi, dhash_lo, is_dup, best_match_id, best_hamming) where
    ``best_match_id`` is the lowest-(hamming, id) stored-or-earlier
    match; with ``update=True`` the batch rows (dups included — the
    store mirrors the corpus) are appended to the store via the atomic
    :func:`~..sources.manifest_publish`.

    First call bootstraps the store.  Store size: 20 B/item forever."""
    from ..sources import manifest_resolve, manifest_publish, read_store

    # hi_col/lo_col let the AUDIO tier (fp_hi/fp_lo) share the store
    # machinery; the store keeps the caller's column names.  EAGERLY
    # materialized: the hashes are consumed up to 5x below (store join,
    # within-batch self-join x2, output join, store merge) and the
    # upstream plan is typically a full media decode+hash pass.
    new_hashes = new_hashes.select(
        F.col(id_col), F.col(hi_col), F.col(lo_col)
    ).localCheckpoint(eager=True)
    exists = manifest_resolve(spark, store_path) is not None
    candidates = []
    if exists:
        stored = read_store(spark, store_path)
        candidates.append(
            dhash_join(
                new_hashes, stored, id_col,
                hi_col=hi_col, lo_col=lo_col, max_hamming=max_hamming,
            )
        )
    within = (
        dhash_pairs(new_hashes, id_col, hi_col=hi_col, lo_col=lo_col,
                    max_hamming=max_hamming)
        .select(
            F.col(f"{id_col}_b").alias(f"{id_col}_left"),
            F.col(f"{id_col}_a").alias(f"{id_col}_right"),
            "hamming",
        )
    )  # earlier (smaller) id is the keeper: later id flags as dup
    candidates.append(within)
    pairs = candidates[0]
    for c in candidates[1:]:
        pairs = pairs.unionByName(c)
    win = Window.partitionBy(f"{id_col}_left").orderBy(
        F.asc("hamming"), F.asc(f"{id_col}_right")
    )
    best = (
        pairs.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(f"{id_col}_left").alias(id_col),
            F.col(f"{id_col}_right").alias("best_match_id"),
            F.col("hamming").alias("best_hamming"),
        )
    )
    out = (
        new_hashes.join(best, id_col, "left")
        .withColumn("is_dup", F.col("best_match_id").isNotNull())
        .select(
            id_col,
            hi_col,
            lo_col,
            "is_dup",
            "best_match_id",
            "best_hamming",
        )
    )
    if update:
        from ..caching import materialize_release

        out = materialize_release(out)
        merged = (
            read_store(spark, store_path).unionByName(new_hashes)
            if exists
            else new_hashes
        )
        manifest_publish(
            spark,
            store_path,
            lambda p: merged.write.mode("overwrite").parquet(p),
        )
    return out


def video_dhash(
    df: DataFrame,
    video_col: str = "payload",
    id_col: str = "doc_id",
    every_ms: int = 1000,
    decoder: str = "real",
    grid: tuple = (8, 9),
) -> DataFrame:
    """Per-keyframe perceptual hashes for a video corpus — the video
    tier of the dHash family (E177): demux each container natively
    (:func:`sample_video_frames` — AVI RIFF walk / MP4 sample tables,
    no codec), decode each sampled frame with the library-free image
    decoders, and emit the exact-integer 64-bit dHash per frame.

    Returns (id_col, frame_idx, frame_ts_ms, dhash_hi, dhash_lo); frames
    whose payload the native decoders can't handle (e.g. real H.264
    access units — the documented codec boundary) yield NULL halves, so
    MJPEG/stored-frame corpora hash fully and codec-bound ones
    quarantine with one filter.

    Scale shape: ONE Arrow pass per corpus — demux and hash never leave
    the executor, and the output is ~30 bytes per sampled frame
    regardless of video size; pair-finding over the result is
    :func:`video_near_dup_pairs`' banded chunk join."""
    gh, gw = grid
    if gh * (gw - 1) != 64:
        raise ValueError(
            f"grid must yield 64 comparisons (rows*(cols-1)), got {grid}"
        )
    frames = sample_video_frames(
        df.select(F.col(id_col), F.col(video_col)),
        binary_col=video_col,
        every_ms=every_ms,
        decoder=decoder,
        on_error="skip",  # one mkv in a corpus must not kill the sweep
    ).select(F.col(id_col), "frame_idx", "frame_ts_ms", "frame")
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("dhash_hi", T.LongType()),
            T.StructField("dhash_lo", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pairs = [_dhash64(p, gh, gw) for p in pdf.iloc[:, 3]]
            yield pd.DataFrame(
                {
                    "id": pdf.iloc[:, 0],
                    "frame_idx": pdf.iloc[:, 1],
                    "frame_ts_ms": pdf.iloc[:, 2],
                    "dhash_hi": pd.array(
                        [p[0] for p in pairs], dtype="Int64"
                    ),
                    "dhash_lo": pd.array(
                        [p[1] for p in pairs], dtype="Int64"
                    ),
                }
            )

    return frames.mapInPandas(batches, schema=out_schema).withColumnRenamed(
        "id", id_col
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    min_match_ppm: int = 500_000,
) -> DataFrame:
    """Video-level near-duplicates from per-frame dHashes
    (:func:`video_dhash` output): two videos are near-dups when enough
    of EACH side's sampled frames have a hamming-≤``max_hamming`` match
    on the other side — re-encodes, brightness shifts and container
    changes survive, unrelated footage does not.

    Frame matching is the exact Manku chunk join (:func:`dhash_pairs`)
    over struct (video, frame) ids with same-video pairs excluded;
    coverage is per-side distinct matched frames over hashed frames, in
    integer ppm, and the pair's flag takes the WEAKER side (a short clip
    contained in a long video doesn't flag the long one).

    Returns (``{id}_a``, ``{id}_b``, n_frames_a, n_frames_b,
    n_matched_a, n_matched_b, min_hamming, coverage_ppm, near_dup) with
    ``{id}_a < {id}_b``; only video pairs with ≥1 frame match appear.

    Scale shape: inherits the chunk join's Σ_b n_b² bound over FRAME
    rows (16-byte hashes — video bytes never join); the aggregate is one
    shuffle on (video_a, video_b)."""
    fid = F.struct(F.col(id_col), F.col("frame_idx")).alias("__fid")
    h = frame_hashes.select(fid, "dhash_hi", "dhash_lo")
    pairs = dhash_pairs(
        h, id_col="__fid", max_hamming=max_hamming
    ).filter(F.col(f"__fid_a.{id_col}") != F.col(f"__fid_b.{id_col}"))
    agg = pairs.groupBy(
        F.col(f"__fid_a.{id_col}").alias(f"{id_col}_a"),
        F.col(f"__fid_b.{id_col}").alias(f"{id_col}_b"),
    ).agg(
        F.countDistinct(F.col("__fid_a.frame_idx"))
        .cast("long")
        .alias("n_matched_a"),
        F.countDistinct(F.col("__fid_b.frame_idx"))
        .cast("long")
        .alias("n_matched_b"),
        F.min("hamming").cast("long").alias("min_hamming"),
    )
    counts = (
        frame_hashes.filter(
            F.col("dhash_hi").isNotNull() & F.col("dhash_lo").isNotNull()
        )
        .groupBy(F.col(id_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__nf"))
    )
    out = (
        agg.join(
            F.broadcast(counts).withColumnRenamed("__nf", "n_frames_a"),
            F.col(f"{id_col}_a") == F.col("__v"),
        )
        .drop("__v")
        .join(
            F.broadcast(counts).withColumnRenamed("__nf", "n_frames_b"),
            F.col(f"{id_col}_b") == F.col("__v"),
        )
        .drop("__v")
    )
    cov = F.least(
        F.expr("n_matched_a * 1000000L div n_frames_a"),
        F.expr("n_matched_b * 1000000L div n_frames_b"),
    ).cast("long")
    return out.select(
        f"{id_col}_a",
        f"{id_col}_b",
        "n_frames_a",
        "n_frames_b",
        "n_matched_a",
        "n_matched_b",
        "min_hamming",
        cov.alias("coverage_ppm"),
        (cov >= F.lit(int(min_match_ppm))).alias("near_dup"),
    )


def _audio_samples_int(payload: bytes):
    """EXACT integer mono PCM for fingerprinting: decode WAV (stdlib
    ``wave``) or FLAC (``flac.py`` — lossless, bit-identical to source
    PCM), mix channels by integer SUM (a monotone content-preserving
    mix — float means would break engine-exactness), and downshift
    samples wider than 16 bits so block energy sums stay far inside
    int64.  Lossy codecs raise ``NotImplementedError`` (the genuine
    librosa/torchaudio boundary)."""
    import io
    import wave

    import numpy as np

    p = payload if payload is not None else b""
    if p[:4] == b"fLaC":
        from .flac import decode_flac

        samples, _sr, bps = decode_flac(p)
        s = samples.astype(np.int64).sum(axis=1)
        if bps > 16:
            s >>= bps - 16
        return s
    try:
        wf = wave.open(io.BytesIO(p))
        nch = wf.getnchannels()
        sw = wf.getsampwidth()
        raw = wf.readframes(wf.getnframes())
    except (wave.Error, EOFError) as e:
        raise NotImplementedError(
            "audio fingerprinting decodes PCM WAV and FLAC natively; "
            "lossy codecs need librosa/torchaudio — plug the decode here"
        ) from e
    if sw not in (1, 2, 4) or nch <= 0:
        raise NotImplementedError(
            "unsupported WAV shape; compressed/exotic encodings need "
            "librosa/torchaudio"
        )
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[sw]
    x = np.frombuffer(raw, dtype=dtype).astype(np.int64)
    if sw == 1:
        x -= 128
    x = x[: (len(x) // nch) * nch].reshape(-1, nch).sum(axis=1)
    if sw == 4:
        x >>= 16
    return x


def _audio_fp64(payload, rows: int = 4, cols: int = 9):
    """Shared per-clip fingerprint kernel: split the mono signal into
    rows*cols equal time blocks (floor boundaries), take per-block
    ENERGY (Σ s², exact int64) and ZERO-CROSSING counts (sign flips of
    consecutive in-block samples), and compare time-adjacent blocks
    within each row dHash-style — cross-multiplied by block sizes so
    unequal remainder blocks never bias the bit.  Energy bits pack into
    ``hi``, crossing bits into ``lo`` (MSB-first, 32 each for the
    default 4x9 grid).  Gain scales every energy equally and never flips
    a sign, so constant-gain copies fingerprint IDENTICALLY — the
    invariance re-encoded audio dedup needs.  Returns (n_samples, hi,
    lo) or (None, None, None) for undecodable/too-short payloads."""
    import numpy as np

    nb = rows * cols
    try:
        s = _audio_samples_int(payload)
    except NotImplementedError:
        return None, None, None
    n = len(s)
    if n < 2 * nb:
        return None, None, None
    bounds = (np.arange(nb + 1) * n) // nb
    e = np.array(
        [
            # object dtype BEFORE squaring: int64 squares wrap silently
            # for long blocks of many-channel 16-bit audio
            int((s[a:b].astype(object) ** 2).sum())
            for a, b in zip(bounds[:-1], bounds[1:])
        ],
        dtype=object,
    ).reshape(rows, cols)
    z = np.array(
        [
            int((s[a:b][:-1] * s[a + 1 : b] < 0).sum())
            for a, b in zip(bounds[:-1], bounds[1:])
        ],
        dtype=np.int64,
    ).reshape(rows, cols)
    ns = (bounds[1:] - bounds[:-1]).reshape(rows, cols).astype(object)
    npairs = (ns - 1).astype(object)
    hi = lo = 0
    for r in range(rows):
        for c in range(cols - 1):
            eb = int(e[r, c] * ns[r, c + 1] > e[r, c + 1] * ns[r, c])
            zb = int(
                z[r, c] * npairs[r, c + 1] > z[r, c + 1] * npairs[r, c]
            )
            hi = (hi << 1) | eb
            lo = (lo << 1) | zb
    return n, hi, lo


def audio_fingerprint(
    df: DataFrame,
    audio_col: str = "payload",
    id_col: str = "doc_id",
    rows: int = 4,
    cols: int = 9,
) -> DataFrame:
    """Perceptual audio fingerprint per clip — the audio tier of the
    dHash family: REAL WAV/FLAC decode to exact integer PCM, then a
    (rows x cols) time-grid of block energies and zero-crossing counts
    (the loudness envelope + a dominant-frequency proxy) compared
    dHash-style into two 32-bit halves.  Every quantity is an exact
    integer (no FFT — spectral log-energies live in the rows-only
    :func:`extract_audio_features` tier), so the fingerprint is
    bit-reproducible on any engine and constant-gain re-encodes hash
    identically.

    Returns (id_col, n_samples, fp_hi, fp_lo); undecodable or
    too-short (< 2·rows·cols samples) payloads yield NULLs.  Near-dup
    pairs come from :func:`dhash_pairs` over (fp_hi, fp_lo) — the same
    Manku chunk join, complete to hamming 3.

    Scale shape: one Arrow pass, 20 bytes out per clip regardless of
    audio size; partition by payload bytes (:func:`repartition_for_media`)."""
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("n_samples", T.LongType()),
            T.StructField("fp_hi", T.LongType()),
            T.StructField("fp_lo", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = [_audio_fp64(p, rows, cols) for p in pdf.iloc[:, 1]]
            yield pd.DataFrame(
                {
                    "id": pdf.iloc[:, 0],
                    "n_samples": pd.array(
                        [r[0] for r in res], dtype="Int64"
                    ),
                    "fp_hi": pd.array([r[1] for r in res], dtype="Int64"),
                    "fp_lo": pd.array([r[2] for r in res], dtype="Int64"),
                }
            )

    return (
        repartition_for_media(df.select(F.col(id_col), F.col(audio_col)))
        .mapInPandas(batches, schema=out_schema)
        .withColumnRenamed("id", id_col)
    )


def _scene_frame_labels(
    frame_hashes: DataFrame,
    id_col: str,
    max_hamming: int,
) -> DataFrame:
    """Per-frame scene labels shared by :func:`video_scenes` and
    :func:`scene_keyframes`: drop NULL-hash (codec-bound) frames, flag
    shot boundaries where consecutive-frame hamming exceeds
    ``max_hamming``, and label each RETAINED frame with its scene_idx
    via a running sum of break flags.  Keeping the hashes on the
    labeled rows lets keyframe selection pick a median *member* frame
    without ever joining back onto the unfiltered input (which would
    resurrect excluded frames when the arithmetic middle lands on a
    codec-NULL gap)."""
    base = frame_hashes.filter(
        F.col("dhash_hi").isNotNull() & F.col("dhash_lo").isNotNull()
    ).select(F.col(id_col), "frame_idx", "frame_ts_ms", "dhash_hi", "dhash_lo")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    ham = (
        F.bit_count(
            F.col("dhash_hi").bitwiseXOR(F.lag("dhash_hi").over(w))
        )
        + F.bit_count(
            F.col("dhash_lo").bitwiseXOR(F.lag("dhash_lo").over(w))
        )
    ).cast("long")
    flagged = base.select(
        id_col,
        "frame_idx",
        "frame_ts_ms",
        "dhash_hi",
        "dhash_lo",
        F.coalesce(ham, F.lit(0)).alias("__step"),
        F.when(ham.isNull() | (ham > int(max_hamming)), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__brk"),
    )
    wcum = (
        Window.partitionBy(id_col)
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.withColumn(
        "scene_idx", (F.sum("__brk").over(wcum) - 1).cast("long")
    )


def video_scenes(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 10,
) -> DataFrame:
    """Scene segmentation from per-frame perceptual hashes
    (:func:`video_dhash` output): a new scene starts where the hamming
    distance between consecutive frame hashes exceeds ``max_hamming`` —
    the shot-boundary detector that turns "sample every N ms" into
    "sample one keyframe per scene" for multimodal training data (and
    the pre-step of scene-level near-dup matching).

    Returns one row per (video, scene): (id_col, scene_idx,
    start_frame_idx, start_ts_ms, n_frames, max_step_hamming) — where
    ``max_step_hamming`` is the largest intra-scene consecutive-frame
    distance (0 for a single-frame scene), the "how static was this
    shot" signal.  Frames with NULL hashes (codec-bound payloads) are
    excluded before segmentation.

    Plan: one per-video window (lag + running sum of break flags) +
    one aggregate — no joins, 16-byte rows, entirely relational."""
    scened = _scene_frame_labels(frame_hashes, id_col, max_hamming)
    return scened.groupBy(id_col, "scene_idx").agg(
        F.min("frame_idx").cast("long").alias("start_frame_idx"),
        F.min("frame_ts_ms").cast("long").alias("start_ts_ms"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.max(F.when(F.col("__brk") == 0, F.col("__step")).otherwise(0))
        .cast("long")
        .alias("max_step_hamming"),
    )


def audio_segments(
    df: DataFrame,
    audio_col: str = "payload",
    id_col: str = "doc_id",
    frame_samples: int = 10,
    silence_energy: int = 0,
) -> DataFrame:
    """Silence-based clip segmentation — the audio sibling of
    :func:`video_scenes`: decode to exact integer mono PCM
    (:func:`audio_fingerprint`'s tier), frame at ``frame_samples``,
    mark frames with energy ≤ ``silence_energy`` silent, and emit one
    row per maximal NON-silent run: (id_col, segment_idx, start_frame,
    n_frames, energy_sum) — the pre-step that turns raw recordings into
    utterance-sized training clips and drops dead air before any model
    hears it.

    Exact integers end to end (frame energy = Σ s² over int64 PCM), so
    segment boundaries and energies value-hash.  Undecodable payloads
    yield no rows (quarantine upstream via :func:`audio_fingerprint`'s
    NULLs).

    Scale shape: one Arrow pass; output is segment-count rows (~40 B)
    per clip regardless of audio size."""
    import numpy as np

    if frame_samples < 1:
        raise ValueError("frame_samples must be >= 1")
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("segment_idx", T.LongType()),
            T.StructField("start_frame", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("energy_sum", T.LongType()),
        ]
    )

    def one_clip(rid, payload, rows):
        import numpy as np

        try:
            s = _audio_samples_int(payload)
        except NotImplementedError:
            return
        n_fr = len(s) // frame_samples
        if n_fr == 0:
            return
        s = s[: n_fr * frame_samples]
        # headroom check: _audio_samples_int downshifts wide formats to
        # <=16 bits per channel, so |s| <= nch * 2^16 and int64 frame /
        # clip energy sums cannot overflow for any realistic clip; keep
        # the exact object-dtype path only when max|s|^2 * n could
        # actually exceed int64 (e.g. a many-channel pathological mix)
        m = int(np.abs(s).max()) if len(s) else 0
        if m and m * m >= (2**62) // len(s):
            e = (
                (s.astype(object) ** 2)
                .reshape(n_fr, frame_samples)
                .sum(axis=1)
            )
            e = np.array([int(v) for v in e], dtype=object)
            nonsilent = np.array(
                [int(v) > silence_energy for v in e], dtype=bool
            )
        else:
            e = (s * s).reshape(n_fr, frame_samples).sum(axis=1)
            nonsilent = e > silence_energy
        if not nonsilent.any():
            return
        prev = np.concatenate(([False], nonsilent[:-1]))
        nxt = np.concatenate((nonsilent[1:], [False]))
        starts = np.flatnonzero(nonsilent & ~prev)
        ends = np.flatnonzero(nonsilent & ~nxt) + 1  # exclusive
        for seg, (a, b) in enumerate(zip(starts, ends)):
            rows.append(
                {
                    "id": rid,
                    "segment_idx": seg,
                    "start_frame": int(a),
                    "n_frames": int(b - a),
                    "energy_sum": int(e[a:b].sum()),
                }
            )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list = []
            for rid, payload in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                one_clip(rid, payload, rows)
            yield pd.DataFrame(
                rows,
                columns=[
                    "id",
                    "segment_idx",
                    "start_frame",
                    "n_frames",
                    "energy_sum",
                ],
            )

    return (
        repartition_for_media(df.select(F.col(id_col), F.col(audio_col)))
        .mapInPandas(batches, schema=out_schema)
        .withColumnRenamed("id", id_col)
    )


def scene_keyframes(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 10,
) -> DataFrame:
    """One representative keyframe per scene — the sampling policy
    :func:`video_scenes` exists to feed: the median MEMBER frame of
    each scene (the (n+1) div 2-th retained frame in frame order — the
    steadiest pick for a shot) with its hash, ready for
    :func:`dhash_dedup_against` / caption-pairing / training-frame
    extraction at one frame per shot instead of one per second.

    The median is selected by RANK among the scene's retained
    (non-NULL-hash) frames, never by index arithmetic: with a
    codec-bound frame mid-scene the arithmetic middle
    ``start + (n−1) div 2`` can land on an excluded or never-sampled
    frame_idx, emitting a NULL-hash keyframe or silently dropping the
    scene.  On gapless inputs the two policies agree.

    Returns (id_col, scene_idx, keyframe_idx, keyframe_ts_ms,
    dhash_hi, dhash_lo, scene_n_frames).

    Plan: the shared scene window pass + two more windows over the same
    (video) partitioning — no joins, no media bytes move."""
    labeled = _scene_frame_labels(frame_hashes, id_col, max_hamming)
    wscene = Window.partitionBy(id_col, "scene_idx").orderBy("frame_idx")
    wall = Window.partitionBy(id_col, "scene_idx")
    ranked = labeled.select(
        id_col,
        "scene_idx",
        "frame_idx",
        "frame_ts_ms",
        "dhash_hi",
        "dhash_lo",
        F.row_number().over(wscene).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    return ranked.filter(
        F.col("__rn") == F.expr("(__n + 1L) div 2L")
    ).select(
        id_col,
        "scene_idx",
        F.col("frame_idx").cast("long").alias("keyframe_idx"),
        F.col("frame_ts_ms").cast("long").alias("keyframe_ts_ms"),
        "dhash_hi",
        "dhash_lo",
        F.col("__n").cast("long").alias("scene_n_frames"),
    )


#: SDXL-style training resolution grid (~1 Mpx each): the buckets a
#: variable-aspect image corpus batches into so same-shape images share
#: a batch without destructive center-crops.  Frozen so SQL oracles can
#: embed the identical list.
ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536),
)


def aspect_buckets(
    df,
    width_col: str = "image_width",
    height_col: str = "image_height",
    buckets: tuple[tuple[int, int], ...] = ASPECT_BUCKETS,
):
    """Assign every image to the aspect bucket nearest its shape:
    appends ``(aspect_ppm, bucket_w, bucket_h)`` — the batching step of
    multi-aspect image training (SDXL-style): images resize to their
    BUCKET's resolution, so bucket choice decides how much gets cropped
    or squashed, and per-bucket counts decide batch packing.

    Nearness is exact integer arithmetic: ``aspect_ppm = w·10^6 div h``
    compared against each bucket's precomputed ppm, smallest absolute
    difference wins, ties to the earlier bucket in the (frozen) list —
    any engine reproduces the assignment bit-for-bit, no log-space
    float.  NULL/non-positive dimensions get NULL buckets (quarantine).
    Zero-shuffle codegen projection: the bucket table is a literal
    array sorted per row (|buckets| ≈ 10 structs)."""
    from pyspark.sql import functions as F

    w = F.col(width_col).cast("long")
    h = F.col(height_col).cast("long")
    aspect = F.expr(
        f"CASE WHEN {height_col} > 0 AND {width_col} > 0 "
        f"THEN {width_col} * 1000000L div {height_col} END"
    )
    cands = F.array(
        *[
            F.struct(
                F.abs(aspect - F.lit(bw * 1_000_000 // bh)).alias("d"),
                F.lit(i).alias("i"),
                F.lit(bw).alias("w"),
                F.lit(bh).alias("h"),
            )
            for i, (bw, bh) in enumerate(buckets)
        ]
    )
    best = F.array_sort(cands)[0]
    ok = aspect.isNotNull()
    return df.select(
        "*",
        aspect.alias("aspect_ppm"),
        F.when(ok, best["w"]).alias("bucket_w"),
        F.when(ok, best["h"]).alias("bucket_h"),
    )
