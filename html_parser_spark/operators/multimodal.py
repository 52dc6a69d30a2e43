"""Multimodal column plumbing: image/audio/video as opaque binary.

``decode_real`` REALLY decodes the formats this engine can handle
with no external codec — PPM/PGM (P6/P5), 24-bit uncompressed BMP,
8-bit PNG (zlib inflate + full filter reconstruction), baseline and
progressive JPEG (pure-Python Huffman + dequant + IDCT, see
``jpeg.py``), GIF87a/89a (pure-Python LZW + palette mapping +
interlace, see ``gif.py``), and PCM WAV audio (stdlib ``wave``) —
and raises
``NotImplementedError`` for formats that genuinely need codecs this
container doesn't ship (arithmetic-coded JPEG, MP3, H.264).
``extract_features`` runs it over the first ``MAX_DOC_BYTES`` of each
payload through ``html_ops.doc_udf``; a payload it cannot decode gets
NULL features.  Gated queries value-check the decode end to end
against closed-form oracles: synthesized ASCII-pixel PPMs
(``multimodal_real_decode``), JPEGs and GIFs.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, MapType,
    StringType, StructField, StructType,
)

from .html_ops import doc_udf
from .jpeg import MAX_PIXELS

ASSET_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("kind", StringType(), False),          # image|audio|video
    StructField("payload", BinaryType(), True),        # opaque bytes
    StructField("meta", MapType(StringType(), StringType()), True),
])

#: the decode-derived features; ``extract_features`` adds ``asset_id``,
#: ``kind``, ``n_bytes`` and ``content_hash`` around them
DECODE_SCHEMA = StructType([
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("histogram", ArrayType(DoubleType()), True),
])


def _byte_histogram(data: bytes):
    """16-bin normalized histogram over a decoded byte stream (pixel
    bytes / PCM sample bytes), round 6.
    Counting runs through collections.Counter (C-accelerated), not a
    per-byte Python loop: a 10 MB payload is one C pass, not 10^7
    interpreter iterations inside the extraction kernel."""
    from collections import Counter

    hist = [0.0] * 16
    if data:
        for byte, c in Counter(data).items():
            hist[byte >> 4] += c
        total = float(len(data))
        hist = [round(c / total, 6) for c in hist]
    return hist


def _decode_ppm(payload: bytes):
    """Netpbm P6 (RGB) / P5 (gray), binary variants: ASCII header of
    whitespace-separated magic/width/height/maxval (with ``#`` comment
    lines), one whitespace byte, then raw samples."""
    tokens = []
    i = 2  # past magic
    n = len(payload)
    while len(tokens) < 3 and i < n:
        while i < n and payload[i] in b" \t\r\n":
            i += 1
        if i < n and payload[i:i + 1] == b"#":
            while i < n and payload[i] not in b"\r\n":
                i += 1
            continue
        j = i
        while j < n and payload[j] not in b" \t\r\n":
            j += 1
        tokens.append(payload[i:j])
        i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = (int(t) for t in tokens)
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    channels = 3 if payload[:2] == b"P6" else 1
    need = width * height * channels
    # exactly one whitespace delimiter after maxval — but Windows-written
    # files terminate the header with CRLF, which is one delimiter, not a
    # delimiter plus a pixel byte.  Ambiguous case: a CR-delimited file
    # whose FIRST PIXEL is 0x0A also shows "\r\n" here — disambiguate by
    # size (consume both bytes only if enough pixel data remains; an
    # exactly-sized CR-delimited file keeps its 0x0A pixel).  A
    # non-whitespace byte means a malformed header: raise rather than
    # silently shift the pixels.
    if payload[i:i + 2] == b"\r\n" and n - (i + 2) >= need:
        i += 2
    elif i < n and payload[i] in b" \t\r\n":
        i += 1
    else:
        raise ValueError("missing whitespace delimiter after PPM maxval")
    data = payload[i:i + need]
    if len(data) < need:
        raise ValueError("truncated PPM pixel data")
    return width, height, _byte_histogram(data)


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB): rows padded
    to 4 bytes, bottom-up (or top-down when height < 0)."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24bpp uncompressed BMP is stdlib-decodable (got bpp={bpp}, "
            f"compression={compression})")
    # a malformed header must raise (→ NULL features upstream), not
    # return garbage dimensions: negative/zero width, zero height, or
    # dims the payload can't possibly hold
    if width <= 0 or height == 0 or abs(width) > 1 << 20 or abs(height) > 1 << 20:
        raise ValueError(f"implausible BMP dimensions {width}x{height}")
    height = abs(height)
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    pixels = bytearray()
    for r in range(height):
        start = data_offset + r * stride
        row = payload[start:start + row_bytes]
        if len(row) < row_bytes:
            raise ValueError("truncated BMP pixel data")
        pixels += row  # padding bytes excluded from the histogram
    return width, height, _byte_histogram(bytes(pixels))


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytes:
    """Reverse the per-scanline filters (None/Sub/Up/Average/Paeth —
    PNG spec §9) over the decompressed IDAT stream."""
    stride = width * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ft = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        if len(line) < stride:
            raise ValueError("truncated PNG scanline")
        pos += 1 + stride
        if ft == 1:    # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += line
        prev = line
    return bytes(out)


def _decode_png(payload: bytes):
    """Real PNG decode, stdlib only (zlib inflate + filter
    reconstruction): 8-bit depth, color types gray/RGB/gray-alpha/RGBA,
    no interlace.  Returns (width, height, histogram over the
    reconstructed pixel bytes)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    width = height = None
    channels = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG depth {depth} / color type {color} beyond the "
                    "stdlib decoder (8-bit gray/RGB/GA/RGBA only)")
            if interlace != 0:
                raise NotImplementedError("interlaced PNG not supported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    if width <= 0 or height <= 0 or width > 1 << 20 or height > 1 << 20:
        raise ValueError(f"implausible PNG dimensions {width}x{height}")
    # Total pixel budget BEFORE any allocation: per-axis caps alone still
    # allow ~10^12 declared pixels, so a small IDAT zlib bomb declaring
    # huge dims could inflate to terabytes below.  16 Mpix × RGBA bounds
    # the decode buffer at ~68 MB regardless of what the payload claims.
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"PNG pixel budget exceeded: {width}x{height} > {MAX_PIXELS} pixels")
    # Bounded inflate: a zlib bomb in IDAT must not allocate beyond what
    # the declared dimensions can hold (the NULL-features contract means
    # a crafted payload gets caught, never OOM-kills the executor).
    expected = height * (width * channels + 1)
    raw = zlib.decompressobj().decompress(bytes(idat), expected)
    if len(raw) < expected:
        raise ValueError("truncated PNG pixel stream")
    pixels = _png_unfilter(raw, width, height, channels)
    return width, height, _byte_histogram(pixels)


def _decode_wav(payload: bytes):
    """PCM WAV via the stdlib ``wave`` module.  'width' = sample rate,
    'height' = channel count; histogram over the raw PCM byte stream."""
    with wave.open(io.BytesIO(payload)) as w:
        frames = w.readframes(w.getnframes())
        return w.getframerate(), w.getnchannels(), _byte_histogram(frames)


def decode_real(payload: bytes):
    """Codec-free real decode: PPM/PGM, 24bpp BMP, 8-bit PNG
    (zlib inflate + filter reconstruction), baseline + progressive JPEG
    (pure-Python Huffman + dequant + IDCT), GIF87a/89a (LZW + palette),
    PCM WAV.  Returns (width, height, 16-bin histogram); raises
    NotImplementedError for formats needing external codecs
    (arithmetic JPEG/MP3/H.264/...)."""
    magic = payload[:4]
    if magic[:2] in (b"P6", b"P5"):
        return _decode_ppm(payload)
    if magic[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if magic[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        w, h, pixels = decode_jpeg(payload)
        return w, h, _byte_histogram(pixels)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        w, h, pixels = decode_gif(payload)
        return w, h, _byte_histogram(pixels)
    if magic == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    raise NotImplementedError(
        f"no codec-free decoder for payload magic {magic!r}; "
        "transform-coded audio/video (MP3/H.264) and arithmetic-coded "
        "JPEG need external codecs this container doesn't ship"
    )


def _decoded(data: bytes) -> dict:
    try:
        w, h, hist = decode_real(data)
    except Exception:
        # undecodable payload (unknown/compressed format or truncated
        # data): permissive contract — decode-derived features are NULL
        w = h = hist = None
    return {"width": w, "height": h, "histogram": hist}


def extract_features(assets: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads: one ``doc_udf`` struct
    column that ``decode_real`` decodes from the first ``MAX_DOC_BYTES``
    of each payload, beside ``n_bytes`` and ``content_hash`` computed
    JVM-side over the whole payload.  A null or undecodable payload
    gives null features."""
    feats = doc_udf(DECODE_SCHEMA, _decoded)("payload")
    return assets.select(
        "asset_id", "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
        feats.alias("_f"),
    ).select("asset_id", "kind", "n_bytes", "content_hash", "_f.*")


def synth_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic asset table for tests/demos.

    Payload bytes are the ASCII sha256 hexdigest of the asset id,
    repeated — opaque binary to the pipeline, but reproducible by a
    SQL oracle (``repeat(sha256(cast(i as varchar)), 1 + i % 7)``) so
    the whole ``doc_udf`` feature path is value-checked end to end.
    """
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).hexdigest().encode() * (1 + i % 7)
        rows.append((i, kinds[i % 3], bytearray(payload), {"src": f"synth://{i}"}))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
