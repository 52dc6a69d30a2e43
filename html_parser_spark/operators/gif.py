"""GIF87a/89a decode, stdlib + numpy only.

Extends the codec-free real-decode family (PPM/BMP/PNG/JPEG/WAV —
reference scope: media is opaque binary + typed features, SURVEY.md §2
Table B) with the remaining classic web image format.  Implements the
public GIF89a specification: logical-screen / image descriptors,
global and local color tables, the GIF variant of LZW decompression
(LSB-first code packing, CLEAR/EOI codes, early code-width growth,
4096-entry table with deferred clear), and the 4-pass interlace row
reordering.  The FIRST image frame is decoded and mapped through its
active color table to an RGB byte stream; animation timing, disposal
methods, and GCE transparency are metadata the feature path does not
consume (indices map through the palette as opaque RGB — documented,
deterministic).

Hardening mirrors the PNG/JPEG contract: a total pixel budget is
enforced BEFORE any allocation, truncated streams and malformed LZW
codes raise ValueError, palette-index overflow raises instead of
reading garbage — a crafted payload yields NULL features upstream,
never an OOM or a hang.

``synth_gif`` emits a real GIF whose pixel indices are the ASCII md5
hexdigest of the asset id (all < 0x80) over a 128-entry grayscale
identity palette (entry k = (k,k,k)), using the classic
"uncompressed" LZW form (literal codes with periodic CLEARs so the
code width never grows).  Decoded RGB is each ASCII char three times,
so a SQL oracle reconstructs the histogram in closed form — the same
value-gating pattern as ``multimodal_real_decode``'s PPM twin.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import MAX_PIXELS

_MAX_TABLE = 4096  # LZW table ceiling fixed by the GIF spec


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytes:
    """GIF-variant LZW: codes packed LSB-first, CLEAR = 2^min,
    EOI = CLEAR+1, table capped at 4096 with deferred clear.  Decodes
    at most ``expected`` pixels (trailing padding is legal in the
    wild); raises on codes the table cannot contain."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)  # spec: decoder starts as if a CLEAR was seen
    code_size = min_code_size + 1
    out = bytearray()
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                if len(out) < expected:
                    raise ValueError("LZW EOI before all pixels decoded")
                return bytes(out[:expected])
            if code < len(table) and code != clear and code != eoi:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"LZW code {code} outside table of {len(table)}")
            out += entry
            if prev is not None and len(table) < _MAX_TABLE:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("LZW stream ended before all pixels decoded")


def _deinterlace(indices: bytes, width: int, height: int) -> bytes:
    """Reorder the 4 interlace passes (rows 0,8,.. / 4,12,.. / 2,6,..
    / 1,3,..) back to top-to-bottom."""
    order = (list(range(0, height, 8)) + list(range(4, height, 8))
             + list(range(2, height, 4)) + list(range(1, height, 2)))
    rows = [b""] * height
    for src, dst in enumerate(order):
        rows[dst] = indices[src * width:(src + 1) * width]
    return b"".join(rows)


def decode_gif(payload: bytes):
    """Decode the first image frame of a GIF87a/89a payload.  Returns
    (frame_width, frame_height, rgb_bytes) with indices mapped through
    the active (local-else-global) color table."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF logical screen descriptor")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos:pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    n_payload = len(payload)
    while pos < n_payload:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skipped
            pos += 1  # label
            while pos < n_payload and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1  # terminator
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{block:02x}")
        # image descriptor
        if pos + 9 > n_payload:
            raise ValueError("truncated GIF image descriptor")
        _left, _top, width, height = struct.unpack_from("<HHHH", payload, pos)
        ipacked = payload[pos + 8]
        pos += 9
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = payload[pos:pos + 3 * n]
            if len(ct) < 3 * n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF frame has no color table")
        if width <= 0 or height <= 0:
            raise ValueError(f"implausible GIF dimensions {width}x{height}")
        # total pixel budget BEFORE any allocation (PNG/JPEG contract)
        if width * height > MAX_PIXELS:
            raise ValueError(
                f"GIF pixel budget exceeded: {width}x{height} > {MAX_PIXELS} pixels")
        if pos >= n_payload:
            raise ValueError("truncated GIF image data")
        min_code_size = payload[pos]
        pos += 1
        lzw = bytearray()
        while pos < n_payload and payload[pos] != 0:
            size = payload[pos]
            chunk = payload[pos + 1:pos + 1 + size]
            if len(chunk) < size:
                raise ValueError("truncated GIF data sub-block")
            lzw += chunk
            pos += 1 + size
        indices = _lzw_decode(min_code_size, bytes(lzw), width * height)
        if ipacked & 0x40:
            indices = _deinterlace(indices, width, height)
        palette = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
        idx = np.frombuffer(indices, dtype=np.uint8)
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("GIF pixel index outside color table")
        return width, height, palette[idx].tobytes()
    raise ValueError("GIF contains no image frame")


def _lzw_encode_literal(min_code_size: int, indices: bytes) -> bytes:
    """The classic "uncompressed GIF" LZW form: every pixel as its own
    literal code, with a CLEAR emitted before the decoder's table
    would force a code-width bump — so all codes stay at
    min_code_size + 1 bits.  Decoders (including ours) handle the
    periodic CLEARs per spec."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    # after a CLEAR the decoder's table holds eoi+1 codes; each literal
    # after the first adds one entry, and the width bumps when the table
    # reaches 1 << code_size — stay strictly below that
    budget = (1 << code_size) - (eoi + 1) - 1
    since_clear = 0
    for px in indices:
        if px >= clear:
            raise ValueError(f"palette index {px} needs more than {min_code_size} bits")
        if since_clear > budget:
            emit(clear)
            since_clear = 0
        emit(px)
        since_clear += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def synth_gif(asset_id: int, interlace: bool = False,
              local_palette: bool = False) -> bytes:
    """Deterministic GIF89a whose pixel indices are the ASCII md5
    hexdigest of the id, repeated, over a 128-entry identity-gray
    palette (entry k = (k,k,k)) — decoded RGB is each hexdigest char
    three times, so a SQL oracle reconstructs the histogram in closed
    form (the ``multimodal_gif_decode`` twin)."""
    import hashlib

    w = 8 + asset_id % 5
    h = 6 + asset_id % 4
    npix = w * h
    digest = hashlib.md5(str(asset_id).encode()).hexdigest().encode()
    indices = (digest * (npix // len(digest) + 1))[:npix]
    if interlace:
        # forward-interlace so the decoder's de-interlace restores
        # row-major order
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        indices = b"".join(indices[r * w:(r + 1) * w] for r in order)
    palette = bytes(v for k in range(128) for v in (k, k, k))
    # size field n encodes 2^(n+1) entries; 128 -> n = 6
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    if local_palette:
        out += bytes([0x00, 0x00, 0x00])  # no GCT
    else:
        out += bytes([0x80 | 0x06, 0x00, 0x00]) + palette
    # a GCE extension block, exercising the skip path
    out += bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
    if local_palette:
        out += bytes([0x80 | (0x40 if interlace else 0) | 0x06]) + palette
    else:
        out += bytes([0x40 if interlace else 0x00])
    out += bytes([7])  # LZW minimum code size
    lzw = _lzw_encode_literal(7, indices)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0x00, 0x3B])
    return bytes(out)
