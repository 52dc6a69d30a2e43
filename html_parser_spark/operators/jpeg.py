"""Baseline-sequential + progressive JPEG decode, stdlib + numpy only.

Closes the "most common real web image format" gap flagged since round
1 (reference scope: the engine treats media as opaque binary + typed
features, SURVEY.md §2 Table B): an honest pure-Python implementation
of ITU-T T.81 DCT decode — marker parse, table-driven canonical
Huffman entropy decode (byte stuffing + restart markers),
dequantization, inverse zigzag, separable float IDCT (orthonormal
8×8 DCT basis via numpy), nearest-neighbor chroma upsampling, and the
JFIF YCbCr→RGB transform.  Both frame types the web actually uses are
supported: baseline sequential (SOF0/1, interleaved or one scan per
component) and progressive (SOF2, T.81 Annex G — spectral-selection
bands, successive-approximation DC/AC refinement with EOB runs and
correction bits).  Out of scope (raises NotImplementedError, never
garbage): arithmetic coding (SOF9+), hierarchical, 12-bit precision.

One decode path serves every frame type.  Each scan writes quantized
coefficients into one per-component store (``_init_store``), through
one walker (``_walk``) that visits data units in T.81 A.2 order —
block-grid order for a one-component scan, MCU order otherwise — and
owns restart resets.  One render (``_render``) then dequantizes,
IDCTs and finishes the frame in bands of block rows, with one numpy
call per component and band.

Hardening mirrors the PNG decoder's contract: a total pixel budget is
enforced BEFORE any allocation, truncated bitstreams raise ValueError,
and Huffman tables are validated while being built — a crafted payload
yields NULL features upstream, never an OOM or a hang.

The synth encoders produce DC-only blocks whose decoded pixel values
are exact integers (DC = 8k ⇒ flat block at 128 + k, zero IDCT
rounding ambiguity), so a SQL oracle can reconstruct the decoded
histogram in closed form — the same value-gating pattern the driver
uses for PPM (``multimodal_real_decode``).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: index -> (row, col) position in the 8x8 block
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# orthonormal 8x8 DCT-II basis; IDCT(F) = C.T @ F @ C
_C = np.array([
    [(np.sqrt(1.0 / 8.0) if u == 0 else np.sqrt(2.0 / 8.0))
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])

#: the decode-buffer budget of every image decoder (PNG, JPEG, GIF)
MAX_PIXELS = 1 << 24
_BAND_PIXELS = 1 << 20  # output pixels one render band covers, at most


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with JPEG
    byte-stuffing: 0xFF 0x00 is a literal 0xFF; 0xFF <marker> ends the
    segment (restart markers are consumed by the caller)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed literal 0xFF
            else:
                # a real marker: the scan data ended early
                raise ValueError("marker inside JPEG entropy data")
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def align_to_restart(self) -> None:
        """Discard partial byte and consume one RSTn marker (skipping a
        stuffed 0xFF00 pad byte the bit consumer never needed)."""
        self.buf = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0x00:
            self.pos += 2
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF or not (
                0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


class _Huffman:
    """Canonical Huffman table from a DHT segment (bits[16] + values),
    decoded via the standard MINCODE/MAXCODE walk."""

    def __init__(self, bits, values):
        if sum(bits) != len(values) or len(values) > 256:
            raise ValueError("inconsistent JPEG Huffman table")
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            n = bits[ln - 1]
            if n:
                if code + n > (1 << ln):
                    raise ValueError("oversubscribed JPEG Huffman table")
                self.val_ptr[ln] = k
                self.min_code[ln] = code
                code += n
                k += n
                self.max_code[ln] = code - 1
            code <<= 1
        self.values = values

    def decode(self, br: _BitReader) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bits(1)
            if self.max_code[ln] >= code >= self.min_code[ln]:
                return self.values[self.val_ptr[ln] + code - self.min_code[ln]]
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """DC/AC magnitude decode (T.81 F.2.2.1 EXTEND)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes):
    """Decode a baseline-sequential or progressive JPEG; returns
    (width, height, pixel_bytes) where pixel_bytes is the grayscale
    plane (1 component) or interleaved RGB (3 components).

    Error contract: hostile/truncated payloads raise ValueError,
    out-of-scope encodings raise NotImplementedError — never anything
    else (short segment bodies would otherwise leak struct.error /
    IndexError from the fixed-layout unpacks)."""
    try:
        return _decode_markers(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed JPEG structure: {e}") from e


def _decode_markers(payload: bytes):
    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    pos = 2
    n = len(payload)
    qt = {}            # id -> np.array(64) in zigzag order
    huff_dc = {}
    huff_ac = {}
    restart_interval = 0
    frame = None       # (w, h, [(comp_id, hi, vi, tq)])
    progressive = False
    store = None       # per-component (block rows, block cols, 64) int32
    scanned = set()    # baseline: frame indices whose scan has arrived
    while True:
        if pos + 2 > n:
            raise ValueError("truncated JPEG before SOS")
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # T.81 B.1.1.2: any number of optional 0xFF fill bytes may precede
        # a marker; skip them so 0xFF is never misread as the marker byte.
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            continue  # stray SOI / RST outside a scan
        if marker == 0xD9:  # EOI has no length field
            if store is None:
                raise ValueError("JPEG EOI before SOS")
            if not progressive:
                # a baseline frame renders as soon as its last component
                # arrives, so reaching EOI means one never did
                missing = [c[0] for fi, c in enumerate(frame[2])
                           if fi not in scanned]
                raise ValueError(
                    f"JPEG EOI with undecoded components {missing}")
            return _render(frame, store, qt)
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2:pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        body_at = pos + seglen
        pos = body_at
        if marker == 0xDB:          # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                if i + 65 > len(seg):
                    raise ValueError("truncated DQT")
                qt[tq] = np.frombuffer(seg[i + 1:i + 65], dtype=np.uint8
                                       ).astype(np.float64)
                i += 65
        elif marker == 0xC4:        # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17:i + 17 + nv])
                table = _Huffman(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if store is not None:
                raise ValueError("JPEG frame header after a scan")
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("non-8-bit JPEG precision")
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"JPEG with {nc} components (only grayscale and YCbCr)")
            if w <= 0 or h <= 0:
                raise ValueError("implausible JPEG dimensions")
            # budget counts PIXEL SLOTS across all component planes (a
            # crafted nc=3 frame allocates 3 float64 planes), so the
            # decode buffers stay bounded (~MAX_PIXELS × 8 B) no matter
            # what the header declares
            if w * h * nc > MAX_PIXELS:
                raise ValueError(
                    f"JPEG pixel budget exceeded: {w}x{h}x{nc} > {MAX_PIXELS}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * ci)
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError("JPEG sampling factor outside 1..4")
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (w, h, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x}: "
                "arithmetic/hierarchical/lossless) needs a codec this "
                "engine doesn't ship")
        elif marker == 0xDD:        # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:        # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG SOS header")
            if ns == 0:
                raise ValueError("JPEG scan with no components")
            # entropy blocks arrive in SCAN order (T.81 A.2.3), so a file
            # whose SOS permutes the SOF component list still decodes
            fidx = {c[0]: fi for fi, c in enumerate(frame[2])}
            scan = []          # (frame index, DC table id, AC table id)
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                if cs not in fidx or fidx[cs] in (s[0] for s in scan):
                    raise ValueError("JPEG scan/frame component mismatch")
                scan.append((fidx[cs], tt >> 4, tt & 0xF))
            if progressive:
                aa = seg[3 + 2 * ns]
                band = (seg[1 + 2 * ns], seg[2 + 2 * ns], aa >> 4, aa & 0xF)
                ss, se, ah, al = band
                if not 0 <= ss <= se <= 63 or al > 13 or ah > 13:
                    raise ValueError("invalid JPEG progressive band")
                if ss == 0 and se != 0:
                    raise ValueError(
                        "invalid JPEG progressive band (DC+AC mixed scan)")
                if ss and ns != 1:
                    raise ValueError(
                        "progressive AC scan must be non-interleaved")
            else:
                # a baseline scan codes the whole block once; Ss/Se/Ah/Al
                # carry nothing, and each component gets exactly one scan
                band = (0, 63, 0, 0)
                if scanned.intersection(s[0] for s in scan):
                    raise ValueError(
                        "JPEG component scanned twice" if ns == 1 else
                        "interleaved JPEG scan after partial scans")
                scanned.update(s[0] for s in scan)
            if store is None:
                store = _init_store(frame)
            br = _BitReader(payload, body_at)
            _read_scan(br, frame, scan, band, huff_dc, huff_ac,
                         restart_interval, store, progressive)
            if not progressive and len(scanned) == len(frame[2]):
                return _render(frame, store, qt)
            pos = _next_marker(payload, br.pos)
        # else: APPn / COM / others — skipped via seglen


def _geometry(frame):
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise NotImplementedError("JPEG sampling factors beyond 2x2")
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _comp_blocks(frame, ci):
    """Block-grid dims of component ci for a NON-interleaved scan:
    ceil(component samples / 8) per axis (T.81 A.2.2)."""
    w, h, comps = frame
    hmax, vmax, _, _ = _geometry(frame)
    _cid, hi, vi, _tq = comps[ci]
    return -(-(-(-w * hi // hmax)) // 8), -(-(-(-h * vi // vmax)) // 8)


def _init_store(frame):
    """Quantized coefficients (zigzag order) per component, over the
    MCU-padded block grid: interleaved scans fill all of it, a
    non-interleaved one its component's top-left ``_comp_blocks``."""
    w, h, comps = frame
    _hmax, _vmax, mcux, mcuy = _geometry(frame)
    total = sum(mcux * hi * mcuy * vi * 64 for _cid, hi, vi, _tq in comps)
    if total > 4 * MAX_PIXELS:  # belt+braces atop the SOF pixel budget
        raise ValueError("JPEG coefficient budget exceeded")
    return [np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int32)
            for _cid, hi, vi, _tq in comps]


def _next_marker(data, p):
    """Position of the next marker after entropy data: skips stuffed
    0xFF00 pairs and 0xFF fill bytes."""
    n = len(data)
    while p < n - 1:
        if data[p] != 0xFF:
            p += 1
        elif data[p + 1] == 0x00:
            p += 2
        elif data[p + 1] == 0xFF:
            p += 1
        else:
            return p
    raise ValueError("truncated JPEG after scan")


# ---------------------------------------------------------------------------
# Scans.  Baseline is the one-band case of progressive (Ss..Se = 0..63,
# Ah = Al = 0) with plain EOBs.  The successive-approximation refinement
# logic (T.81 Annex G) mirrors the de-facto standard decoder behavior
# (libjpeg jdphuff) which real-world encoders target, including the
# two's-complement `& p1` already-set guard.
# ---------------------------------------------------------------------------


def _read_scan(br, frame, scan, band, huff_dc, huff_ac, restart_interval,
               store, progressive):
    """Decode one scan's entropy data, band ``(Ss, Se, Ah, Al)`` of the
    ``scan`` components, into ``store``."""
    ss, se, ah, al = band
    # a DC refinement reads raw bits; every other scan Huffman-decodes
    # (AC refinement too, for its run/EOB symbols)
    try:
        dc = {ci: huff_dc[dt] for ci, dt, _at in scan if ss == 0 and ah == 0}
        ac = {ci: huff_ac[at] for ci, _dt, at in scan if se}
    except KeyError:
        raise ValueError("JPEG scan references missing Huffman table") from None
    lo = max(ss, 1)
    state = [0] * (len(frame[2]) + 1)  # DC predictor per component, EOB run

    def unit(blk, ci):
        if ss == 0:
            _dc_block(br, blk, dc.get(ci), state, ci, ah, al)
        if se and ah:
            state[-1] = _ac_refine(br, blk, lo, se, al, state[-1], ac[ci])
        elif se:
            state[-1] = _ac_first(br, blk, lo, se, al, state[-1], ac[ci],
                                  progressive)

    _walk(br, frame, [ci for ci, _dt, _at in scan], restart_interval, store,
          unit, state)


def _walk(br, frame, indices, restart_interval, store, unit, state):
    """Hand every data unit of one scan to ``unit(block, ci)`` in T.81
    A.2 order.  A one-component scan is non-interleaved whatever its H
    and V: one block per MCU, over that component's block grid row by
    row (A.2.2).  Otherwise each MCU holds Hi×Vi blocks of every scan
    component in scan order (A.2.3).  Every ``restart_interval`` MCUs
    an RSTn marker is consumed and ``state`` (DC predictors, EOB run)
    zeroed."""
    comps = frame[2]
    if len(indices) == 1:
        ci = indices[0]
        mcux, mcuy = _comp_blocks(frame, ci)
        units = [(store[ci], 1, 1, 0, 0, ci)]
    else:
        _hmax, _vmax, mcux, mcuy = _geometry(frame)
        units = []
        for ci in indices:
            _cid, hi, vi, _tq = comps[ci]
            units += [(store[ci], vi, hi, y, x, ci)
                      for y in range(vi) for x in range(hi)]
    n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n and n % restart_interval == 0:
                br.align_to_restart()
                state[:] = [0] * len(state)
            n += 1
            for grid, vi, hi, y, x, ci in units:
                unit(grid[my * vi + y, mx * hi + x], ci)


def _dc_block(br, blk, table, preds, ci, ah, al):
    if ah == 0:
        s = table.decode(br)
        if s > 11:
            raise ValueError("invalid JPEG DC category")
        diff = _extend(br.bits(s), s) if s else 0
        preds[ci] += diff
        # a legit 8-bit DC predictor never exceeds 2047 even unshifted;
        # corrupt streams can accumulate past int32 (numpy would raise
        # OverflowError on assignment, breaking the ValueError contract)
        if abs(preds[ci]) > (1 << 17):
            raise ValueError("JPEG DC predictor out of range")
        blk[0] = preds[ci] << al
    elif br.bits(1):
        blk[0] |= 1 << al


def _ac_first(br, blk, ss, se, al, eobrun, table, progressive):
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = table.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r < 15:
                # progressive EOBn: this block and the next
                # (1<<r)-1+bits(r) end here.  Baseline has only EOB
                # (r = 0), and any other such symbol ends the block.
                if r and progressive:
                    eobrun = (1 << r) - 1 + br.bits(r)
                break
            k += 16         # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("JPEG AC run overflow")
            blk[k] = _extend(br.bits(s), s) << al
            k += 1
    return eobrun


def _ac_refine(br, blk, ss, se, al, eobrun, table):
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = table.decode(br)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients (below)
            elif s == 1:
                val = p1 if br.bits(1) else m1
            else:
                raise ValueError("invalid JPEG AC refinement size")
            # advance past r zero-history coefficients, emitting
            # correction bits for nonzero-history ones along the way
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if br.bits(1) and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                elif r == 0:
                    break
                else:
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = int(blk[k])
            if c != 0:
                if br.bits(1) and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _render(frame, store, qt):
    """Dequantize, inverse-zigzag and IDCT every stored block, then
    clip, nearest-neighbor upsample, crop to the declared dims and,
    with 3 components, apply JFIF YCbCr->RGB.  Works in bands of MCU
    rows, so the float work space stays near ``_BAND_PIXELS`` samples
    per component whatever the image size."""
    w, h, comps = frame
    hmax, vmax, mcux, mcuy = _geometry(frame)
    quant = []
    for _cid, _hi, _vi, tq in comps:
        if tq not in qt:
            raise ValueError("JPEG component references missing quant table")
        quant.append(qt[tq])
    out = np.empty((h, w, len(comps)), dtype=np.uint8)
    step = max(1, _BAND_PIXELS // (64 * hmax * vmax * mcux))
    for m0 in range(0, mcuy, step):
        y0 = m0 * vmax * 8
        y1 = min(y0 + step * vmax * 8, h)
        planes = []
        for ci, (_cid, hi, vi, _tq) in enumerate(comps):
            coef = store[ci][m0 * vi:(m0 + step) * vi]
            nby, nbx = coef.shape[:2]
            fblk = np.zeros((nby, nbx, 64))
            fblk[..., ZIGZAG] = coef * quant[ci]  # all blocks at once
            px = _C.T @ fblk.reshape(nby, nbx, 8, 8) @ _C + 128.0
            p = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
            p = np.clip(np.round(p), 0, 255)
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
            planes.append(p[:y1 - y0, :w])
        if len(planes) == 3:
            y, cb, cr = planes
            planes = [y + 1.402 * (cr - 128.0),
                      y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                      y + 1.772 * (cb - 128.0)]
        out[y0:y1] = np.clip(np.round(np.stack(planes, axis=-1)), 0, 255)
    return w, h, out.tobytes()


# ---------------------------------------------------------------------------
# Synthetic encoders (tests + driver oracle fixtures)
# ---------------------------------------------------------------------------

# minimal valid canonical tables: DC = 12 categories at 4 bits each,
# AC = the two symbols the synth encoders emit (EOB, ZRL not needed)
_SYNTH_DC_BITS = [0, 0, 0, 12] + [0] * 12
_SYNTH_DC_VALS = list(range(12))
_SYNTH_AC_BITS = [1] + [0] * 15
_SYNTH_AC_VALS = [0x00]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Byte-align (pad with 1s) and emit RSTm."""
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)
        self.out += bytes([0xFF, 0xD0 + (m % 8)])


def _dc_code(writer: _BitWriter, diff: int) -> None:
    s = abs(diff).bit_length()
    writer.write(s, 4)  # synth DC codes: category c -> 4-bit code c
    if s:
        writer.write(diff if diff > 0 else diff + (1 << s) - 1, s)


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dqt_unit() -> bytes:
    return _segment(0xDB, bytes([0x00]) + bytes([1] * 64))


def _dht_synth() -> bytes:
    body = (bytes([0x00]) + bytes(_SYNTH_DC_BITS) + bytes(_SYNTH_DC_VALS)
            + bytes([0x10]) + bytes(_SYNTH_AC_BITS) + bytes(_SYNTH_AC_VALS))
    return _segment(0xC4, body)


def synth_jpeg_gray(levels, blocks_w: int, blocks_h: int,
                    restart_interval: int = 0,
                    crop_w: int = 0, crop_h: int = 0) -> bytes:
    """Baseline grayscale JPEG of ``blocks_w × blocks_h`` DC-only 8×8
    blocks; block j (raster order) decodes to the EXACT flat value
    ``128 + levels[j]`` (quant table all-ones, DC = 8·level ⇒ the IDCT
    is an integer constant — closed-form for a SQL oracle).  With
    ``restart_interval`` r, a DRI segment is written and an RSTn marker
    (byte-aligned, DC predictor reset) every r MCUs."""
    assert len(levels) == blocks_w * blocks_h
    w, h = crop_w or 8 * blocks_w, crop_h or 8 * blocks_h
    assert 8 * (blocks_w - 1) < w <= 8 * blocks_w
    assert 8 * (blocks_h - 1) < h <= 8 * blocks_h
    sof = _segment(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    sos = _segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = (_segment(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    bw = _BitWriter()
    pred = 0
    for j, lv in enumerate(levels):
        if restart_interval and j and j % restart_interval == 0:
            bw.restart(j // restart_interval - 1)
            pred = 0
        dc = 8 * int(lv)
        _dc_code(bw, dc - pred)
        pred = dc
        bw.write(0, 1)  # EOB (synth AC code for 0x00 is the 1-bit code 0)
    return (b"\xff\xd8" + _dqt_unit() + _dht_synth() + dri + sof + sos
            + bw.flush() + b"\xff\xd9")


def synth_jpeg_gray_progressive(levels, blocks_w: int, blocks_h: int,
                                restart_interval: int = 0,
                                split_ac_band: bool = False) -> bytes:
    """Progressive (SOF2) grayscale JPEG exercising all three scan
    kinds: a DC first scan at Al=1, a DC successive-approximation
    refinement scan (Ah=1, Al=0) whose raw bits are genuinely nonzero
    for odd levels, and AC first scan(s) that are pure EOB runs (two
    band-split scans when ``split_ac_band``).  Quant: DC=8, AC=1, and
    the DC COEFFICIENT is k itself, so block j still decodes to the
    EXACT flat value ``128 + levels[j]`` — the same closed-form oracle
    contract as ``synth_jpeg_gray``.  With ``restart_interval`` r, a
    DRI segment is written and every scan restarts each r blocks (EOB
    runs never cross a restart boundary)."""
    assert len(levels) == blocks_w * blocks_h
    assert all(-32 <= int(lv) <= 31 for lv in levels)
    w, h = 8 * blocks_w, 8 * blocks_h
    dqt = _segment(0xDB, bytes([0x00]) + bytes([8] + [1] * 63))
    # AC table: the 15 EOBn symbols 0x00..0xE0 as 4-bit canonical codes
    ac_bits = [0, 0, 0, 15] + [0] * 12
    ac_vals = [r << 4 for r in range(15)]
    dht = _segment(0xC4, bytes([0x00]) + bytes(_SYNTH_DC_BITS)
                   + bytes(_SYNTH_DC_VALS)
                   + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    sof = _segment(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dri = (_segment(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    n = len(levels)
    ri = restart_interval or n

    def scan_hdr(ss, se, ah, al):
        return _segment(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    # scan 1: DC first at Al=1 — codes diffs of (k >> 1); the arithmetic
    # shift matches the decoder's  coef = pred << Al  reconstruction
    bw = _BitWriter()
    pred = rst = 0
    for j, lv in enumerate(levels):
        if restart_interval and j and j % ri == 0:
            bw.restart(rst)
            rst += 1
            pred = 0
        v = int(lv) >> 1
        _dc_code(bw, v - pred)
        pred = v
    scans = scan_hdr(0, 0, 0, 1) + bw.flush()
    # scan 2: DC refinement — one raw bit (k & 1) per block, no Huffman
    bw = _BitWriter()
    rst = 0
    for j, lv in enumerate(levels):
        if restart_interval and j and j % ri == 0:
            bw.restart(rst)
            rst += 1
        bw.write(int(lv) & 1, 1)
    scans += scan_hdr(0, 0, 1, 0) + bw.flush()
    # AC first scan(s): every block is end-of-band — encoded as EOBn
    # runs, chunked so a run never crosses a restart boundary
    bands = ((1, 31), (32, 63)) if split_ac_band else ((1, 63),)
    for ss, se in bands:
        bw = _BitWriter()
        rst = 0
        j = 0
        while j < n:
            if restart_interval and j:
                bw.restart(rst)
                rst += 1
            run = min(ri, n - j)
            r = run.bit_length() - 1   # EOBr covers (1<<r)+extra blocks
            bw.write(r, 4)             # canonical code for EOBr is r
            if r:
                bw.write(run - (1 << r), r)
            j += run
        scans += scan_hdr(ss, se, 0, 0) + bw.flush()
    return b"\xff\xd8" + dqt + dht + dri + sof + scans + b"\xff\xd9"


def synth_jpeg_color(levels, blocks_w: int, blocks_h: int,
                     subsample_420: bool = False) -> bytes:
    """DC-only color JPEG (4:4:4 or 4:2:0) with neutral chroma
    (Cb = Cr = 128 ⇒ R = G = B = Y exactly): the decoded RGB histogram
    equals the grayscale one with every count tripled."""
    if subsample_420:
        assert blocks_w % 2 == 0 and blocks_h % 2 == 0
    w, h = 8 * blocks_w, 8 * blocks_h
    samp_y = 0x22 if subsample_420 else 0x11
    sof = _segment(0xC0, struct.pack(">BHHB", 8, h, w, 3)
                   + bytes([1, samp_y, 0]) + bytes([2, 0x11, 0])
                   + bytes([3, 0x11, 0]))
    sos = _segment(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}

    def put_block(cid, level):
        dc = 8 * int(level)
        _dc_code(bw, dc - preds[cid])
        preds[cid] = dc
        bw.write(0, 1)  # EOB

    if subsample_420:
        for my in range(blocks_h // 2):
            for mx in range(blocks_w // 2):
                for by in range(2):
                    for bx in range(2):
                        put_block(1, levels[(my * 2 + by) * blocks_w
                                            + mx * 2 + bx])
                put_block(2, 0)
                put_block(3, 0)
    else:
        for j in range(blocks_w * blocks_h):
            put_block(1, levels[j])
            put_block(2, 0)
            put_block(3, 0)
    return (b"\xff\xd8" + _dqt_unit() + _dht_synth() + sof + sos
            + bw.flush() + b"\xff\xd9")


def synth_jpeg_color_multiscan(levels, blocks_w: int, blocks_h: int,
                               subsample_420: bool = False) -> bytes:
    """Same DC-only color image as :func:`synth_jpeg_color`, but written
    as THREE single-component baseline scans (multi-scan non-interleaved
    SOF0, T.81 A.2.2): each scan rasters its own component's block grid
    with a fresh DC predictor and byte-aligned entropy data.  Decodes to
    the exact same pixels as the interleaved encoding."""
    if subsample_420:
        assert blocks_w % 2 == 0 and blocks_h % 2 == 0
    w, h = 8 * blocks_w, 8 * blocks_h
    samp_y = 0x22 if subsample_420 else 0x11
    sof = _segment(0xC0, struct.pack(">BHHB", 8, h, w, 3)
                   + bytes([1, samp_y, 0]) + bytes([2, 0x11, 0])
                   + bytes([3, 0x11, 0]))
    out = b"\xff\xd8" + _dqt_unit() + _dht_synth() + sof
    chroma = ((blocks_w // 2, blocks_h // 2) if subsample_420
              else (blocks_w, blocks_h))
    grids = {1: (blocks_w, blocks_h), 2: chroma, 3: chroma}
    for cid in (1, 2, 3):
        nbx, nby = grids[cid]
        bw = _BitWriter()
        pred = 0
        for j in range(nbx * nby):
            dc = 8 * int(levels[j]) if cid == 1 else 0
            _dc_code(bw, dc - pred)
            pred = dc
            bw.write(0, 1)  # EOB
        out += _segment(0xDA, bytes([1, cid, 0x00, 0, 63, 0])) + bw.flush()
    return out + b"\xff\xd9"
