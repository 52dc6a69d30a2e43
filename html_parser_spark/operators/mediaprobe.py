"""Structural media probing: MP3 frames, MP4 boxes, H.264 NALs, FLAC.

The multimodal gap list has always been honest that transform-coded
audio/video (MP3, H.264) cannot be *decoded* without external codecs
(operators/multimodal.py).  What a 100-TB training-data pipeline
actually needs from those assets, though, is almost always *metadata*
— duration, bitrate, sample rate, track dimensions — and that is pure
container structure, fully parseable from the public specs with no
codec: ISO/IEC 11172-3 frame headers for MP3, ISO/IEC 14496-12 box
structure for MP4, ITU-T H.264 §7.3.2.1 SPS bitstream syntax
(Exp-Golomb) for Annex-B video, RFC 9639 STREAMINFO for FLAC.
``probe_media`` walks every MPEG audio frame (header-by-header,
ID3v2/ID3v1 aware), the full MP4 box tree (mvhd/tkhd/hdlr), every
Annex-B NAL unit (start-code scan, emulation-prevention unescape, SPS
dims with frame cropping, VUI fixed-frame-rate duration over counted
slice NALs), and FLAC metadata blocks — and emits typed features per
asset.

Hardening follows the decoder family's contract: strict structural
validation (a bad sync word, an undersized box, or a truncated frame
raises ValueError → NULL features upstream, never garbage), walks are
linear in the payload with strictly increasing offsets (no hang),
nothing is allocated proportional to declared-but-absent sizes, and
``probe_media`` runs on ``html_ops.doc_udf``, so it reads at most the
first ``MAX_DOC_BYTES`` of a payload (a container cut there probes as
truncated: NULL features).

The synthesizers emit real containers whose every header field derives
from the asset id, so a SQL oracle reconstructs frame counts, duration
and dimensions in closed form (``media_probe`` driver twin).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from .html_ops import doc_udf

# ISO/IEC 11172-3 Annex B bitrate tables, kbit/s (index 0 = free format,
# rejected below; index 15 is invalid)
_BITRATE_V1 = {
    1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
_BITRATE_V2 = {  # MPEG-2 / 2.5 (13818-3)
    1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SAMPLERATE = {  # by version key: 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}


def _id3v2_size(payload: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (syncsafe 28-bit size)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    b = payload[6:10]
    if any(x & 0x80 for x in b):
        raise ValueError("ID3v2 size bytes must be syncsafe")
    # flags bit 0x10 = ID3v2.4 footer: 10 extra bytes NOT counted in the
    # syncsafe size field (ID3v2.4 §3.1).
    footer = 10 if payload[5] & 0x10 else 0
    return 10 + footer + ((b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3])


def probe_mp3(payload: bytes) -> dict:
    """Walk every MPEG audio frame header; returns n_frames, exact
    duration, sample rate, channel count, and CBR/VBR classification.
    Strict: the stream must be wall-to-wall frames (after ID3 tags) —
    a broken sync raises rather than resyncing over garbage."""
    pos = _id3v2_size(payload)
    end = len(payload)
    if payload[end - 128:end - 125] == b"TAG":  # trailing ID3v1
        end -= 128
    n_frames = 0
    samples_num = 0        # duration = samples_num / samplerate (single rate enforced)
    rate0 = None
    bitrates = set()
    bitrate_sum = 0        # per-frame sum → frame-weighted VBR average
    channels = None
    layer_out = None
    version_out = None
    while pos < end:
        if pos + 4 > end:
            raise ValueError("truncated MPEG frame header")
        h = struct.unpack_from(">I", payload, pos)[0]
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"bad MPEG sync at offset {pos}")
        version = (h >> 19) & 0x3   # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer_bits = (h >> 17) & 0x3  # 3=I, 2=II, 1=III
        if version == 1 or layer_bits == 0:
            raise ValueError("reserved MPEG version/layer")
        layer = 4 - layer_bits      # 1, 2, 3
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 0x3
        padding = (h >> 9) & 0x1
        mode = (h >> 6) & 0x3
        if br_idx in (0, 15):
            raise ValueError("free-format/invalid bitrate index")
        if sr_idx == 3:
            raise ValueError("reserved sample-rate index")
        table = _BITRATE_V1 if version == 3 else _BITRATE_V2
        bitrate = table[layer][br_idx] * 1000
        samplerate = _SAMPLERATE[version][sr_idx]
        if layer == 1:
            frame_len = (12 * bitrate // samplerate + padding) * 4
            samples = 384
        else:
            per = 144 if (version == 3 or layer == 2) else 72  # MPEG2 L3: 576 samples
            frame_len = per * bitrate // samplerate + padding
            samples = 1152 if (version == 3 or layer == 2) else 576
        if frame_len <= 4:
            raise ValueError("degenerate MPEG frame length")
        if pos + frame_len > end:
            raise ValueError("truncated MPEG frame body")
        if rate0 is None:
            rate0, channels = samplerate, (1 if mode == 3 else 2)
            layer_out, version_out = layer, version
        elif samplerate != rate0:
            raise ValueError("sample-rate change mid-stream")
        bitrates.add(bitrate)
        bitrate_sum += bitrate
        samples_num += samples
        n_frames += 1
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no MPEG frames")
    return {
        "container": "mp3",
        "n_units": n_frames,
        "duration_ms": samples_num * 1000 // rate0,
        "sample_rate": rate0,
        "channels": channels,
        # VBR: frame-weighted average (per-frame sum / n_frames), not the
        # mean of the distinct values seen (ADVICE r4).
        "bit_rate_kbps": (next(iter(bitrates)) // 1000 if len(bitrates) == 1
                          else bitrate_sum // n_frames // 1000),
        "is_cbr": len(bitrates) == 1,
        "width": None,
        "height": None,
    }


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _walk_boxes(payload: bytes, start: int, end: int, depth: int, out: dict):
    if depth > 8:
        raise ValueError("MP4 box nesting too deep")
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated MP4 box header")
        size = struct.unpack_from(">I", payload, pos)[0]
        btype = payload[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize")
            size = struct.unpack_from(">Q", payload, pos + 8)[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"MP4 box {btype!r} size out of bounds")
        if btype in _MP4_CONTAINERS:
            _walk_boxes(payload, body, pos + size, depth + 1, out)
        elif btype == b"mvhd":
            ver = payload[body]
            if ver == 1:
                ts, dur = struct.unpack_from(">IQ", payload, body + 4 + 16)
            else:
                ts, dur = struct.unpack_from(">II", payload, body + 4 + 8)
            if ts == 0:
                raise ValueError("mvhd timescale is zero")
            out["timescale"], out["duration"] = ts, dur
        elif btype == b"tkhd":
            ver = payload[body]
            off = body + 4 + (32 if ver == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
            w, h = struct.unpack_from(">II", payload, off)
            w, h = w >> 16, h >> 16   # 16.16 fixed point
            out["n_tracks"] = out.get("n_tracks", 0) + 1
            if w and h:
                out["width"] = max(out.get("width") or 0, w)
                out["height"] = max(out.get("height") or 0, h)
        elif btype == b"hdlr":
            out.setdefault("handlers", []).append(
                payload[body + 8:body + 12].decode("latin1"))
        pos += size


def probe_mp4(payload: bytes) -> dict:
    """Walk the ISO-BMFF box tree: movie duration from mvhd, track
    count + max video dimensions from tkhd, handler types from hdlr."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF stream (no ftyp)")
    out: dict = {}
    _walk_boxes(payload, 0, len(payload), 0, out)
    if "timescale" not in out:
        raise ValueError("MP4 missing moov/mvhd")
    handlers = out.get("handlers", [])
    return {
        "container": "mp4",
        "n_units": out.get("n_tracks", 0),
        "duration_ms": out["duration"] * 1000 // out["timescale"],
        "sample_rate": out["timescale"],
        "channels": sum(1 for h in handlers if h == "soun") or None,
        "bit_rate_kbps": None,
        "is_cbr": None,
        "width": out.get("width"),
        "height": out.get("height"),
    }


class _BitReader:
    """MSB-first bit reader with Exp-Golomb (H.264 §9.1) decode."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0          # bit position

    def u(self, n: int) -> int:
        if self.pos + n > len(self.data) * 8:
            raise ValueError("bitstream underrun")
        val = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            val = (val << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return val

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("Exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _rbsp_unescape(nal_body: bytes) -> bytes:
    """Strip emulation-prevention bytes (00 00 03 -> 00 00)."""
    return nal_body.replace(b"\x00\x00\x03", b"\x00\x00")


def _rbsp_escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes so no 00 00 0x ( x<=3 ) run
    survives into the NAL (H.264 §7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


# profiles whose SPS carries chroma_format_idc etc. (H.264 §7.3.2.1.1)
_H264_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138,
                       139, 134, 135}


def _parse_sps(rbsp: bytes) -> dict:
    """seq_parameter_set_data per ITU-T H.264 §7.3.2.1.1: coded frame
    dimensions (macroblock grid minus frame cropping in chroma crop
    units) and, when VUI carries fixed-rate timing info, the per-frame
    tick duration."""
    r = _BitReader(rbsp)
    profile = r.u(8)
    r.u(8)   # constraint_set flags + reserved_zero_2bits
    level = r.u(8)
    r.ue()   # seq_parameter_set_id
    chroma_format_idc = 1
    if profile in _H264_HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)                      # separate_colour_plane_flag
        r.ue(); r.ue(); r.u(1)          # bit depths, qpprime bypass
        if r.u(1):                      # seq_scaling_matrix_present
            raise ValueError("scaling matrices unsupported in probe")
    r.ue()                              # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.u(1); r.se(); r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue(); r.u(1)                      # max_num_ref_frames, gaps flag
    pic_width_mbs = r.ue() + 1
    pic_height_mus = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)                          # mb_adaptive_frame_field_flag
    r.u(1)                              # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):                          # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # CropUnit per Table 6-1 (chroma 4:2:0 -> 2x2; 4:2:2 -> 2x1; else 1)
    sub_w = 2 if chroma_format_idc in (1, 2) else 1
    sub_h = 2 if chroma_format_idc == 1 else 1
    crop_ux = sub_w if chroma_format_idc else 1
    crop_uy = (sub_h if chroma_format_idc else 1) * (2 - frame_mbs_only)
    width = pic_width_mbs * 16 - crop_ux * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * pic_height_mus * 16 \
        - crop_uy * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        raise ValueError("SPS cropping exceeds coded size")
    tick_num = tick_den = None
    if r.u(1):                          # vui_parameters_present_flag
        if r.u(1):                      # aspect_ratio_info_present
            if r.u(8) == 255:           # Extended_SAR
                r.u(32)
        if r.u(1):                      # overscan_info_present
            r.u(1)
        if r.u(1):                      # video_signal_type_present
            r.u(4)
            if r.u(1):                  # colour_description_present
                r.u(24)
        if r.u(1):                      # chroma_loc_info_present
            r.ue(); r.ue()
        if r.u(1):                      # timing_info_present
            num_units = r.u(32)
            time_scale = r.u(32)
            fixed = r.u(1)
            if fixed and num_units and time_scale:
                tick_num, tick_den = 2 * num_units, time_scale
    return {"profile": profile, "level": level, "width": width,
            "height": height, "tick_num": tick_num, "tick_den": tick_den}


def probe_h264(payload: bytes) -> dict:
    """Walk an Annex-B elementary stream: start-code-delimited NAL
    units, dims from the first SPS, frame count from slice NALs whose
    first_mb_in_slice == 0 (one count per picture even for multi-slice
    frames), duration from VUI fixed-frame-rate timing when present."""
    if payload[:3] != b"\x00\x00\x01" and payload[:4] != b"\x00\x00\x00\x01":
        raise ValueError("no Annex-B start code")
    # split into NAL units on 00 00 01 (a preceding 00 belongs to the
    # 4-byte form); emulation prevention guarantees no false splits
    starts = []
    pos = 0
    while True:
        hit = payload.find(b"\x00\x00\x01", pos)
        if hit < 0:
            break
        starts.append(hit + 3)
        pos = hit + 3
    sps = None
    n_units = 0
    n_frames = 0
    for idx, start in enumerate(starts):
        end = (starts[idx + 1] - 3) if idx + 1 < len(starts) else len(payload)
        if end > start and payload[end - 1:end] == b"\x00" \
                and idx + 1 < len(starts):
            end -= 1                    # 4-byte start code's leading zero
        nal = payload[start:end]
        if not nal:
            raise ValueError("empty NAL unit")
        if nal[0] & 0x80:
            raise ValueError("forbidden_zero_bit set")
        ntype = nal[0] & 0x1F
        n_units += 1
        if ntype == 7 and sps is None:
            sps = _parse_sps(_rbsp_unescape(nal[1:]))
        elif ntype in (1, 5):
            head = _BitReader(_rbsp_unescape(nal[1:9]))
            if head.ue() == 0:          # first_mb_in_slice
                n_frames += 1
    if sps is None:
        raise ValueError("no SPS in stream")
    duration = None
    if sps["tick_num"] and n_frames:
        duration = n_frames * 1000 * sps["tick_num"] // sps["tick_den"]
    return {
        "container": "h264",
        "n_units": n_units,
        "duration_ms": duration,
        "sample_rate": None,
        "channels": None,
        "bit_rate_kbps": None,
        "is_cbr": None,
        "width": sps["width"],
        "height": sps["height"],
    }


def probe_flac(payload: bytes) -> dict:
    """Walk FLAC metadata blocks (RFC 9639 §8): STREAMINFO gives the
    packed sample rate / channels / bit depth / total-sample count;
    n_units counts the metadata blocks walked."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    n_blocks = 0
    last = False
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC block header")
        head = payload[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        size = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = pos + 4
        if body + size > len(payload):
            raise ValueError("truncated FLAC block body")
        if btype == 127:
            raise ValueError("invalid FLAC block type 127")
        n_blocks += 1
        if btype == 0:
            if size != 34:
                raise ValueError("STREAMINFO must be 34 bytes")
            packed = int.from_bytes(payload[body + 10:body + 18], "big")
            sr = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            total = packed & ((1 << 36) - 1)
            if sr == 0:
                raise ValueError("FLAC sample rate is zero")
            if info is None:
                info = (sr, channels, total)
        pos = body + size
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    sr, channels, total = info
    return {
        "container": "flac",
        "n_units": n_blocks,
        "duration_ms": total * 1000 // sr,
        "sample_rate": sr,
        "channels": channels,
        "bit_rate_kbps": None,
        "is_cbr": None,
        "width": None,
        "height": None,
    }


#: the probed features; ``probe_media`` adds ``asset_id`` and ``kind``
PROBE_SCHEMA = StructType([
    StructField("container", StringType(), True),
    StructField("n_units", LongType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("sample_rate", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("bit_rate_kbps", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
])


def _probe_row(b: bytes) -> dict:
    try:
        if len(b) >= 12 and b[4:8] == b"ftyp":
            return probe_mp4(b)
        if b[:4] == b"fLaC":
            return probe_flac(b)
        if b[:4] == b"\x1a\x45\xdf\xa3":
            return probe_webm(b)
        if b[:4] == b"OggS":
            return probe_ogg(b)
        if b[:3] == b"\x00\x00\x01" or b[:4] == b"\x00\x00\x00\x01":
            return probe_h264(b)
        if b[:3] == b"ID3" or (len(b) >= 2 and b[0] == 0xFF and b[1] & 0xE0 == 0xE0):
            return probe_mp3(b)
    except Exception:
        pass  # hostile payload → NULLs
    return {}


def probe_media(assets: DataFrame) -> DataFrame:
    """Structural probe over binary payloads: one ``doc_udf`` struct
    column over the first ``MAX_DOC_BYTES`` of each payload, the same
    Arrow batch shape as multimodal.extract_features.  Unknown or
    broken containers and null payloads yield NULL features, never a
    task failure."""
    meta = doc_udf(PROBE_SCHEMA, _probe_row)("payload")
    return assets.select("asset_id", "kind", meta.alias("_m")).select(
        "asset_id", "kind", "_m.*")


def synth_mp3(asset_id: int) -> bytes:
    """Deterministic MPEG-1 Layer III CBR stream: 3 + id%5 frames,
    bitrate index 1 + id%14, sample-rate index id%3, mono for even
    ids — every probed field is closed-form in the id."""
    n_frames = 3 + asset_id % 5
    br_idx = 1 + asset_id % 14
    sr_idx = asset_id % 3
    mode = 3 if asset_id % 2 == 0 else 0   # mono / stereo
    bitrate = _BITRATE_V1[3][br_idx] * 1000
    samplerate = _SAMPLERATE[3][sr_idx]
    frame_len = 144 * bitrate // samplerate  # padding bit 0
    header = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (br_idx << 12) | (sr_idx << 10) | (mode << 6)
    frame = struct.pack(">I", header) + bytes(
        (asset_id * 17 + i) % 256 for i in range(frame_len - 4))
    # leading ID3v2 tag (8-byte body) + trailing ID3v1 tag, both walked
    id3v2 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 8]) + b"\x00" * 8
    id3v1 = b"TAG" + bytes(125)
    return id3v2 + frame * n_frames + id3v1


def synth_mp4(asset_id: int) -> bytes:
    """Deterministic minimal MP4: ftyp + moov(mvhd + video trak) —
    duration/timescale/dims closed-form in the id."""
    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    timescale = 1000 * (1 + asset_id % 4)
    duration = (10 + asset_id) * timescale // 2   # exact halves: ms is integral
    w, hgt = 160 + 16 * (asset_id % 8), 90 + 9 * (asset_id % 8)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = box(b"mvhd", bytes(4) + bytes(8)
               + struct.pack(">II", timescale, duration) + bytes(80))
    tkhd = box(b"tkhd", bytes(4) + bytes(20) + bytes(8) + bytes(8) + bytes(36)
               + struct.pack(">II", w << 16, hgt << 16))
    hdlr = box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    mdia = box(b"mdia", hdlr)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov


class _BitWriter:
    """MSB-first bit writer with Exp-Golomb encode (synth-side twin
    of ``_BitReader``)."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, n: int, val: int) -> "_BitWriter":
        for i in range(n - 1, -1, -1):
            self.bits.append((val >> i) & 1)
        return self

    def ue(self, val: int) -> "_BitWriter":
        k = val + 1
        nbits = k.bit_length()
        return self.u(2 * nbits - 1, k)

    def rbsp(self) -> bytes:
        """rbsp_trailing_bits: stop bit + zero-pad to a byte."""
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i:i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
        return bytes(out)


def synth_h264(asset_id: int) -> bytes:
    """Deterministic Annex-B stream: SPS (High profile for even ids —
    exercising the chroma-format branch — Baseline for odd), PPS, one
    IDR + n non-IDR slice NALs; dims, frame count and VUI timing all
    closed-form in the id.  width = 16*(1 + id%10) - 2*(id%4),
    height = 16*(1 + id%6) - 2*(id%3), n_frames = 2 + id%7,
    fps = 24 + id%4."""
    profile = 100 if asset_id % 2 == 0 else 66
    mbs_w = 1 + asset_id % 10
    mus_h = 1 + asset_id % 6
    crop_r = asset_id % 4
    crop_b = asset_id % 3
    fps = 24 + asset_id % 4
    n_frames = 2 + asset_id % 7

    w = _BitWriter()
    w.u(8, profile).u(8, 0).u(8, 31)        # profile, constraints, level
    w.ue(0)                                  # sps_id
    if profile == 100:
        w.ue(1)                              # chroma_format_idc 4:2:0
        w.ue(0).ue(0).u(1, 0)                # bit depths, qpprime
        w.u(1, 0)                            # no scaling matrices
    w.ue(0)                                  # log2_max_frame_num_minus4
    w.ue(2)                                  # pic_order_cnt_type 2
    w.ue(1).u(1, 0)                          # max refs, no gaps
    w.ue(mbs_w - 1).ue(mus_h - 1)
    w.u(1, 1).u(1, 1)                        # frame_mbs_only, direct_8x8
    if crop_r or crop_b:
        w.u(1, 1).ue(0).ue(crop_r).ue(0).ue(crop_b)
    else:
        w.u(1, 0)
    w.u(1, 1)                                # vui_parameters_present
    w.u(1, 0).u(1, 0).u(1, 0).u(1, 0)        # aspect/overscan/signal/loc
    w.u(1, 1)                                # timing_info_present
    w.u(32, 1).u(32, 2 * fps).u(1, 1)        # tick, scale, fixed rate
    w.u(1, 0).u(1, 0).u(1, 0).u(1, 0)        # hrd x2, pic_struct, restrict
    sps_rbsp = w.rbsp()

    def nal(ref_idc: int, ntype: int, body: bytes, four: bool) -> bytes:
        start = b"\x00\x00\x00\x01" if four else b"\x00\x00\x01"
        return start + bytes([(ref_idc << 5) | ntype]) + _rbsp_escape(body)

    pps = _BitWriter().ue(0).ue(0).u(1, 0).u(1, 0).ue(0).rbsp()
    slice_body = _BitWriter().ue(0).rbsp() + bytes(
        (asset_id * 31 + k) % 255 + 1 for k in range(8))
    out = nal(3, 7, sps_rbsp, four=True) + nal(3, 8, pps, four=False)
    out += nal(3, 5, slice_body, four=True)
    for _ in range(n_frames - 1):
        out += nal(2, 1, slice_body, four=False)
    return out


def synth_flac(asset_id: int) -> bytes:
    """Deterministic FLAC: STREAMINFO + 1 + id%3 padding blocks;
    sample rate / channels / total samples closed-form in the id."""
    sr = [8000, 16000, 22050, 44100, 48000][asset_id % 5]
    channels = 1 + asset_id % 2
    total = 1000 + 37 * asset_id
    packed = (sr << 44) | ((channels - 1) << 41) | ((16 - 1) << 36) | total
    streaminfo = (struct.pack(">HH", 1024, 4096)
                  + (64).to_bytes(3, "big") + (4096).to_bytes(3, "big")
                  + packed.to_bytes(8, "big") + bytes(16))
    out = b"fLaC" + bytes([0]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    n_pad = 1 + asset_id % 3
    for j in range(n_pad):
        last = j == n_pad - 1
        out += bytes([(0x80 if last else 0) | 1]) + (4).to_bytes(3, "big") \
            + bytes(4)
    return out


# --- WebM / Matroska (EBML, RFC 8794 + Matroska spec) -----------------

_EBML_HEADER = 0x1A45DFA3
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_VIDEO = 0xE0
_MKV_AUDIO = 0xE1
_MKV_TS_SCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACK_TYPE = 0x83
_MKV_PIXEL_W = 0xB0
_MKV_PIXEL_H = 0xBA
_MKV_SAMPLING = 0xB5
_MKV_CHANNELS = 0x9F
_MKV_DOCTYPE = 0x4282
_MKV_MASTERS = {_EBML_HEADER, _MKV_SEGMENT, _MKV_INFO, _MKV_TRACKS,
                _MKV_TRACK_ENTRY, _MKV_VIDEO, _MKV_AUDIO}


def _ebml_vint(payload: bytes, pos: int, end: int, keep_marker: bool):
    """Read one EBML variable-length integer; returns (value, newpos).
    ``None`` value signals the reserved all-ones 'unknown size'."""
    if pos >= end:
        raise ValueError("EBML vint past end")
    b0 = payload[pos]
    if b0 == 0:
        raise ValueError("EBML vint length > 8")
    length = 9 - b0.bit_length()
    if pos + length > end:
        raise ValueError("truncated EBML vint")
    value = int.from_bytes(payload[pos:pos + length], "big")
    if not keep_marker:
        mask = (1 << (7 * length)) - 1
        value &= mask
        if value == mask:
            return None, pos + length    # unknown size
    return value, pos + length


def _ebml_uint(payload: bytes) -> int:
    if len(payload) > 8:
        raise ValueError("EBML uint too wide")
    return int.from_bytes(payload, "big")


def _ebml_float(payload: bytes) -> float:
    if len(payload) == 4:
        return struct.unpack(">f", payload)[0]
    if len(payload) == 8:
        return struct.unpack(">d", payload)[0]
    if len(payload) == 0:
        return 0.0
    raise ValueError("EBML float must be 0/4/8 bytes")


def _walk_ebml(payload: bytes, pos: int, end: int, depth: int, out: dict):
    if depth > 8:
        raise ValueError("EBML nesting too deep")
    while pos < end:
        eid, pos = _ebml_vint(payload, pos, end, keep_marker=True)
        size, pos = _ebml_vint(payload, pos, end, keep_marker=False)
        if size is None:
            if eid != _MKV_SEGMENT:   # unknown size: Segment-only here
                raise ValueError("unknown EBML size outside Segment")
            size = end - pos
        if pos + size > end:
            raise ValueError("EBML element size out of bounds")
        body = payload[pos:pos + size]
        if eid in _MKV_MASTERS:
            if eid == _MKV_TRACK_ENTRY:
                out["n_tracks"] = out.get("n_tracks", 0) + 1
            _walk_ebml(payload, pos, pos + size, depth + 1, out)
        elif eid == _MKV_TS_SCALE:
            out["ts_scale"] = _ebml_uint(body)
        elif eid == _MKV_DURATION:
            out["duration"] = _ebml_float(body)
        elif eid == _MKV_PIXEL_W:
            out["width"] = max(out.get("width") or 0, _ebml_uint(body))
        elif eid == _MKV_PIXEL_H:
            out["height"] = max(out.get("height") or 0, _ebml_uint(body))
        elif eid == _MKV_SAMPLING:
            out.setdefault("rate", _ebml_float(body))
        elif eid == _MKV_CHANNELS:
            out.setdefault("channels", _ebml_uint(body))
        elif eid == _MKV_DOCTYPE:
            out["doctype"] = body.decode("latin1").rstrip("\x00")
        pos += size


def probe_webm(payload: bytes) -> dict:
    """Walk the EBML tree of a WebM/Matroska file: Info gives
    TimestampScale (ns per tick, default 10^6) and float Duration in
    ticks; TrackEntry/Video gives pixel dims; TrackEntry/Audio gives
    sampling rate + channels."""
    if payload[:4] != _EBML_HEADER.to_bytes(4, "big"):
        raise ValueError("not an EBML stream")
    out: dict = {}
    _walk_ebml(payload, 0, len(payload), 0, out)
    if out.get("doctype") not in ("webm", "matroska"):
        raise ValueError("EBML doctype is not webm/matroska")
    duration = None
    if "duration" in out:
        ts_scale = out.get("ts_scale", 1_000_000)
        if not (out["duration"] >= 0):
            raise ValueError("negative/NaN Matroska duration")
        duration = int(out["duration"] * ts_scale) // 1_000_000
    rate = out.get("rate")
    return {
        "container": "webm",
        "n_units": out.get("n_tracks", 0),
        "duration_ms": duration,
        "sample_rate": int(rate) if rate else None,
        "channels": out.get("channels"),
        "bit_rate_kbps": None,
        "is_cbr": None,
        "width": out.get("width"),
        "height": out.get("height"),
    }


# --- Ogg (RFC 3533) with Vorbis / Opus id headers ---------------------


def probe_ogg(payload: bytes) -> dict:
    """Walk every Ogg page (capture-pattern + lacing-table sizes, CRC
    not verified), read the codec id header from the first BOS page
    (Vorbis I §4.2.2 or RFC 7845 OpusHead), and derive duration from
    the final page's granule position — PCM samples at the codec rate
    for Vorbis, 48 kHz ticks minus pre-skip for Opus."""
    pos = 0
    n_pages = 0
    rate = None
    channels = None
    codec = None
    preskip = 0
    last_granule = None
    end = len(payload)
    while pos < end:
        if payload[pos:pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at {pos}")
        if pos + 27 > end:
            raise ValueError("truncated Ogg page header")
        if payload[pos + 4] != 0:
            raise ValueError("unsupported Ogg version")
        granule = int.from_bytes(payload[pos + 6:pos + 14], "little",
                                 signed=True)
        nsegs = payload[pos + 26]
        lace_end = pos + 27 + nsegs
        if lace_end > end:
            raise ValueError("truncated Ogg lacing table")
        body_len = sum(payload[pos + 27:lace_end])
        body = payload[lace_end:lace_end + body_len]
        if len(body) != body_len:
            raise ValueError("truncated Ogg page body")
        if payload[pos + 5] & 0x02 and codec is None:     # BOS page
            if body[:7] == b"\x01vorbis":
                if len(body) < 16:
                    raise ValueError("truncated Vorbis id header")
                codec = "vorbis"
                channels = body[11]
                rate = int.from_bytes(body[12:16], "little")
            elif body[:8] == b"OpusHead":
                if len(body) < 19:
                    raise ValueError("truncated OpusHead")
                codec = "opus"
                channels = body[9]
                preskip = int.from_bytes(body[10:12], "little")
                rate = 48000           # Opus granules are 48 kHz ticks
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        pos = lace_end + body_len
    if n_pages == 0:
        raise ValueError("no Ogg pages")
    if codec is None:
        raise ValueError("no Vorbis/Opus id header on a BOS page")
    if not rate:
        raise ValueError("Ogg id header has zero rate")
    duration = None
    if last_granule is not None:
        ticks = max(0, last_granule - (preskip if codec == "opus" else 0))
        duration = ticks * 1000 // rate
    return {
        "container": "ogg-" + codec,
        "n_units": n_pages,
        "duration_ms": duration,
        "sample_rate": rate,
        "channels": channels,
        "bit_rate_kbps": None,
        "is_cbr": None,
        "width": None,
        "height": None,
    }


def _ebml_encode_vint(n: int) -> bytes:
    """Minimal-length EBML size encoding (marker bit included)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | n).to_bytes(length, "big")
    raise ValueError("EBML size too large")


def _ebml_el(eid: int, body: bytes) -> bytes:
    nbytes = max(1, (eid.bit_length() + 7) // 8)
    return eid.to_bytes(nbytes, "big") + _ebml_encode_vint(len(body)) + body


def synth_webm(asset_id: int) -> bytes:
    """Deterministic WebM: EBML header (doctype webm) + Segment with
    Info (TimestampScale 10^6, integral float Duration) and Tracks
    (one video + one audio TrackEntry) — every probed field
    closed-form in the id."""
    duration = float(600 + 13 * asset_id)
    width, height = 320 + 16 * (asset_id % 6), 180 + 9 * (asset_id % 6)
    rate = [16000, 24000, 48000][asset_id % 3]
    channels = 1 + asset_id % 2
    header = _ebml_el(_EBML_HEADER, _ebml_el(_MKV_DOCTYPE, b"webm"))
    info = _ebml_el(_MKV_INFO,
                    _ebml_el(_MKV_TS_SCALE, (1_000_000).to_bytes(3, "big"))
                    + _ebml_el(_MKV_DURATION, struct.pack(">d", duration)))
    video_track = _ebml_el(_MKV_TRACK_ENTRY,
                           _ebml_el(_MKV_TRACK_TYPE, b"\x01")
                           + _ebml_el(_MKV_VIDEO,
                                      _ebml_el(_MKV_PIXEL_W,
                                               width.to_bytes(2, "big"))
                                      + _ebml_el(_MKV_PIXEL_H,
                                                 height.to_bytes(2, "big"))))
    audio_track = _ebml_el(_MKV_TRACK_ENTRY,
                           _ebml_el(_MKV_TRACK_TYPE, b"\x02")
                           + _ebml_el(_MKV_AUDIO,
                                      _ebml_el(_MKV_SAMPLING,
                                               struct.pack(">d", float(rate)))
                                      + _ebml_el(_MKV_CHANNELS,
                                                 bytes([channels]))))
    tracks = _ebml_el(_MKV_TRACKS, video_track + audio_track)
    return header + _ebml_el(_MKV_SEGMENT, info + tracks)


def _ogg_page(serial: int, seq: int, granule: int, header_type: int,
              body: bytes) -> bytes:
    laces = []
    rest = len(body)
    while rest >= 255:
        laces.append(255)
        rest -= 255
    laces.append(rest)
    return (b"OggS\x00" + bytes([header_type])
            + granule.to_bytes(8, "little", signed=True)
            + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
            + bytes(4)                    # CRC not verified by the probe
            + bytes([len(laces)]) + bytes(laces) + body)


def synth_ogg(asset_id: int) -> bytes:
    """Deterministic Ogg: a BOS id-header page (Vorbis for even ids,
    Opus for odd) + 1 + id%4 audio pages, the last carrying the
    closed-form total-samples granule."""
    serial = 0x1000 + asset_id
    total = 2000 + 53 * asset_id
    if asset_id % 2 == 0:
        rate = [8000, 16000, 44100, 48000][asset_id % 4]
        idhdr = (b"\x01vorbis" + bytes(4) + bytes([1 + asset_id % 2])
                 + rate.to_bytes(4, "little") + bytes(12))
    else:
        preskip = 312
        idhdr = (b"OpusHead\x01" + bytes([2]) + preskip.to_bytes(2, "little")
                 + (48000).to_bytes(4, "little") + bytes(7))
        total += preskip               # granules include pre-skip
    out = _ogg_page(serial, 0, 0, 0x02, idhdr)
    n_data = 1 + asset_id % 4
    for j in range(n_data):
        granule = total if j == n_data - 1 else (total * (j + 1)) // n_data
        flags = 0x04 if j == n_data - 1 else 0
        body = bytes((asset_id * 7 + j + k) % 251 + 1 for k in range(40))
        out += _ogg_page(serial, j + 1, granule, flags, body)
    return out
