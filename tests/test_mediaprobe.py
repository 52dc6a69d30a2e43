"""Structural media probe tests: MP3 frame walking (ISO 11172-3
headers, ID3 tags, padding, VBR) and MP4 box walking (14496-12 —
version-1 boxes, largesize, size-0, depth/zero-timescale hostility),
plus the Spark ``doc_udf`` path's NULL-on-hostile contract."""

import struct

import pytest

from html_parser_spark.operators.mediaprobe import (
    _BITRATE_V1, _SAMPLERATE, probe_media, probe_mp3, probe_mp4,
    probe_ogg, probe_webm, synth_mp3, synth_mp4, synth_ogg, synth_webm,
)
from html_parser_spark.operators.multimodal import ASSET_SCHEMA


def _mp3_header(version=3, layer_bits=1, br_idx=9, sr_idx=0, padding=0,
                mode=3) -> int:
    return ((0x7FF << 21) | (version << 19) | (layer_bits << 17) | (1 << 16)
            | (br_idx << 12) | (sr_idx << 10) | (padding << 9) | (mode << 6))


def _mp3_frame(br_idx=9, sr_idx=0, padding=0, mode=3) -> bytes:
    bitrate = _BITRATE_V1[3][br_idx] * 1000
    sr = _SAMPLERATE[3][sr_idx]
    frame_len = 144 * bitrate // sr + padding
    return struct.pack(">I", _mp3_header(
        br_idx=br_idx, sr_idx=sr_idx, padding=padding, mode=mode,
    )) + bytes(frame_len - 4)


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


class TestMp3:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_mp3(synth_mp3(i))
            sr = _SAMPLERATE[3][i % 3]
            nf = 3 + i % 5
            assert meta["container"] == "mp3"
            assert meta["n_units"] == nf
            assert meta["sample_rate"] == sr
            assert meta["channels"] == (1 if i % 2 == 0 else 2)
            assert meta["bit_rate_kbps"] == _BITRATE_V1[3][1 + i % 14]
            assert meta["duration_ms"] == nf * 1152 * 1000 // sr
            assert meta["is_cbr"] is True
            assert meta["width"] is None and meta["height"] is None

    def test_padding_bit_lengthens_frame(self):
        # 44100 Hz Layer III: padded frames are one byte longer; a walk
        # that ignored the bit would desync on the very next header
        meta = probe_mp3(_mp3_frame(padding=1) + _mp3_frame(padding=0))
        assert meta["n_units"] == 2
        assert meta["is_cbr"] is True

    def test_vbr_classified_and_averaged(self):
        meta = probe_mp3(_mp3_frame(br_idx=5) + _mp3_frame(br_idx=9))
        assert meta["is_cbr"] is False
        b5, b9 = _BITRATE_V1[3][5] * 1000, _BITRATE_V1[3][9] * 1000
        assert meta["bit_rate_kbps"] == (b5 + b9) // 2 // 1000

    def test_vbr_average_is_frame_weighted(self):
        """100 frames at br_idx=14 (320k) + 1 at br_idx=1 (32k) must report
        the frame-weighted mean (~317), not the mean of distinct values
        (176) — ADVICE r4."""
        meta = probe_mp3(_mp3_frame(br_idx=14) * 100 + _mp3_frame(br_idx=1))
        assert meta["is_cbr"] is False
        b_hi, b_lo = _BITRATE_V1[3][14] * 1000, _BITRATE_V1[3][1] * 1000
        assert meta["bit_rate_kbps"] == (100 * b_hi + b_lo) // 101 // 1000
        assert meta["bit_rate_kbps"] > 300  # not the distinct-mean 176

    def test_id3v2_and_id3v1_skipped(self):
        frame = _mp3_frame()
        id3v2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 20]) + bytes(20)
        assert probe_mp3(id3v2 + frame + b"TAG" + bytes(125))["n_units"] == 1

    def test_id3v24_footer_flag_skips_10_extra_bytes(self):
        """ID3v2.4 flags bit 0x10 appends a 10-byte footer not counted in
        the syncsafe size — the sync check must land on the frame."""
        frame = _mp3_frame()
        tag = b"ID3\x04\x00\x10" + bytes([0, 0, 0, 20]) + bytes(20) + b"3DI" + bytes(7)
        assert probe_mp3(tag + frame)["n_units"] == 1

    def test_non_syncsafe_id3_size_rejected(self):
        with pytest.raises(ValueError, match="syncsafe"):
            probe_mp3(b"ID3\x03\x00\x00" + bytes([0, 0, 0x80, 0]) + bytes(200))

    @pytest.mark.parametrize("mutate, msg", [
        (lambda f: b"\x00" + f, "bad MPEG sync"),
        (lambda f: struct.pack(">I", _mp3_header(version=1)) + f[4:],
         "reserved MPEG version"),
        (lambda f: struct.pack(">I", _mp3_header(br_idx=0)) + f[4:],
         "free-format"),
        (lambda f: struct.pack(">I", _mp3_header(br_idx=15)) + f[4:],
         "free-format"),
        (lambda f: struct.pack(">I", _mp3_header(sr_idx=3)) + f[4:],
         "reserved sample-rate"),
        (lambda f: f[:-1], "truncated MPEG frame body"),
        (lambda f: b"", "no MPEG frames"),
    ])
    def test_hostile_rejected(self, mutate, msg):
        with pytest.raises(ValueError, match=msg):
            probe_mp3(mutate(_mp3_frame()))

    def test_samplerate_change_rejected(self):
        with pytest.raises(ValueError, match="sample-rate change"):
            probe_mp3(_mp3_frame(sr_idx=0) + _mp3_frame(sr_idx=1))

    def test_truncation_sweep_never_hangs_or_lies(self):
        full = synth_mp3(7)
        for cut in range(len(full)):
            try:
                meta = probe_mp3(full[:cut])
            except ValueError:
                continue
            # a boundary-aligned prefix is a shorter valid stream
            assert 1 <= meta["n_units"] <= 8


class TestMp4:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_mp4(synth_mp4(i))
            assert meta["container"] == "mp4"
            assert meta["n_units"] == 1
            assert meta["duration_ms"] == (10 + i) * 500
            assert meta["sample_rate"] == 1000 * (1 + i % 4)
            assert meta["width"] == 160 + 16 * (i % 8)
            assert meta["height"] == 90 + 9 * (i % 8)
            assert meta["channels"] is None

    def test_version1_mvhd_and_tkhd(self):
        mvhd = _box(b"mvhd", b"\x01" + bytes(3) + bytes(16)
                    + struct.pack(">IQ", 600, 1200) + bytes(80))
        tkhd = _box(b"tkhd", b"\x01" + bytes(3) + bytes(32) + bytes(8)
                    + bytes(8) + bytes(36)
                    + struct.pack(">II", 320 << 16, 240 << 16))
        payload = (_box(b"ftyp", b"isom" + bytes(8))
                   + _box(b"moov", mvhd + _box(b"trak", tkhd)))
        meta = probe_mp4(payload)
        assert meta["duration_ms"] == 2000
        assert (meta["width"], meta["height"]) == (320, 240)

    def test_soun_handler_counted_as_channel(self):
        base = synth_mp4(3)
        hdlr = _box(b"hdlr", bytes(8) + b"soun" + bytes(12))
        tkhd = _box(b"tkhd", bytes(4) + bytes(20) + bytes(8) + bytes(8)
                    + bytes(36) + struct.pack(">II", 0, 0))  # no dims: audio
        trak = _box(b"trak", tkhd + _box(b"mdia", hdlr))
        # splice an audio trak into moov: rebuild moov with a larger size
        moov_off = len(_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2"))
        moov_size = struct.unpack_from(">I", base, moov_off)[0]
        new_moov = struct.pack(">I", moov_size + len(trak)) \
            + base[moov_off + 4:moov_off + moov_size] + trak
        meta = probe_mp4(base[:moov_off] + new_moov)
        assert meta["channels"] == 1
        assert meta["n_units"] == 2

    def test_largesize_and_size0_boxes(self):
        free_body = bytes(16)
        large = struct.pack(">I", 1) + b"free" \
            + struct.pack(">Q", 16 + len(free_body)) + free_body
        tail0 = struct.pack(">I", 0) + b"skip" + bytes(5)  # runs to EOF
        base = synth_mp4(0)
        meta = probe_mp4(base + large + tail0)
        assert meta["duration_ms"] == probe_mp4(base)["duration_ms"]

    @pytest.mark.parametrize("payload, msg", [
        (b"\x00" * 16, "no ftyp"),
        (_box(b"ftyp", b"isom") + struct.pack(">I", 999) + b"moov",
         "out of bounds"),
        (_box(b"ftyp", b"isom") + struct.pack(">I", 1) + b"free" + bytes(4),
         "truncated MP4 largesize"),
        (_box(b"ftyp", b"isom") + struct.pack(">I", 4) + b"moov",
         "out of bounds"),  # size smaller than its own header
        (_box(b"ftyp", b"isom"), "missing moov/mvhd"),
    ])
    def test_hostile_rejected(self, payload, msg):
        with pytest.raises(ValueError, match=msg):
            probe_mp4(payload)

    def test_zero_timescale_rejected(self):
        mvhd = _box(b"mvhd", bytes(4) + bytes(8)
                    + struct.pack(">II", 0, 100) + bytes(80))
        payload = _box(b"ftyp", b"isom") + _box(b"moov", mvhd)
        with pytest.raises(ValueError, match="timescale is zero"):
            probe_mp4(payload)

    def test_nesting_bomb_rejected(self):
        inner = _box(b"trak", b"")
        for _ in range(10):
            inner = _box(b"trak", inner)
        with pytest.raises(ValueError, match="nesting too deep"):
            probe_mp4(_box(b"ftyp", b"isom") + inner)

    def test_truncation_sweep_never_hangs(self):
        full = synth_mp4(5)
        for cut in range(len(full)):
            try:
                probe_mp4(full[:cut])
            except ValueError:
                pass


class TestSparkPath:
    def test_mixed_batch_with_hostiles(self, spark):
        rows = [
            (0, "audio", bytearray(synth_mp3(0)), {}),
            (1, "video", bytearray(synth_mp4(1)), {}),
            (2, "audio", bytearray(b"\xff\xfb garbage not frames"), {}),
            (3, "video", bytearray(b"\x00\x00\x00\x08ftyp"), {}),
            (4, "audio", None, {}),
            (5, "other", bytearray(b"plain text"), {}),
        ]
        out = {r["asset_id"]: r.asDict() for r in probe_media(
            spark.createDataFrame(rows, ASSET_SCHEMA)).collect()}
        assert out[0]["container"] == "mp3"
        assert out[0]["duration_ms"] == probe_mp3(synth_mp3(0))["duration_ms"]
        assert out[1]["container"] == "mp4"
        assert out[1]["width"] == probe_mp4(synth_mp4(1))["width"]
        for hostile in (2, 3, 4, 5):
            assert out[hostile]["container"] is None
            assert out[hostile]["duration_ms"] is None


from html_parser_spark.operators.mediaprobe import (  # noqa: E402
    _BitReader, _BitWriter, _parse_sps, _rbsp_escape, _rbsp_unescape,
    probe_flac, probe_h264, synth_flac, synth_h264,
)


class TestH264:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_h264(synth_h264(i))
            assert meta["container"] == "h264"
            assert meta["width"] == 16 * (1 + i % 10) - 2 * (i % 4)
            assert meta["height"] == 16 * (1 + i % 6) - 2 * (i % 3)
            assert meta["n_units"] == 4 + i % 7
            assert meta["duration_ms"] == (2 + i % 7) * 1000 // (24 + i % 4)
            assert meta["sample_rate"] is None

    def test_exp_golomb_roundtrip(self):
        w = _BitWriter()
        vals = [0, 1, 2, 3, 7, 8, 254, 255, 100000]
        for v in vals:
            w.ue(v)
        r = _BitReader(w.rbsp())
        assert [r.ue() for _ in vals] == vals

    def test_emulation_prevention_roundtrip(self):
        # an RBSP that would otherwise embed a start code
        rbsp = b"\x00\x00\x01\x00\x00\x00\x00\x00\x02\x00\x00\x03"
        escaped = _rbsp_escape(rbsp)
        assert b"\x00\x00\x01" not in escaped
        assert b"\x00\x00\x00" not in escaped
        assert _rbsp_unescape(escaped) == rbsp

    def test_sps_with_escape_sequence_parses(self):
        # log2_max_frame_num_minus4 = 0 etc. produce long zero runs in
        # the SPS of wide streams; pick an id whose SPS genuinely needs
        # escaping, then verify the probe's unescape recovers the dims
        for i in range(64):
            sps_nal_start = synth_h264(i).find(b"\x00\x00\x00\x01") + 5
            raw = synth_h264(i)
            end = raw.find(b"\x00\x00\x01", sps_nal_start)
            if b"\x00\x00\x03" in raw[sps_nal_start:end]:
                break
        else:
            pytest.skip("no synthesized SPS required escaping")
        assert probe_h264(raw)["width"] == 16 * (1 + i % 10) - 2 * (i % 4)

    def test_multi_slice_frame_counted_once(self):
        # append a second slice of the same frame (first_mb_in_slice=4)
        base = synth_h264(1)
        extra = b"\x00\x00\x01" + bytes([(2 << 5) | 1]) \
            + _rbsp_escape(_BitWriter().ue(4).rbsp() + b"\x55" * 8)
        meta = probe_h264(base + extra)
        assert meta["n_units"] == probe_h264(base)["n_units"] + 1
        assert meta["duration_ms"] == probe_h264(base)["duration_ms"]

    def test_baseline_profile_has_no_chroma_branch(self):
        # odd ids are profile 66: first SPS byte after the NAL header
        raw = synth_h264(1)
        sps_off = raw.find(b"\x00\x00\x00\x01") + 5
        assert raw[sps_off] == 66
        high = synth_h264(0)
        assert high[high.find(b"\x00\x00\x00\x01") + 5] == 100

    @pytest.mark.parametrize("mutate, msg", [
        (lambda s: b"\x01" + s, "no Annex-B start code"),
        (lambda s: s + b"\x00\x00\x01", "empty NAL"),
    ])
    def test_hostile_rejected(self, mutate, msg):
        with pytest.raises(ValueError, match=msg):
            probe_h264(mutate(synth_h264(2)))

    def test_forbidden_bit_in_nal_header(self):
        s = synth_h264(2)
        # first NAL header byte sits after the 4-byte start code
        bad = s[:4] + bytes([s[4] | 0x80]) + s[5:]
        with pytest.raises(ValueError, match="forbidden_zero_bit"):
            probe_h264(bad)

    def test_stream_without_sps_rejected(self):
        body = _BitWriter().ue(0).rbsp() + b"\x55" * 4
        nal = b"\x00\x00\x00\x01" + bytes([(2 << 5) | 1]) + _rbsp_escape(body)
        with pytest.raises(ValueError, match="no SPS"):
            probe_h264(nal)

    def test_truncated_sps_rejected(self):
        s = synth_h264(4)
        # cut inside the SPS (before the PPS start code)
        pps_at = s.find(b"\x00\x00\x01", 4)
        with pytest.raises(ValueError):
            probe_h264(s[:pps_at - 4])

    def test_overlong_exp_golomb_rejected(self):
        r = _BitReader(bytes(10))   # 80 zero bits: no marker bit
        with pytest.raises(ValueError):
            r.ue()

    def test_crop_exceeding_frame_rejected(self):
        w = _BitWriter()
        w.u(8, 66).u(8, 0).u(8, 31)
        w.ue(0)            # sps_id
        w.ue(0)            # log2_max_frame_num_minus4
        w.ue(2)            # poc type
        w.ue(1).u(1, 0)
        w.ue(0).ue(0)      # 16x16 coded frame
        w.u(1, 1).u(1, 1)
        w.u(1, 1).ue(0).ue(50).ue(0).ue(0)   # crop_right 50 -> -84 px
        w.u(1, 0)
        with pytest.raises(ValueError, match="cropping exceeds"):
            _parse_sps(w.rbsp())

    def test_truncation_sweep_never_hangs(self):
        full = synth_h264(7)
        for cut in range(len(full)):
            try:
                probe_h264(full[:cut])
            except ValueError:
                pass


class TestFlac:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_flac(synth_flac(i))
            sr = [8000, 16000, 22050, 44100, 48000][i % 5]
            assert meta["container"] == "flac"
            assert meta["sample_rate"] == sr
            assert meta["channels"] == 1 + i % 2
            assert meta["n_units"] == 2 + i % 3
            assert meta["duration_ms"] == (1000 + 37 * i) * 1000 // sr
            assert meta["width"] is None

    @pytest.mark.parametrize("mutate, msg", [
        (lambda s: b"flaC" + s[4:], "not a FLAC stream"),
        (lambda s: s[:6], "truncated FLAC block header"),
        (lambda s: s[:20], "truncated FLAC block body"),
        (lambda s: s[:4] + bytes([0x7F]) + s[5:], "invalid FLAC block type"),
        (lambda s: s[:5] + bytes([0, 0, 33]) + s[8:], "must be 34 bytes"),
    ])
    def test_hostile_rejected(self, mutate, msg):
        with pytest.raises(ValueError, match=msg):
            probe_flac(mutate(synth_flac(0)))

    def test_zero_sample_rate_rejected(self):
        s = bytearray(synth_flac(0))
        # sample rate is the top 20 bits of the packed field at
        # STREAMINFO offset 10 (stream offset 4 + 4 + 10)
        s[18:21] = bytes(3)
        with pytest.raises(ValueError, match="sample rate is zero"):
            probe_flac(bytes(s))

    def test_missing_streaminfo_rejected(self):
        payload = b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + bytes(4)
        with pytest.raises(ValueError, match="missing STREAMINFO"):
            probe_flac(payload)

    def test_truncation_sweep_never_hangs(self):
        full = synth_flac(9)
        for cut in range(len(full)):
            try:
                probe_flac(full[:cut])
            except ValueError:
                pass


class TestSparkPathAv:
    def test_h264_flac_dispatch_and_hostiles(self, spark):
        rows = [
            (0, "video", bytearray(synth_h264(0)), {}),
            (1, "audio", bytearray(synth_flac(1)), {}),
            (2, "video", bytearray(b"\x00\x00\x01\x80 junk"), {}),
            (3, "audio", bytearray(b"fLaC truncated"), {}),
        ]
        out = {r["asset_id"]: r.asDict() for r in probe_media(
            spark.createDataFrame(rows, ASSET_SCHEMA)).collect()}
        assert out[0]["container"] == "h264"
        assert out[0]["width"] == probe_h264(synth_h264(0))["width"]
        assert out[1]["container"] == "flac"
        assert out[1]["sample_rate"] == probe_flac(synth_flac(1))["sample_rate"]
        for hostile in (2, 3):
            assert out[hostile]["container"] is None


class TestWebm:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_webm(synth_webm(i))
            assert meta["container"] == "webm"
            assert meta["n_units"] == 2          # one video + one audio track
            assert meta["duration_ms"] == 600 + 13 * i
            assert meta["sample_rate"] == [16000, 24000, 48000][i % 3]
            assert meta["channels"] == 1 + i % 2
            assert meta["width"] == 320 + 16 * (i % 6)
            assert meta["height"] == 180 + 9 * (i % 6)

    @pytest.mark.parametrize("mutate, msg", [
        (lambda s: b"\x1a\x45\xdf\xa2" + s[4:], "not an EBML stream"),
        (lambda s: s[:9], "EBML element size out of bounds"),
        (lambda s: s.replace(b"webm", b"webb"), "doctype is not webm"),
    ])
    def test_hostile_rejected(self, mutate, msg):
        with pytest.raises(ValueError, match=msg):
            probe_webm(mutate(synth_webm(0)))

    def test_nesting_bomb_rejected(self):
        # 12 nested Segment-id elements: depth guard must fire, not
        # recurse unbounded.
        from html_parser_spark.operators.mediaprobe import (
            _EBML_HEADER, _MKV_DOCTYPE, _MKV_SEGMENT, _ebml_el,
        )
        body = b""
        for _ in range(12):
            body = _ebml_el(_MKV_SEGMENT, body)
        payload = _ebml_el(
            _EBML_HEADER, _ebml_el(_MKV_DOCTYPE, b"webm")) + body
        with pytest.raises(ValueError, match="nesting too deep"):
            probe_webm(payload)

    def test_unknown_size_segment_ok_elsewhere_rejected(self):
        from html_parser_spark.operators.mediaprobe import (
            _EBML_HEADER, _MKV_DOCTYPE, _MKV_DURATION, _MKV_INFO,
            _MKV_SEGMENT, _MKV_TS_SCALE, _ebml_el,
        )
        info = _ebml_el(
            _MKV_INFO,
            _ebml_el(_MKV_TS_SCALE, (1_000_000).to_bytes(3, "big"))
            + _ebml_el(_MKV_DURATION, struct.pack(">d", 250.0)))
        header = _ebml_el(_EBML_HEADER, _ebml_el(_MKV_DOCTYPE, b"webm"))
        # Segment with the reserved all-ones 1-byte size (unknown):
        # legal, spans to EOF.
        payload = header + _MKV_SEGMENT.to_bytes(4, "big") + b"\xff" + info
        assert probe_webm(payload)["duration_ms"] == 250
        # The same unknown size on Info is not allowed by the walker.
        bad = header + _ebml_el(
            _MKV_SEGMENT, _MKV_INFO.to_bytes(4, "big") + b"\xff" + info[5:])
        with pytest.raises(ValueError, match="unknown EBML size"):
            probe_webm(bad)

    def test_nan_duration_rejected(self):
        payload = synth_webm(0).replace(
            struct.pack(">d", 600.0), struct.pack(">d", float("nan")))
        with pytest.raises(ValueError, match="negative/NaN"):
            probe_webm(payload)

    def test_truncation_sweep_never_hangs(self):
        full = synth_webm(5)
        for cut in range(len(full)):
            try:
                probe_webm(full[:cut])
            except ValueError:
                pass


class TestOgg:
    def test_synth_roundtrip_closed_form(self):
        for i in range(20):
            meta = probe_ogg(synth_ogg(i))
            total = 2000 + 53 * i
            if i % 2 == 0:
                rate = [8000, 16000, 44100, 48000][i % 4]
                assert meta["container"] == "ogg-vorbis"
                assert meta["channels"] == 1
            else:
                rate = 48000
                assert meta["container"] == "ogg-opus"
                assert meta["channels"] == 2
            assert meta["sample_rate"] == rate
            assert meta["n_units"] == 2 + i % 4
            assert meta["duration_ms"] == total * 1000 // rate
            assert meta["width"] is None

    @pytest.mark.parametrize("mutate, msg", [
        (lambda s: b"OggZ" + s[4:], "bad Ogg capture pattern"),
        (lambda s: s[:20], "truncated Ogg page header"),
        (lambda s: s[:4] + b"\x01" + s[5:], "unsupported Ogg version"),
        (lambda s: s[:40], "truncated Ogg page body"),
    ])
    def test_hostile_rejected(self, mutate, msg):
        with pytest.raises(ValueError, match=msg):
            probe_ogg(mutate(synth_ogg(0)))

    def test_no_id_header_rejected(self):
        # A data-only stream (no BOS flag anywhere) has no codec.
        s = bytearray(synth_ogg(0))
        s[5] = 0                      # clear BOS on the first page
        with pytest.raises(ValueError, match="no Vorbis/Opus id header"):
            probe_ogg(bytes(s))

    def test_zero_rate_rejected(self):
        s = synth_ogg(0).replace(
            (8000).to_bytes(4, "little"), bytes(4), 1)
        with pytest.raises(ValueError, match="zero rate"):
            probe_ogg(s)

    def test_opus_preskip_subtracted(self):
        meta = probe_ogg(synth_ogg(1))   # odd -> Opus, preskip 312
        assert meta["duration_ms"] == (2000 + 53) * 1000 // 48000

    def test_minus_one_granule_ignored(self):
        # A -1 granule (page holds no completed packet) must not win
        # over the real final granule.
        s = synth_ogg(2)
        last = s.rindex(b"OggS")
        extra = (b"OggS\x00\x00" + (-1).to_bytes(8, "little", signed=True)
                 + s[last + 14:last + 18] + (9).to_bytes(4, "little")
                 + bytes(4) + b"\x01\x00")
        meta = probe_ogg(s + extra)
        assert meta["duration_ms"] == (2000 + 53 * 2) * 1000 // 44100

    def test_truncation_sweep_never_hangs(self):
        full = synth_ogg(6)
        for cut in range(len(full)):
            try:
                probe_ogg(full[:cut])
            except ValueError:
                pass


class TestSparkPathStream:
    def test_webm_ogg_dispatch_and_hostiles(self, spark):
        rows = [
            (0, "video", bytearray(synth_webm(0)), {}),
            (1, "audio", bytearray(synth_ogg(1)), {}),
            (2, "audio", bytearray(synth_ogg(2)), {}),
            (3, "video", bytearray(b"\x1a\x45\xdf\xa3 junk"), {}),
            (4, "audio", bytearray(b"OggS broken page"), {}),
        ]
        out = {r["asset_id"]: r.asDict() for r in probe_media(
            spark.createDataFrame(rows, ASSET_SCHEMA)).collect()}
        assert out[0]["container"] == "webm"
        assert out[0]["width"] == 320
        assert out[1]["container"] == "ogg-opus"
        assert out[2]["container"] == "ogg-vorbis"
        for hostile in (3, 4):
            assert out[hostile]["container"] is None
