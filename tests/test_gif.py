"""GIF decoder tests: LZW (literal + genuinely compressed streams,
KwKwK, code-width growth, table-full deferred clear), interlace,
local color tables, and the hostile-payload contract."""

import hashlib
import struct

import pytest

from html_parser_spark.operators.gif import (
    MAX_PIXELS, _lzw_decode, _lzw_encode_literal, decode_gif, synth_gif,
)
from html_parser_spark.operators.multimodal import decode_real


def _expected_rgb(asset_id: int):
    w = 8 + asset_id % 5
    h = 6 + asset_id % 4
    npix = w * h
    digest = hashlib.md5(str(asset_id).encode()).hexdigest().encode()
    chars = (digest * (npix // 32 + 1))[:npix]
    return w, h, bytes(v for c in chars for v in (c, c, c))


def _lzw_compress(min_code_size: int, indices: bytes) -> bytes:
    """A real (dictionary-building) GIF LZW compressor, used only to
    exercise the decoder's table codes — mirrors the decoder's width
    and clear rules exactly."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nbits = 0
    out = bytearray()
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # the decoder appends only from the SECOND code after a
            # clear, so its table length is next_code - 1; it bumps the
            # width when that length reaches 1<<size — i.e. when
            # next_code passes it by one
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        run = bytes([b])
    if run:
        emit(table[run])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_synth_roundtrip_all_variants():
    for i in range(32):
        for interlace in (False, True):
            for local_palette in (False, True):
                w, h, want = _expected_rgb(i)
                got = decode_gif(synth_gif(i, interlace=interlace,
                                           local_palette=local_palette))
                assert got == (w, h, want)


def test_compressed_stream_with_dict_codes():
    # repetitive data builds long dictionary entries and crosses the
    # 8->9 bit width boundary
    idx = bytes([1, 2, 3, 4] * 600)
    enc = _lzw_compress(7, idx)
    assert len(enc) < len(_lzw_encode_literal(7, idx))  # actually compressed
    assert _lzw_decode(7, enc, len(idx)) == idx


def test_kwkwk_case():
    # aaa...: the second occurrence of 'aa' forces code == len(table)
    idx = bytes([7] * 500)
    enc = _lzw_compress(7, idx)
    assert _lzw_decode(7, enc, len(idx)) == idx


def test_small_code_size_width_growth():
    # min code size 2: widths grow 3->4->5... quickly
    idx = bytes((i * 3 + i // 5) % 4 for i in range(4096))
    enc = _lzw_compress(2, idx)
    assert _lzw_decode(2, enc, len(idx)) == idx


def test_table_full_deferred_clear():
    # enough entropy at min-code-size 7 to fill the 4096-entry table;
    # after that the decoder must stop adding entries but keep decoding
    idx = bytes((i * 31 + (i >> 3) * 17) % 128 for i in range(60000))
    enc = _lzw_compress(7, idx)
    assert _lzw_decode(7, enc, len(idx)) == idx


def test_gce_extension_skipped_and_trailer_respected():
    g = synth_gif(9)
    assert b"\x21\xf9" in g  # GCE present, skipped by the decoder
    w, h, want = _expected_rgb(9)
    assert decode_gif(g) == (w, h, want)


def test_hostile_payloads():
    base = synth_gif(4)
    # truncation sweep: every prefix either decodes fully or raises
    # cleanly — never hangs, never returns a wrong-sized frame
    w, h, want = _expected_rgb(4)
    for cut in range(len(base)):
        try:
            got = decode_gif(base[:cut])
        except (ValueError, NotImplementedError):
            continue
        assert got == (w, h, want)

    # declared-dimensions bomb: must raise BEFORE allocating.  synth
    # layout: 13-byte header+LSD, 384-byte GCT, 8-byte GCE, then the
    # 0x2C image descriptor (frame dims at descriptor offset +5)
    desc = 13 + 3 * 128 + 8
    assert base[desc] == 0x2C
    bomb = bytearray(base)
    struct.pack_into("<HH", bomb, 6, 0xFFFF, 0xFFFF)
    struct.pack_into("<HH", bomb, desc + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="budget"):
        decode_gif(bytes(bomb))

    # pixel index outside the color table
    small_ct = bytearray(base)
    small_ct[10] = 0x80 | 0x00  # GCT now claims 2 entries
    with pytest.raises(ValueError):
        decode_gif(bytes(small_ct))

    # no color table at all: local-palette layout is 13-byte
    # header+LSD (no GCT), 8-byte GCE, descriptor at 21; clearing the
    # LCT flag in the descriptor's packed byte leaves no palette
    lp = bytearray(synth_gif(4, local_palette=True))
    assert lp[21] == 0x2C and lp[21 + 9] & 0x80
    lp[21 + 9] &= 0x7F
    with pytest.raises(ValueError, match="color table"):
        decode_gif(bytes(lp))

    # bad signature
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"GIF90a" + base[6:])

    # garbage LZW codes: corrupt the first data sub-block (descriptor
    # is 10 bytes, then the min-code byte, then the sub-block length)
    bad = bytearray(base)
    bad[desc + 12:desc + 15] = b"\xff\xff\xff"
    with pytest.raises(ValueError):
        decode_gif(bytes(bad))


def test_decode_real_dispatch_and_histogram():
    w, h, hist = decode_real(synth_gif(11))
    assert (w, h) == (8 + 11 % 5, 6 + 11 % 4)
    assert abs(sum(hist) - 1.0) < 1e-6
    # pixels are hex-ASCII chars tripled: only bins 3 (0x30-0x39) and
    # 6 (0x60-0x66) can be populated
    assert all(hist[b] == 0.0 for b in range(16) if b not in (3, 6))


def test_fuzz_mutations_never_hang_or_leak():
    import random

    rng = random.Random(1234)
    base = synth_gif(7)
    w, h, want = _expected_rgb(7)
    for _ in range(400):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            gw, gh, rgb = decode_gif(bytes(buf))
        except (ValueError, NotImplementedError, struct.error):
            continue
        # a surviving decode must still satisfy the shape contract
        assert gw > 0 and gh > 0 and len(rgb) == gw * gh * 3


def test_gif_through_spark_feature_path(spark):
    from html_parser_spark.operators.multimodal import (
        ASSET_SCHEMA, extract_features,
    )

    rows = []
    for i in range(12):
        rows.append((i, "image", bytearray(synth_gif(i, interlace=bool(i % 2))),
                     {"src": f"synth://gif/{i}"}))
    # a truncated payload must yield NULL features, not a task failure
    rows.append((12, "image", bytearray(synth_gif(12)[:20]), {}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    out = {r["asset_id"]: r for r in
           extract_features(assets).collect()}
    for i in range(12):
        assert out[i]["width"] == 8 + i % 5
        assert out[i]["height"] == 6 + i % 4
        assert abs(sum(out[i]["histogram"]) - 1.0) < 1e-6
    assert out[12]["width"] is None and out[12]["histogram"] is None
    assert out[12]["n_bytes"] == 20  # size+hash survive per the contract


from hypothesis import given, settings, strategies as st


@settings(max_examples=60, deadline=None)
@given(
    min_cs=st.integers(min_value=2, max_value=8),
    data=st.binary(min_size=0, max_size=2000),
)
def test_lzw_property_roundtrip(min_cs, data):
    # clamp symbols into the alphabet for this code size
    idx = bytes(b % (1 << min_cs) for b in data)
    enc = _lzw_compress(min_cs, idx)
    assert _lzw_decode(min_cs, enc, len(idx)) == idx
    lit = _lzw_encode_literal(min_cs, idx)
    assert _lzw_decode(min_cs, lit, len(idx)) == idx
