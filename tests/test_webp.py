"""VP8L (WebP lossless) codec pins: every decoder path is exercised
through spec-valid streams from the module's own encoder, with the
decoded RGBA raster compared byte-exact to the known source pixels.

Plus (ADVICE r7) encoder-INDEPENDENT fixtures at the bottom: streams
hand-assembled bit-by-bit from the published VP8L spec with a local
bit-writer, so a spec misreading mirrored in this module's
encoder+decoder pair cannot self-certify."""

from __future__ import annotations

import hashlib

import pytest

from mapreduce_kmeans_clustering_spark.operators.webp import (
    _ct_delta,
    _fwd_color,
    _inv_color,
    decode_webp,
    encode_webp_lossless,
)


def _raster(width: int, height: int, seed: int, alpha: bool = False) -> bytes:
    """Deterministic md5-chain RGBA raster (the house generator
    family)."""
    out = bytearray()
    state = str(seed).encode()
    while len(out) < 4 * width * height:
        state = hashlib.md5(state).digest()
        out += state
    out = out[: 4 * width * height]
    if not alpha:
        for i in range(3, len(out), 4):
            out[i] = 255
    return bytes(out)


def _roundtrip(pixels: bytes, w: int, h: int, **opts) -> None:
    blob = encode_webp_lossless(pixels, w, h, **opts)
    got = decode_webp(blob)
    assert got["width"] == w and got["height"] == h
    assert got["channels"] == 4
    assert got["pixels"] == pixels, f"pixel mismatch under {opts}"


def test_plain_literals_roundtrip():
    _roundtrip(_raster(13, 7, 1), 13, 7)


def test_alpha_channel_roundtrip():
    _roundtrip(_raster(9, 9, 2, alpha=True), 9, 9)


def test_subtract_green_roundtrip():
    _roundtrip(_raster(16, 8, 3), 16, 8, subtract_green=True)


@pytest.mark.parametrize("mode", list(range(14)))
def test_every_predictor_mode_roundtrips(mode):
    # 20x19 spans multiple 16x16 predictor blocks, exercising the
    # block-image lookup as well as all border-forced modes
    _roundtrip(_raster(20, 19, 100 + mode), 20, 19, predictor_mode=mode)


def test_cross_color_transform_roundtrip():
    _roundtrip(
        _raster(17, 6, 4), 17, 6, color_mults=(0x40, 0xC0, 0x15)
    )


def test_color_transform_inverse_matches_forward():
    # direct unit pin of the fixed-point math, independent of streams
    pix = []
    st = b"ct"
    for _ in range(64):
        st = hashlib.md5(st).digest()
        pix.append(int.from_bytes(st[:4], "big") | 0xFF000000)
    mults = (0x7F, 0x80, 0x01)  # max positive, max negative, tiny
    fwd = _fwd_color(list(pix), 8, 8, mults)
    g2r, g2b, r2b = mults
    mpix = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    back = _inv_color(list(fwd), 8, 8, 4, 1, [mpix])
    assert back == pix
    assert _ct_delta(0x80, 0x80) == (-128 * -128) >> 5


@pytest.mark.parametrize("n_colors", [2, 4, 13, 200])
def test_palette_roundtrip_all_bundle_widths(n_colors):
    # build a raster drawing from exactly n_colors distinct pixels;
    # width 21 is deliberately not a multiple of any bundle factor
    colors = []
    st = str(n_colors).encode()
    while len(colors) < n_colors:
        st = hashlib.md5(st).digest()
        c = st[:3] + b"\xff"
        if c not in colors:
            colors.append(c)
    w, h = 21, 6
    px = bytearray()
    for i in range(w * h):
        px += colors[(i * 7) % n_colors]
    _roundtrip(bytes(px), w, h, palette=True)


def test_color_cache_roundtrip():
    # few distinct colors -> heavy cache-hit traffic
    base = _raster(4, 4, 5)
    px = bytearray()
    for i in range(18 * 11):
        j = (i * 5) % 16
        px += base[4 * j : 4 * j + 4]
    _roundtrip(bytes(px), 18, 11, cache_bits=4)


def test_lz77_runs_roundtrip_plain_and_plane_coded():
    # constant stretches -> distance-1 copies; both distance spellings
    px = bytearray()
    for row in range(9):
        px += bytes((row * 20, 60, 200, 255)) * 24
    _roundtrip(bytes(px), 24, 9, lz77_runs=True)
    _roundtrip(bytes(px), 24, 9, lz77_runs=True, plane_code_dist1=True)
    _roundtrip(bytes(px), 24, 9, lz77_runs=True, cache_bits=3)


def test_meta_prefix_image_roundtrip():
    _roundtrip(_raster(22, 10, 6), 22, 10, meta_trivial=True)


def test_combined_transforms_roundtrip():
    _roundtrip(
        _raster(19, 12, 7), 19, 12, subtract_green=True, predictor_mode=11
    )
    _roundtrip(
        _raster(19, 12, 8),
        19,
        12,
        subtract_green=True,
        color_mults=(0x10, 0xF0, 0x33),
        predictor_mode=12,
        cache_bits=2,
    )


def test_one_pixel_image():
    _roundtrip(b"\x12\x34\x56\xff", 1, 1)


def test_lossy_vp8_refused_by_name():
    blob = (
        b"RIFF"
        + (12).to_bytes(4, "little")
        + b"WEBP"
        + b"VP8 "
        + (4).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError, match="VP8"):
        decode_webp(blob)


def test_garbage_rejected():
    with pytest.raises(ValueError):
        decode_webp(b"not a webp at all")
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x04\x00\x00\x00WEBP")  # no VP8L chunk
    good = encode_webp_lossless(_raster(5, 5, 9), 5, 5)
    with pytest.raises(ValueError):
        decode_webp(good[:-6])  # truncated bitstream


# ---------------------------------------------------------------------------
# Encoder-independent fixtures (ADVICE r7): streams hand-assembled
# bit-by-bit from the VP8L specification (RFC 9649 §3-§5) with a LOCAL
# bit-writer, never via encode_webp_lossless — so a spec misreading
# mirrored in the module's encoder+decoder cannot make these pass.
# (No cwebp binary exists in this container; a hand-derived stream is
# the strongest interop pin available offline, and it is derived from
# the published spec text, not from this module.)
# ---------------------------------------------------------------------------


class _SpecBits:
    """LSB-first bit assembler, written from the spec's ReadBits
    definition (first bit read = least-significant bit of byte 0)."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _riff(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + len(vp8l_payload).to_bytes(4, "little") + vp8l_payload
    if len(vp8l_payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _simple_code_1(w: _SpecBits, sym: int) -> None:
    """Spec 'simple code length code', one symbol."""
    w.put(1, 1)  # simple form
    w.put(0, 1)  # num_symbols - 1 = 0
    if sym <= 1:
        w.put(0, 1)  # first symbol in 1 bit
        w.put(sym, 1)
    else:
        w.put(1, 1)  # first symbol in 8 bits
        w.put(sym, 8)


def _simple_code_2(w: _SpecBits, sym0: int, sym1: int) -> None:
    """Two-symbol simple code: bit 0 -> sym0, bit 1 -> sym1."""
    w.put(1, 1)
    w.put(1, 1)  # num_symbols - 1 = 1
    w.put(1, 1)  # first symbol in 8 bits
    w.put(sym0, 8)
    w.put(sym1, 8)  # second symbol is always 8 bits


def test_spec_handwritten_1x1_red_literal():
    """1x1 pure-red image: header, no transforms, no cache, no meta
    groups, five single-symbol simple codes (zero data bits/pixel)."""
    w = _SpecBits()
    w.put(0x2F, 8)  # signature
    w.put(0, 14)  # width - 1
    w.put(0, 14)  # height - 1
    w.put(0, 1)  # alpha hint
    w.put(0, 3)  # version
    w.put(0, 1)  # no transforms
    w.put(0, 1)  # no color cache
    w.put(0, 1)  # no meta prefix image
    _simple_code_1(w, 0)  # green = 0
    _simple_code_1(w, 255)  # red = 255
    _simple_code_1(w, 0)  # blue = 0
    _simple_code_1(w, 255)  # alpha = 255
    _simple_code_1(w, 0)  # distance (unused)
    out = decode_webp(_riff(w.bytes()))
    assert (out["width"], out["height"], out["channels"]) == (1, 1, 4)
    assert out["pixels"] == bytes([255, 0, 0, 255])


def test_spec_handwritten_2x1_two_greens():
    """2x1 image whose pixels differ only in green, selected by a
    two-symbol simple code (one data bit per pixel); red/blue/alpha
    ride zero-bit single-symbol codes."""
    w = _SpecBits()
    w.put(0x2F, 8)
    w.put(1, 14)  # width - 1
    w.put(0, 14)  # height - 1
    w.put(0, 1)
    w.put(0, 3)
    w.put(0, 1)  # no transforms
    w.put(0, 1)  # no cache
    w.put(0, 1)  # no meta
    _simple_code_2(w, 200, 100)  # green: bit0 -> 200, bit1 -> 100
    _simple_code_1(w, 10)  # red
    _simple_code_1(w, 30)  # blue
    _simple_code_1(w, 255)  # alpha
    _simple_code_1(w, 0)  # distance
    w.put(0, 1)  # pixel 0 green -> 200
    w.put(1, 1)  # pixel 1 green -> 100
    out = decode_webp(_riff(w.bytes()))
    assert (out["width"], out["height"]) == (2, 1)
    assert out["pixels"] == bytes(
        [10, 200, 30, 255, 10, 100, 30, 255]
    )


def test_spec_handwritten_2x2_subtract_green_and_lz77():
    """2x2 exercising two more spec surfaces independently of the
    encoder: the subtract-green transform (decoder must ADD green
    back to red/blue) and an LZ77 backref (length-2 copy at
    distance 1 via plane code 2 -> (dx,dy)=(1,0) -> distance 1).

    Stored (post-subtract-green) channels: G=50, R'=5, B'=7,
    A=255 for pixel 0 and 1 (pixel 1 = literal repeat); pixels 2-3
    come from the backref copying pixel 1 onward. Decoded RGBA must
    be (55, 50, 57, 255) everywhere."""
    w = _SpecBits()
    w.put(0x2F, 8)
    w.put(1, 14)  # width 2
    w.put(1, 14)  # height 2
    w.put(0, 1)
    w.put(0, 3)
    w.put(1, 1)  # a transform follows
    w.put(2, 2)  # transform type 2 = subtract green
    w.put(0, 1)  # no more transforms
    w.put(0, 1)  # no cache
    w.put(0, 1)  # no meta
    # Green alphabet needs symbol 257 (length prefix code 1 -> copy
    # length 2), which exceeds the 8-bit payload of the simple form,
    # so this code is written in the NORMAL form — independently
    # exercising the code-length code, the repeat-zeros op (18), the
    # max-symbol budget, and canonical assignment:
    #   lengths: sym 50 -> 1, sym 257 -> 1, all else 0
    #   canonical: 50 -> '0', 257 -> '1'
    w.put(0, 1)  # normal (not simple) form
    # code-length code: lengths over _CLC_ORDER = [17,18,0,1,...];
    # we use clc lengths {0:1, 1:2, 18:2} -> canonical clc codes
    # 0->'0', 1->'10', 18->'11'
    w.put(0, 4)  # num_code_lengths - 4 = 0 -> read 4 entries
    for ln in (0, 2, 1, 2):  # lengths of clc syms 17, 18, 0, 1
        w.put(ln, 3)
    w.put(1, 1)  # use the max-symbol budget
    w.put(0, 3)  # length_nbits = 2 + 2*0 = 2
    w.put(3, 2)  # max_symbol = 2 + 3 = 5 read OPS (the 5 below)
    # symbol-length stream (clc codes walk MSB-first):
    # 50 zeros: op 18 with extra 39 (11 + 39 = 50)
    w.put(1, 1); w.put(1, 1)  # clc 18 = '11'
    w.put(39, 7)
    w.put(1, 1); w.put(0, 1)  # clc 1 = '10': sym 50 gets length 1
    # 206 zeros to reach 257: 18(+127 -> 138) then 18(+57 -> 68)
    w.put(1, 1); w.put(1, 1); w.put(127, 7)
    w.put(1, 1); w.put(1, 1); w.put(57, 7)
    w.put(1, 1); w.put(0, 1)  # sym 257 gets length 1
    _simple_code_1(w, 5)  # red'
    _simple_code_1(w, 7)  # blue'
    _simple_code_1(w, 255)  # alpha
    _simple_code_1(w, 1)  # distance sym 1 -> plane code 2 -> dist 1
    # data: two literals then one backref of length 2
    w.put(0, 1)  # pixel 0: green '0' -> literal 50
    w.put(0, 1)  # pixel 1: literal again
    w.put(1, 1)  # pixels 2-3: green '1' -> 257 -> copy length 2
    out = decode_webp(_riff(w.bytes()))
    assert (out["width"], out["height"]) == (2, 2)
    assert out["pixels"] == bytes([55, 50, 57, 255] * 4)
