"""WebP lossless (VP8L) decode + encode in pure stdlib, without a codec
library. No query, runbook step or benchmark reaches this module; it
stays only until its deletion (ROADMAP item 5).

Scope (honest, test-pinned):

- **decode_webp**: RIFF/WEBP container holding a VP8L (lossless)
  bitstream — the full spec surface: all four transforms (predictor
  modes 0-13, cross-color, subtract-green, color-indexing with pixel
  bundling), color cache, LZ77 backward references (plane codes and
  plain distances), meta prefix groups, and both prefix-code forms
  (simple 1/2-symbol and the full code-length code with 16/17/18
  repeats and the max_symbol budget). Lossy VP8 raises
  NotImplementedError with the feature named; animation and other
  VP8X sub-features are skipped while scanning for a VP8L chunk.
- **encode_webp_lossless**: the roundtrip fixture generator — a
  spec-valid VP8L writer exercising every decoder path the tests pin:
  plain literals, any single predictor mode, subtract-green,
  cross-color with constant multipliers, palette (1/2/4-bit
  bundling), color cache hits, distance-1 LZ77 runs (plain or plane
  coded), and a trivial meta-prefix image. Compression is
  deliberately naive; the point is spec-valid bytes whose decode is
  checked against the known source pixels.

Bit order: VP8L is LSB-first within bytes for ReadBits; prefix-code
bits are consumed MSB-of-code-first while walking the canonical tree
(the DEFLATE-style split the spec defines).
"""

from __future__ import annotations

# Spec constants -------------------------------------------------------------

_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40
_CACHE_MUL = 0x1E35A7BD

# The 120-entry distance-to-neighbor map from the VP8L specification:
# plane code i+1 -> (dx, dy); distance = dy * xsize + dx (min 1).
_PLANE_OFFSETS = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _subsize(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _cache_hash(argb: int, bits: int) -> int:
    return ((_CACHE_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


def _add_px(a: int, b: int) -> int:
    """Per-channel (mod 256) pixel addition."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _sub_px(a: int, b: int) -> int:
    """Per-channel (mod 256) pixel subtraction a - b."""
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


# Bit I/O --------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("truncated VP8L bitstream")
        v = 0
        d = self.data
        p = self.pos
        for i in range(n):
            v |= ((d[p >> 3] >> (p & 7)) & 1) << i
            p += 1
        self.pos = p
        return v


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, val: int, n: int) -> None:
        for i in range(n):
            self.bits.append((val >> i) & 1)

    def write_code(self, code: int, n: int) -> None:
        # prefix-code bits go MSB-first (the tree-walk order)
        for i in range(n - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def to_bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


# Canonical prefix codes -----------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), DEFLATE-style canonical assignment."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out: dict[int, tuple[int, int]] = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


def _build_tree(lengths: list[int]):
    """Nested-list decode tree from code lengths; a bare int means a
    0-bit code (single-symbol tree)."""
    nz = [s for s, ln in enumerate(lengths) if ln]
    if not nz:
        raise ValueError("empty prefix code")
    if len(nz) == 1:
        return nz[0]
    root: list = [None, None]
    for sym, (code, ln) in _canonical_codes(lengths).items():
        node = root
        for i in range(ln - 1, 0, -1):
            bit = (code >> i) & 1
            if node[bit] is None:
                node[bit] = [None, None]
            node = node[bit]
            if isinstance(node, int):
                raise ValueError("over-subscribed prefix code")
        node[code & 1] = sym
    return root


def _read_symbol(tree, br: _BitReader) -> int:
    if isinstance(tree, int):
        return tree
    node = tree
    while True:
        node = node[br.read(1)]
        if isinstance(node, int):
            return node
        if node is None:
            raise ValueError("invalid prefix code in VP8L stream")


def _read_code(br: _BitReader, alphabet_size: int):
    """Read one prefix-code definition (simple or normal form)."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):
            syms = [br.read(8)]
        else:
            syms = [br.read(1)]
        if num_symbols == 2:
            syms.append(br.read(8))
        if num_symbols == 1:
            return syms[0]
        # simple 2-symbol codes map bit 0 -> first, bit 1 -> second:
        # build the tree directly to preserve that order
        root: list = [None, None]
        root[0], root[1] = syms[0], syms[1]
        return root
    num_codes = br.read(4) + 4
    clc = [0] * 19
    for i in range(num_codes):
        clc[_CLC_ORDER[i]] = br.read(3)
    clc_tree = _build_tree(clc)
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev = 8
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = _read_symbol(clc_tree, br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym < alphabet_size:
                    lengths[sym] = prev
                    sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:
            sym += 11 + br.read(7)
    return _build_tree(lengths)


# LZ77 prefix values ---------------------------------------------------------


def _lz77_decode(sym: int, br: _BitReader) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_encode(value: int) -> tuple[int, int, int]:
    """value -> (symbol, extra_bits, extra_value)."""
    v = value - 1
    if v < 4:
        return v, 0, 0
    sym = 4
    while True:
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset <= v < offset + (1 << extra):
            return sym, extra, v - offset
        sym += 1


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _PLANE_OFFSETS[code - 1]
    return max(1, dy * xsize + dx)


# Entropy-coded image --------------------------------------------------------


def _decode_image(br: _BitReader, w: int, h: int, is_main: bool = False):
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid color-cache size")
    meta = None
    meta_w = 0
    pb = 0
    num_groups = 1
    if is_main and br.read(1):
        pb = br.read(3) + 2
        meta_w = _subsize(w, pb)
        meta_img = _decode_image(br, meta_w, _subsize(h, pb))
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]
        num_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_code(br, 256 + _NUM_LENGTH_CODES + cache_size),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, _NUM_DISTANCE_CODES),
            )
        )
    cache = [0] * cache_size
    n = w * h
    pix = [0] * n
    pos = 0
    x = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            y = pos // w
            group = groups[meta[(y >> pb) * meta_w + (x >> pb)]]
        s = _read_symbol(group[0], br)
        if s < 256:
            red = _read_symbol(group[1], br)
            blue = _read_symbol(group[2], br)
            alpha = _read_symbol(group[3], br)
            p = (alpha << 24) | (red << 16) | (s << 8) | blue
            pix[pos] = p
            pos += 1
            x += 1
            if x == w:
                x = 0
            if cache_size:
                cache[_cache_hash(p, cache_bits)] = p
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _lz77_decode(s - 256, br)
            dcode = _lz77_decode(_read_symbol(group[4], br), br)
            dist = _plane_to_dist(dcode, w)
            if dist > pos:
                raise ValueError("backward reference before image start")
            if pos + length > n:
                raise ValueError("backward reference past image end")
            for _ in range(length):
                p = pix[pos - dist]
                pix[pos] = p
                pos += 1
                x += 1
                if x == w:
                    x = 0
                if cache_size:
                    cache[_cache_hash(p, cache_bits)] = p
        else:
            idx = s - 256 - _NUM_LENGTH_CODES
            p = cache[idx]
            pix[pos] = p
            pos += 1
            x += 1
            if x == w:
                x = 0
    return pix


# Predictor modes ------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(left: int, top: int, tl: int) -> int:
    p_a = (left >> 24) + (top >> 24) - (tl >> 24)
    p_r = ((left >> 16) & 0xFF) + ((top >> 16) & 0xFF) - ((tl >> 16) & 0xFF)
    p_g = ((left >> 8) & 0xFF) + ((top >> 8) & 0xFF) - ((tl >> 8) & 0xFF)
    p_b = (left & 0xFF) + (top & 0xFF) - (tl & 0xFF)
    p_left = (
        abs(p_a - (left >> 24))
        + abs(p_r - ((left >> 16) & 0xFF))
        + abs(p_g - ((left >> 8) & 0xFF))
        + abs(p_b - (left & 0xFF))
    )
    p_top = (
        abs(p_a - (top >> 24))
        + abs(p_r - ((top >> 16) & 0xFF))
        + abs(p_g - ((top >> 8) & 0xFF))
        + abs(p_b - (top & 0xFF))
    )
    return left if p_left < p_top else top


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)) << sh
    return out


def _clamp_add_sub_half(a: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        av = (a >> sh) & 0xFF
        cv = (c >> sh) & 0xFF
        d = av - cv
        half = d // 2 if d >= 0 else -((-d) // 2)  # C rounds toward zero
        out |= _clamp(av + half) << sh
    return out


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:
        return _select(left, top, tl)
    if mode == 12:
        return _clamp_add_sub_full(left, top, tl)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(left, top), tl)
    raise ValueError(f"invalid predictor mode {mode}")


def _predictor_at(pix: list[int], pos: int, x: int, w: int, mode: int) -> int:
    """Prediction for pix[pos] from already-reconstructed neighbors,
    with the spec's forced border modes. TR of the last column is the
    flat-memory wraparound (current row's first pixel), per spec."""
    if pos == 0:
        return 0xFF000000
    if pos < w:  # first row: forced L
        return pix[pos - 1]
    if x == 0:  # first column: forced T
        return pix[pos - w]
    left = pix[pos - 1]
    top = pix[pos - w]
    tl = pix[pos - w - 1]
    tr = pix[pos - w + 1]
    return _predict(mode, left, top, tl, tr)


def _inv_predictor(pix: list[int], w: int, h: int, bits: int, tw: int, timg):
    for pos in range(w * h):
        x = pos % w
        y = pos // w
        mode = (timg[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF
        pix[pos] = _add_px(pix[pos], _predictor_at(pix, pos, x, w, mode))
    return pix


# Cross-color transform ------------------------------------------------------


def _to_i8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(mult: int, ch: int) -> int:
    return (_to_i8(mult) * _to_i8(ch)) >> 5


def _inv_color(pix: list[int], w: int, h: int, bits: int, tw: int, timg):
    for pos in range(w * h):
        x = pos % w
        y = pos // w
        m = timg[(y >> bits) * tw + (x >> bits)]
        g2r = m & 0xFF
        g2b = (m >> 8) & 0xFF
        r2b = (m >> 16) & 0xFF
        p = pix[pos]
        g = (p >> 8) & 0xFF
        red = ((p >> 16) & 0xFF) + _ct_delta(g2r, g) & 0xFF
        blue = ((p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, red)) & 0xFF
        pix[pos] = (p & 0xFF00FF00) | (red << 16) | blue
    return pix


def _fwd_color(pix: list[int], w: int, h: int, mults: tuple[int, int, int]):
    g2r, g2b, r2b = mults
    out = []
    for p in pix:
        g = (p >> 8) & 0xFF
        red = (p >> 16) & 0xFF
        blue = p & 0xFF
        # the decoder restores red BEFORE applying the r2b term to
        # blue, so the forward r2b term keys on the ORIGINAL red
        nr = (red - _ct_delta(g2r, g)) & 0xFF
        nb = (blue - _ct_delta(g2b, g) - _ct_delta(r2b, red)) & 0xFF
        out.append((p & 0xFF00FF00) | (nr << 16) | nb)
    return out


# Subtract-green -------------------------------------------------------------


def _inv_subtract_green(pix: list[int]):
    for i, p in enumerate(pix):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        pix[i] = (p & 0xFF00FF00) | (r << 16) | b
    return pix


def _fwd_subtract_green(pix: list[int]):
    out = []
    for p in pix:
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) - g) & 0xFF
        b = ((p & 0xFF) - g) & 0xFF
        out.append((p & 0xFF00FF00) | (r << 16) | b)
    return out


# Color indexing -------------------------------------------------------------


def _palette_width_bits(n: int) -> int:
    if n <= 2:
        return 3
    if n <= 4:
        return 2
    if n <= 16:
        return 1
    return 0


def _inv_palette(pix, packed_w, h, orig_w, wb, palette):
    if wb == 0:
        out = []
        for p in pix:
            idx = (p >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out
    per = 1 << wb
    bpp = 8 >> wb
    mask = (1 << bpp) - 1
    out = []
    for y in range(h):
        cnt = 0
        for p in pix[y * packed_w : (y + 1) * packed_w]:
            g = (p >> 8) & 0xFF
            for k in range(per):
                if cnt >= orig_w:
                    break
                idx = (g >> (k * bpp)) & mask
                out.append(palette[idx] if idx < len(palette) else 0)
                cnt += 1
    return out


# VP8L top level -------------------------------------------------------------


def _decode_vp8l(data: bytes):
    br = _BitReader(data)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    transforms = []
    seen: set[int] = set()
    cur_w = w
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(t)
        if t in (0, 1):  # predictor / cross-color share the layout
            bits = br.read(3) + 2
            tw = _subsize(cur_w, bits)
            timg = _decode_image(br, tw, _subsize(h, bits))
            transforms.append(("pred" if t == 0 else "color", bits, tw, timg))
        elif t == 2:
            transforms.append(("subgreen",))
        else:
            n_colors = br.read(8) + 1
            deltas = _decode_image(br, n_colors, 1)
            palette = []
            prev = 0
            for d in deltas:
                prev = _add_px(d, prev)
                palette.append(prev)
            wb = _palette_width_bits(n_colors)
            transforms.append(("palette", wb, cur_w, palette))
            cur_w = _subsize(cur_w, wb)
    pix = _decode_image(br, cur_w, h, is_main=True)
    for t in reversed(transforms):
        if t[0] == "pred":
            pix = _inv_predictor(pix, cur_w, h, t[1], t[2], t[3])
        elif t[0] == "color":
            pix = _inv_color(pix, cur_w, h, t[1], t[2], t[3])
        elif t[0] == "subgreen":
            pix = _inv_subtract_green(pix)
        else:
            _, wb, orig_w, palette = t
            pix = _inv_palette(pix, cur_w, h, orig_w, wb, palette)
            cur_w = orig_w
    return w, h, pix


def decode_webp(payload: bytes) -> dict:
    """RIFF/WEBP → dict(width, height, channels=4, pixels RGBA bytes).

    Only the lossless VP8L stream is decoded; a lossy 'VP8 ' chunk
    raises NotImplementedError naming the gap (it needs a full DCT
    codec), matching the honest-scope posture of the other decoders."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    i = 12
    lossy_seen = False
    while i + 8 <= len(payload):
        fourcc = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if fourcc == b"VP8L":
            if len(body) < size:
                raise ValueError("truncated VP8L chunk")
            w, h, pix = _decode_vp8l(body)
            out = bytearray(4 * w * h)
            for j, p in enumerate(pix):
                out[4 * j] = (p >> 16) & 0xFF
                out[4 * j + 1] = (p >> 8) & 0xFF
                out[4 * j + 2] = p & 0xFF
                out[4 * j + 3] = (p >> 24) & 0xFF
            return {
                "width": w,
                "height": h,
                "channels": 4,
                "pixels": bytes(out),
            }
        if fourcc == b"VP8 ":
            lossy_seen = True
        i += 8 + size + (size & 1)
    if lossy_seen:
        raise NotImplementedError(
            "lossy (VP8) WebP needs a full DCT codec library not present "
            "in this environment; only VP8L lossless is implemented"
        )
    raise ValueError("no VP8L chunk found in WebP container")


# Encoder (fixture generator) ------------------------------------------------


def _huffman_lengths(freqs: dict[int, int], alphabet_size: int) -> list[int]:
    """Code lengths from frequencies (≥3 distinct symbols expected).
    Falls back to a uniform-frequency build if any length exceeds the
    spec's 15-bit limit (cannot happen for the small fixtures, kept
    for safety)."""
    import heapq
    import itertools

    for attempt in (0, 1):
        counter = itertools.count()
        heap = [
            (1 if attempt else c, next(counter), (s,))
            for s, c in freqs.items()
            if c
        ]
        heapq.heapify(heap)
        depth: dict[int, int] = {s: 0 for s, c in freqs.items() if c}
        while len(heap) > 1:
            c1, _, s1 = heapq.heappop(heap)
            c2, _, s2 = heapq.heappop(heap)
            for s in s1 + s2:
                depth[s] += 1
            heapq.heappush(heap, (c1 + c2, next(counter), s1 + s2))
        if max(depth.values()) <= 15:
            lengths = [0] * alphabet_size
            for s, d in depth.items():
                lengths[s] = max(1, d)
            return lengths
    raise ValueError("cannot build a <=15-bit prefix code")


def _emit_code(bw: _BitWriter, freqs: dict[int, int], alphabet_size: int):
    """Write one prefix-code definition; return symbol -> (code, len)
    (an empty dict means the single symbol costs 0 bits)."""
    used = sorted(s for s, c in freqs.items() if c)
    if not used:
        used = [0]
    if len(used) == 1 and used[0] <= 255:
        s = used[0]
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if s > 1:
            bw.write(1, 1)
            bw.write(s, 8)
        else:
            bw.write(0, 1)
            bw.write(s, 1)
        return {s: (0, 0)}
    if len(used) == 2 and max(used) <= 255:
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        s0, s1 = used
        if s0 > 1:
            bw.write(1, 1)
            bw.write(s0, 8)
        else:
            bw.write(0, 1)
            bw.write(s0, 1)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    # normal code
    if len(used) == 1:
        # symbols >255 cannot ride the simple form; pad with a never-
        # emitted dummy so the canonical tree is complete and 1-bit
        freqs = dict(freqs)
        freqs[0 if used[0] != 0 else 1] = 1
        used = sorted(s for s, c in freqs.items() if c)
    if len(used) == 2:
        lengths = [0] * alphabet_size
        lengths[used[0]] = lengths[used[1]] = 1
    else:
        lengths = _huffman_lengths(freqs, alphabet_size)
    last = max(s for s, ln in enumerate(lengths) if ln)
    emitted = lengths[: last + 1]
    clc_freq: dict[int, int] = {}
    for ln in emitted:
        clc_freq[ln] = clc_freq.get(ln, 0) + 1
    if len(clc_freq) == 1:
        # complete 1-bit code-length tree via an unused dummy entry
        only = next(iter(clc_freq))
        clc_freq[0 if only != 0 else 1] = 1
        clc_lengths = [0] * 19
        for s in clc_freq:
            clc_lengths[s] = 1
    elif len(clc_freq) == 2:
        clc_lengths = [0] * 19
        for s in clc_freq:
            clc_lengths[s] = 1
    else:
        clc_lengths = _huffman_lengths(clc_freq, 19)
    num_codes = max(
        i + 1 for i, s in enumerate(_CLC_ORDER) if clc_lengths[s]
    )
    num_codes = max(num_codes, 4)
    bw.write(0, 1)  # not simple
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(clc_lengths[_CLC_ORDER[i]], 3)
    if last + 1 == alphabet_size:
        bw.write(0, 1)
    else:
        bw.write(1, 1)
        value = last + 1 - 2
        nbits = max(2, value.bit_length())
        nbits += nbits & 1  # header encodes even sizes 2,4,...,16
        bw.write((nbits - 2) // 2, 3)
        bw.write(value, nbits)
    clc_codes = _canonical_codes(clc_lengths)
    for ln in emitted:
        c, n = clc_codes[ln]
        bw.write_code(c, n)
    return _canonical_codes(lengths)


def _encode_image(
    bw: _BitWriter,
    pix: list[int],
    w: int,
    h: int,
    *,
    is_main: bool = False,
    cache_bits: int = 0,
    lz77_runs: bool = False,
    plane_code_dist1: bool = False,
    meta_trivial: bool = False,
) -> None:
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_main:
        if meta_trivial:
            bw.write(1, 1)
            pb = 2
            bw.write(pb - 2, 3)
            mw, mh = _subsize(w, pb), _subsize(h, pb)
            _encode_image(bw, [0xFF000000] * (mw * mh), mw, mh)
        else:
            bw.write(0, 1)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    tokens: list[tuple] = []
    n = len(pix)
    i = 0
    while i < n:
        if lz77_runs and i > 0 and pix[i] == pix[i - 1]:
            run = 0
            while i + run < n and pix[i + run] == pix[i + run - 1]:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                if cache_size:
                    for k in range(run):
                        p = pix[i + k]
                        cache[_cache_hash(p, cache_bits)] = p
                i += run
                continue
        p = pix[i]
        if cache_size and cache[_cache_hash(p, cache_bits)] == p:
            tokens.append(("cache", _cache_hash(p, cache_bits)))
        else:
            tokens.append(("lit", p))
            if cache_size:
                cache[_cache_hash(p, cache_bits)] = p
        i += 1
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for tok in tokens:
        if tok[0] == "lit":
            p = tok[1]
            bump(gf, (p >> 8) & 0xFF)
            bump(rf, (p >> 16) & 0xFF)
            bump(bf, p & 0xFF)
            bump(af, (p >> 24) & 0xFF)
        elif tok[0] == "copy":
            bump(gf, 256 + _lz77_encode(tok[1])[0])
            dcode = 2 if (plane_code_dist1 and tok[2] == 1) else tok[2] + 120
            bump(df, _lz77_encode(dcode)[0])
        else:
            bump(gf, 256 + _NUM_LENGTH_CODES + tok[1])
    g_codes = _emit_code(bw, gf, 256 + _NUM_LENGTH_CODES + cache_size)
    r_codes = _emit_code(bw, rf, 256)
    b_codes = _emit_code(bw, bf, 256)
    a_codes = _emit_code(bw, af, 256)
    d_codes = _emit_code(bw, df, _NUM_DISTANCE_CODES)

    def emit(codes, sym):
        c, n_ = codes[sym]
        bw.write_code(c, n_)

    for tok in tokens:
        if tok[0] == "lit":
            p = tok[1]
            emit(g_codes, (p >> 8) & 0xFF)
            emit(r_codes, (p >> 16) & 0xFF)
            emit(b_codes, p & 0xFF)
            emit(a_codes, (p >> 24) & 0xFF)
        elif tok[0] == "copy":
            lsym, leb, lex = _lz77_encode(tok[1])
            emit(g_codes, 256 + lsym)
            bw.write(lex, leb)
            dcode = 2 if (plane_code_dist1 and tok[2] == 1) else tok[2] + 120
            dsym, deb, dex = _lz77_encode(dcode)
            emit(d_codes, dsym)
            bw.write(dex, deb)
        else:
            emit(g_codes, 256 + _NUM_LENGTH_CODES + tok[1])


def _fwd_predictor(pix: list[int], w: int, h: int, mode: int) -> list[int]:
    out = []
    for pos in range(w * h):
        x = pos % w
        out.append(_sub_px(pix[pos], _predictor_at(pix, pos, x, w, mode)))
    return out


def encode_webp_lossless(
    pixels_rgba: bytes,
    width: int,
    height: int,
    *,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    color_mults: tuple[int, int, int] | None = None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77_runs: bool = False,
    plane_code_dist1: bool = False,
    meta_trivial: bool = False,
) -> bytes:
    """Spec-valid RIFF/WEBP (VP8L) bytes for the given RGBA raster —
    the roundtrip fixture generator. Options choose which decoder
    paths the stream exercises; ``palette`` is mutually exclusive with
    the pixel-space transforms (this writer keeps each path simple)."""
    if len(pixels_rgba) != 4 * width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if palette and (subtract_green or predictor_mode is not None or color_mults):
        raise ValueError("palette is exclusive of other transforms here")
    pix = []
    for j in range(width * height):
        r, g, b, a = pixels_rgba[4 * j : 4 * j + 4]
        pix.append((a << 24) | (r << 16) | (g << 8) | b)
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(int(any((p >> 24) != 0xFF for p in pix)), 1)
    bw.write(0, 3)
    cur = pix
    cur_w = width
    if palette:
        colors = list(dict.fromkeys(pix))
        if len(colors) > 256:
            raise ValueError("palette mode needs <=256 distinct colors")
        idx = {c: i for i, c in enumerate(colors)}
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = []
        prev = 0
        for c in colors:
            deltas.append(_sub_px(c, prev))
            prev = c
        _encode_image(bw, deltas, len(colors), 1)
        wb = _palette_width_bits(len(colors))
        if wb == 0:
            cur = [0xFF000000 | (idx[p] << 8) for p in pix]
        else:
            per = 1 << wb
            bpp = 8 >> wb
            packed_w = _subsize(width, wb)
            cur = []
            for y in range(height):
                row = pix[y * width : (y + 1) * width]
                for x0 in range(0, width, per):
                    g = 0
                    for k, p in enumerate(row[x0 : x0 + per]):
                        g |= idx[p] << (k * bpp)
                    cur.append(0xFF000000 | (g << 8))
            cur_w = packed_w
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        cur = _fwd_subtract_green(cur)
    if color_mults is not None:
        bits = 4
        bw.write(1, 1)
        bw.write(1, 2)
        bw.write(bits - 2, 3)
        tw, th = _subsize(cur_w, bits), _subsize(height, bits)
        g2r, g2b, r2b = color_mults
        mpix = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
        _encode_image(bw, [mpix] * (tw * th), tw, th)
        cur = _fwd_color(cur, cur_w, height, color_mults)
    if predictor_mode is not None:
        bits = 4
        bw.write(1, 1)
        bw.write(0, 2)
        bw.write(bits - 2, 3)
        tw, th = _subsize(cur_w, bits), _subsize(height, bits)
        _encode_image(
            bw, [0xFF000000 | (predictor_mode << 8)] * (tw * th), tw, th
        )
        cur = _fwd_predictor(cur, cur_w, height, predictor_mode)
    bw.write(0, 1)  # end of transforms
    _encode_image(
        bw,
        cur,
        cur_w,
        height,
        is_main=True,
        cache_bits=cache_bits,
        lz77_runs=lz77_runs,
        plane_code_dist1=plane_code_dist1,
        meta_trivial=meta_trivial,
    )
    body = bw.to_bytes()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
