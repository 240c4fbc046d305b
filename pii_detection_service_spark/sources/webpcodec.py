"""Pure-Python WebP **lossless** (VP8L) codec — decoder for the full
static-image profile plus a real encoder for fabricating test vectors.

WebP is the highest-volume crawl container this repo did not read yet
(JPEG/PNG/GIF/BMP are covered by their own codecs). This module decodes
the complete VP8L feature set a lossless crawl file can use:

- RIFF container: bare ``VP8L`` and extended ``VP8X`` layouts. Chunks
  are packed and walked by ``riff.py``; a wrong form type or a chunk cut
  short raises ValueError.
- LSB-first bitstream; canonical prefix codes read MSB-first (DEFLATE
  convention), both "simple" (1-2 symbol) and normal (code-length-coded)
  Huffman headers, the 19-symbol code-length code with order
  ``kCodeLengthCodeOrder``, repeat codes 16/17/18, the ``max_symbol``
  budget form, and the single-nonzero-length 0-bit special case.
- LZ77 backrefs with the length/distance prefix-value scheme, the full
  120-entry 2D distance map, and overlapping copies.
- Color cache (hash ``0x1e35a7bd``, 1-11 bits), per entropy-coded image.
- Meta prefix codes (huffman image, ``(r << 8) | g`` group indices).
- All four transforms, each invertible in reverse read order: predictor
  (all 14 modes, forced L/T edge rules), cross-channel color transform
  (3.5-bit signed fixed point), subtract-green, and color indexing with
  sub-byte pixel packing (8/4/2 pixels per byte).

Lossy WebP (``VP8 `` chunks) dispatches to vp8codec.py (r5): a full
intra-only VP8 key-frame decoder verified bit-exact against the system
libwebp in both directions. The VP8X layouts are covered too (r5): ALPH
alpha chunks (raw and compressed, all three unfilter recurrences —
decode_alpha) and ANIM/ANMF animations (decode_webp_frames: blend +
dispose compositing to standalone canvas frames, with a fabricating
encoder for exact planted tests). Inter frames (which a still-image WebP
never leads with) raise NotImplementedError — the honest-seam convention,
never silently-wrong pixels.

Verification note: originally built from the public spec (RFC 9649)
alone and pinned by hand-serialized bit-layout vectors, encoder↔decoder
round-trips across every feature combination, and structural table
invariants. r5 additionally cross-verifies against the system libwebp
(found usable via ctypes): files from this encoder decode bit-exactly in
libwebp and vice versa (tests/test_vp8codec.py) — that oracle exposed and
fixed the _CL_ORDER conformance bug documented below. The encoder exists
to fabricate layouts; it is spec-conformant but optimizes nothing.

Reference parity: the reference service (lendl-uy/pii-detection-service)
has no image pipeline; this codec serves the north rule's decoded-pixel
invariant over crawl-shaped inputs.
"""

from __future__ import annotations

import numpy as np

from . import riff

# ---------------------------------------------------------------------------
# Spec tables
# ---------------------------------------------------------------------------

# Order in which code-length-code lengths appear in the stream.
# NOTE: 16 sits between 5 and 6 — r5 conformance fix. r4 had 16 LAST, a
# self-consistent error (encoder and decoder shared it, every round-trip
# passed, and the hand-pinned vectors only used symbols 0/1/17/18 whose
# slots are identical in both orders). The system libwebp oracle exposed
# it: any stream whose code-length code contains a symbol >= 6 had that
# symbol's 3-bit slot shifted by one. Cross-verified bit-exact against
# libwebp in both directions (tests/test_vp8codec.py).
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# 2D distance map: the first 120 distance-code values address a pixel
# neighborhood as (dx, dy) offsets; dist = dy * width + dx (min 1).
_DIST_MAP = [
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
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (3, 8),
    (-3, 8), (8, 5), (4, 8), (-4, 8), (8, 6), (7, 6), (-7, 6), (8, 7),
]

_CACHE_MULT = 0x1E35A7BD
_MAX_LEN = 15  # prefix code length bound
_T_PRED, _T_COLOR, _T_SUBGREEN, _T_PALETTE = 0, 1, 2, 3


def _div_ceil(a: int, b: int) -> int:
    return (a + b - 1) // b


# ---------------------------------------------------------------------------
# Bit IO (LSB-first within bytes; prefix codes MSB-first of the code value)
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes):
        self._bits = np.unpackbits(
            np.frombuffer(data, np.uint8), bitorder="little"
        )
        self._pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self._pos
        if p + n > len(self._bits):
            raise ValueError("truncated VP8L bitstream")
        self._pos = p + n
        v = 0
        for i in range(n):
            v |= int(self._bits[p + i]) << i
        return v

    def read_bit(self) -> int:
        p = self._pos
        if p >= len(self._bits):
            raise ValueError("truncated VP8L bitstream")
        self._pos = p + 1
        return int(self._bits[p])


class _BitWriter:
    def __init__(self):
        self._bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self._bits.append((value >> i) & 1)

    def write_code(self, code: int, n: int) -> None:
        """Prefix-code bits go out MSB-first."""
        for i in range(n - 1, -1, -1):
            self._bits.append((code >> i) & 1)

    def bytes(self) -> bytes:
        arr = np.array(self._bits, np.uint8)
        return np.packbits(arr, bitorder="little").tobytes()


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits), canonical: codes assigned in (length,
    symbol) order, numerically increasing, DEFLATE-style."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _HuffDecoder:
    """Bit-serial canonical-prefix decoder. A code where exactly one
    symbol has a non-zero length decodes as 0 bits (the spec's simple
    1-symbol case and libwebp's degenerate-tree behavior)."""

    def __init__(self, lengths: list[int]):
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("empty prefix code")
        if len(nz) == 1:
            self._single = nz[0][1]
            self._map = {}
            return
        self._single = None
        kraft = sum(2.0 ** -ln for ln, _ in nz)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError(f"incomplete/oversubscribed prefix code ({kraft})")
        self._map = {
            (ln, code): sym
            for sym, (code, ln) in _canonical_codes(lengths).items()
        }
        self._max_len = max(ln for ln, _ in nz)

    def read(self, br: _BitReader) -> int:
        if self._single is not None:
            return self._single
        code, ln = 0, 0
        m = self._map
        while True:
            code = (code << 1) | br.read_bit()
            ln += 1
            sym = m.get((ln, code))
            if sym is not None:
                return sym
            if ln > self._max_len:
                raise ValueError("invalid prefix code in stream")


def _read_code_lengths(br: _BitReader, num_symbols: int) -> list[int]:
    """Normal (non-simple) prefix-code header: code-length code + RLE."""
    num_codes = br.read(4) + 4
    if num_codes > 19:
        raise ValueError("bad code-length-code count")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _HuffDecoder(cl_lengths)

    if br.read_bit():  # use max_symbol budget
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = num_symbols
    lengths = [0] * num_symbols
    symbol, prev = 0, 8
    while symbol < num_symbols and max_symbol > 0:
        max_symbol -= 1
        s = cl_dec.read(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s != 0:
                prev = s
        else:
            if s == 16:
                repeat, fill = 3 + br.read(2), prev
            elif s == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > num_symbols:
                raise ValueError("code-length repeat overruns alphabet")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return lengths


def _read_huffman_code(br: _BitReader, num_symbols: int) -> _HuffDecoder:
    if br.read_bit():  # simple code
        n = br.read(1) + 1
        first_8bit = br.read_bit()
        lengths = [0] * num_symbols
        s0 = br.read(8 if first_8bit else 1)
        if s0 >= num_symbols:
            raise ValueError("simple-code symbol out of range")
        if n == 1:
            lengths[s0] = 1  # decoded as the 0-bit single-symbol case
        else:
            s1 = br.read(8)
            if s1 >= num_symbols or s1 == s0:
                raise ValueError("bad simple-code symbols")
            lengths[s0] = lengths[s1] = 1
        return _HuffDecoder(lengths)
    return _HuffDecoder(_read_code_lengths(br, num_symbols))


# ---------------------------------------------------------------------------
# LZ77 prefix-value scheme (lengths and distances share it)
# ---------------------------------------------------------------------------


def _prefix_value(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value (≥1) -> (code, extra_value, extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    hi = x.bit_length() - 1
    extra = hi - 1
    top2 = x >> extra  # 2 or 3
    code = 2 * extra + top2
    return code, x - (top2 << extra), extra


# ---------------------------------------------------------------------------
# Entropy-coded image decode
# ---------------------------------------------------------------------------


def _cache_insert(cache: list[int], bits: int, px: int) -> None:
    cache[((_CACHE_MULT * px) & 0xFFFFFFFF) >> (32 - bits)] = px


def _decode_entropy_image(
    br: _BitReader, w: int, h: int, level0: bool
) -> np.ndarray:
    """One entropy-coded ARGB image (uint32 array of w*h). level0 adds
    the meta-prefix-code layer (only the spatially-coded image has it)."""
    cache_bits = br.read(4) if br.read_bit() else 0
    if cache_bits > 11:
        raise ValueError("color cache bits > 11")

    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw, mh = _div_ceil(w, 1 << meta_bits), _div_ceil(h, 1 << meta_bits)
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta = (
            ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        )  # (r << 8) | g
        num_groups = int(meta.max()) + 1

    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    sizes = [green_size, 256, 256, 256, 40]
    groups = [
        [_read_huffman_code(br, s) for s in sizes] for _ in range(num_groups)
    ]

    out = np.zeros(w * h, np.uint32)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    g = groups[0]
    pos, total = 0, w * h
    while pos < total:
        if meta is not None:
            x, y = pos % w, pos // w
            mw = _div_ceil(w, 1 << meta_bits)
            g = groups[int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])]
        s = g[0].read(br)
        if s < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache is not None:
                _cache_insert(cache, cache_bits, px)
            pos += 1
        elif s < 280:
            length = _prefix_value(s - 256, br)
            dval = _prefix_value(g[4].read(br), br)
            if dval > 120:
                dist = dval - 120
            else:
                dx, dy = _DIST_MAP[dval - 1]
                dist = max(1, dy * w + dx)
            if dist > pos:
                raise ValueError("LZ77 distance reaches before image start")
            if pos + length > total:
                raise ValueError("LZ77 copy overruns image")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    _cache_insert(cache, cache_bits, px)
                pos += 1
        else:
            if cache is None:
                raise ValueError("cache symbol without color cache")
            out[pos] = cache[s - 280]
            pos += 1
    return out


# ---------------------------------------------------------------------------
# Transforms (inverse on decode, forward in the encoder)
# ---------------------------------------------------------------------------


def _argb_split(img: np.ndarray) -> tuple[np.ndarray, ...]:
    return (
        (img >> 24) & 0xFF,
        (img >> 16) & 0xFF,
        (img >> 8) & 0xFF,
        img & 0xFF,
    )


def _argb_join(a, r, g, b) -> np.ndarray:
    return (
        (a.astype(np.uint32) << 24)
        | ((r.astype(np.uint32) & 0xFF) << 16)
        | ((g.astype(np.uint32) & 0xFF) << 8)
        | (b.astype(np.uint32) & 0xFF)
    )


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    a, r, g, b = _argb_split(img)
    return _argb_join(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _fwd_subtract_green(img: np.ndarray) -> np.ndarray:
    a, r, g, b = _argb_split(img)
    return _argb_join(a, (r - g) & 0xFF, g, (b - g) & 0xFF)


def _ct_delta(t: int, c: int) -> int:
    """(int8)t * (int8)c >> 5 — the 3.5-bit fixed-point color transform."""
    ts = t - 256 if t > 127 else t
    cs = c - 256 if c > 127 else c
    return (ts * cs) >> 5


def _inv_color_transform(
    img: np.ndarray, w: int, h: int, bits: int, cte: np.ndarray
) -> np.ndarray:
    out = img.copy()
    bw = _div_ceil(w, 1 << bits)
    for y in range(h):
        for x in range(w):
            e = int(cte[(y >> bits) * bw + (x >> bits)])
            g2r, g2b, r2b = (e >> 16) & 0xFF, (e >> 8) & 0xFF, e & 0xFF
            px = int(out[y * w + x])
            a = px >> 24
            r, g, b = (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            out[y * w + x] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def _fwd_color_transform(
    img: np.ndarray, w: int, h: int, bits: int, cte: np.ndarray
) -> np.ndarray:
    out = img.copy()
    bw = _div_ceil(w, 1 << bits)
    for y in range(h):
        for x in range(w):
            e = int(cte[(y >> bits) * bw + (x >> bits)])
            g2r, g2b, r2b = (e >> 16) & 0xFF, (e >> 8) & 0xFF, e & 0xFF
            px = int(out[y * w + x])
            a = px >> 24
            r, g, b = (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF
            nr = (r - _ct_delta(g2r, g)) & 0xFF
            nb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
            out[y * w + x] = (a << 24) | (nr << 16) | (g << 8) | nb
    return out


def _avg2(a: int, b: int) -> int:
    """Per-channel (a + b) >> 1 over packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(left: int, top: int, tl: int) -> int:
    d = 0
    for sh in (24, 16, 8, 0):
        lc, tc, cc = (left >> sh) & 0xFF, (top >> sh) & 0xFF, (tl >> sh) & 0xFF
        d += abs(lc - cc) - abs(tc - cc)
    return top if d <= 0 else left


def _cas_full(left: int, top: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(
            ((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        )
        out |= c << sh
    return out


def _cas_half(ave: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        c = (tl >> sh) & 0xFF
        delta = a - c
        # C truncation toward zero, not Python floor
        half = delta // 2 if delta >= 0 else -((-delta) // 2)
        out |= _clamp(a + half) << sh
    return out


def _predict(mode: int, left: int, top: int, tr: int, tl: int) -> int:
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
        return _cas_full(left, top, tl)
    if mode == 13:
        return _cas_half(_avg2(left, top), tl)
    raise ValueError(f"predictor mode {mode} out of range")


def _add_px(residual: int, pred: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((residual >> sh) & 0xFF) + ((pred >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _sub_px(px: int, pred: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((px >> sh) & 0xFF) - ((pred >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _pred_mode_at(
    modes: np.ndarray, bits: int, bw: int, x: int, y: int
) -> int:
    if x == 0 and y == 0:
        return 0
    if y == 0:
        return 1  # top row: L
    if x == 0:
        return 2  # left column: T
    return int((modes[(y >> bits) * bw + (x >> bits)] >> 8) & 0xFF)


def _inv_predictor(
    img: np.ndarray, w: int, h: int, bits: int, modes: np.ndarray
) -> np.ndarray:
    out = img.copy()
    bw = _div_ceil(w, 1 << bits)
    for y in range(h):
        for x in range(w):
            mode = _pred_mode_at(modes, bits, bw, x, y)
            i = y * w + x
            left = int(out[i - 1]) if x > 0 else 0
            top = int(out[i - w]) if y > 0 else 0
            tl = int(out[i - w - 1]) if (x > 0 and y > 0) else 0
            # TR = top[x+1]; at the last column this deliberately aliases
            # the CURRENT row's first (already reconstructed) pixel —
            # libwebp reads the same address, so streams agree bit-exactly
            tr = int(out[i - w + 1]) if y > 0 else 0
            pred = _predict(mode, left, top, tr, tl)
            out[i] = _add_px(int(out[i]), pred)
    return out


def _fwd_predictor(
    img: np.ndarray, w: int, h: int, bits: int, modes: np.ndarray
) -> np.ndarray:
    res = img.copy()
    bw = _div_ceil(w, 1 << bits)
    for y in range(h - 1, -1, -1):
        for x in range(w - 1, -1, -1):
            mode = _pred_mode_at(modes, bits, bw, x, y)
            i = y * w + x
            left = int(img[i - 1]) if x > 0 else 0
            top = int(img[i - w]) if y > 0 else 0
            tl = int(img[i - w - 1]) if (x > 0 and y > 0) else 0
            tr = int(img[i - w + 1]) if y > 0 else 0  # aliases row start
            pred = _predict(mode, left, top, tr, tl)
            res[i] = _sub_px(int(img[i]), pred)
    return res


def _palette_width_bits(n: int) -> int:
    if n <= 2:
        return 3
    if n <= 4:
        return 2
    if n <= 16:
        return 1
    return 0


def _inv_palette(
    packed: np.ndarray, packed_w: int, h: int, wbits: int,
    palette: np.ndarray, w: int,
) -> np.ndarray:
    n = len(palette)
    out = np.zeros(w * h, np.uint32)
    bpp = 8 >> wbits
    mask = (1 << bpp) - 1
    per = 1 << wbits
    for y in range(h):
        for x in range(w):
            g = int((packed[y * packed_w + x // per] >> 8) & 0xFF)
            idx = (g >> ((x % per) * bpp)) & mask
            if idx >= n:
                raise ValueError("palette index out of range")
            out[y * w + x] = palette[idx]
    return out


# ---------------------------------------------------------------------------
# VP8L decode
# ---------------------------------------------------------------------------


def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L chunk payload → uint8 (h, w, 4) RGBA."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    img = _decode_image_stream(br, w, h)
    a, r, g, b = _argb_split(img.reshape(h, w))
    return np.stack([r, g, b, a], axis=-1).astype(np.uint8)


def _decode_image_stream(br: _BitReader, w: int, h: int) -> np.ndarray:
    """The headerless VP8L *image stream* (transforms + entropy-coded image
    + inverse transforms) with externally-supplied dimensions — the shared
    grammar between a VP8L chunk body (after its 14+14-bit size header)
    and an ALPH chunk's compression-method-1 payload (spec: the alpha
    plane rides the GREEN channel of a headerless lossless stream).
    Returns the flat uint32 ARGB array."""
    transforms = []
    seen = set()
    cur_w = w
    while br.read_bit():
        t = br.read(2)
        if t in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(t)
        if t == _T_SUBGREEN:
            transforms.append(("subgreen",))
        elif t in (_T_PRED, _T_COLOR):
            bits = br.read(3) + 2
            bw = _div_ceil(cur_w, 1 << bits)
            bh = _div_ceil(h, 1 << bits)
            sub = _decode_entropy_image(br, bw, bh, False)
            transforms.append(
                ("pred" if t == _T_PRED else "color", bits, sub, cur_w)
            )
        else:  # color indexing
            n = br.read(8) + 1
            pal_img = _decode_entropy_image(br, n, 1, False)
            # palette entries are stored channel-delta-coded
            pal = np.zeros(n, np.uint32)
            prev = 0
            for i in range(n):
                prev = _add_px(int(pal_img[i]), prev)
                pal[i] = prev
            wbits = _palette_width_bits(n)
            transforms.append(("palette", wbits, pal, cur_w))
            cur_w = _div_ceil(cur_w, 1 << wbits)

    img = _decode_entropy_image(br, cur_w, h, True)

    for t in reversed(transforms):
        if t[0] == "subgreen":
            img = _inv_subtract_green(img)
        elif t[0] == "pred":
            img = _inv_predictor(img, t[3], h, t[1], t[2])
        elif t[0] == "color":
            img = _inv_color_transform(img, t[3], h, t[1], t[2])
        else:  # palette
            _, wbits, pal, full_w = t
            img = _inv_palette(img, cur_w, h, wbits, pal, full_w)
            cur_w = full_w
    return img


def decode_alpha(payload: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk → uint8 (h, w) alpha plane (the lossy-WebP-with-alpha
    path: VP8X container, ALPH + VP8 chunks).

    Header byte: 2 reserved bits, pre-processing (2), filtering method
    (2: none/horizontal/vertical/gradient), compression (2: raw or a
    headerless VP8L stream with alpha in the green channel). The three
    unfilter recurrences are the spec's exactly (first row/column fall
    back per the None/left rules); pre-processing method 1 (level
    reduction) raises — an honest seam (libwebp only emits it below
    alpha_quality 100; conformance for the emitted-by-default paths is
    pinned bit-exact against libwebp in tests)."""
    if not payload:
        raise ValueError("empty ALPH chunk")
    b0 = payload[0]
    compression = b0 & 3
    filtering = (b0 >> 2) & 3
    preprocessing = (b0 >> 4) & 3
    if preprocessing == 1:
        raise NotImplementedError(
            "ALPH pre-processing 1 (level reduction) not implemented"
        )
    if compression == 0:
        if len(payload) < 1 + w * h:
            raise ValueError("truncated raw ALPH chunk")
        data = np.frombuffer(payload[1 : 1 + w * h], np.uint8).reshape(h, w)
    elif compression == 1:
        br = _BitReader(payload[1:])
        img = _decode_image_stream(br, w, h)
        data = ((img >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    else:
        raise ValueError(f"bad ALPH compression method {compression}")
    if filtering == 0:
        return data.copy()
    out = np.zeros((h, w), np.uint8)
    d = data.astype(np.int32)
    if filtering == 1:  # horizontal
        for y in range(h):
            pred = int(out[y - 1, 0]) if y > 0 else 0
            for x in range(w):
                pred = (pred + d[y, x]) & 0xFF
                out[y, x] = pred
    elif filtering == 2:  # vertical
        # first row unfilters horizontally from 0
        pred = 0
        for x in range(w):
            pred = (pred + d[0, x]) & 0xFF
            out[0, x] = pred
        # each row depends on the previous OUTPUT row → sequential rows,
        # vectorized within a row
        for y in range(1, h):
            out[y] = ((d[y] + out[y - 1].astype(np.int32)) & 0xFF).astype(np.uint8)
    else:  # gradient
        pred = 0
        for x in range(w):
            pred = (pred + d[0, x]) & 0xFF
            out[0, x] = pred
        for y in range(1, h):
            top_left = int(out[y - 1, 0])
            left = int(out[y - 1, 0])
            for x in range(w):
                top = int(out[y - 1, x])
                g = left + top - top_left
                g = 0 if g < 0 else (255 if g > 255 else g)
                left = (d[y, x] + g) & 0xFF
                out[y, x] = left
                top_left = top
    return out


def _blend_rect(canvas: np.ndarray, frame: np.ndarray, x: int, y: int,
                blend: bool) -> None:
    """Composite an RGBA frame onto the canvas at (x, y) — straight-alpha
    src-over when ``blend`` (the spec's formula, float64 + round), plain
    overwrite otherwise."""
    h, w = frame.shape[:2]
    dst = canvas[y : y + h, x : x + w].astype(np.float64)
    if not blend:
        canvas[y : y + h, x : x + w] = frame
        return
    src = frame.astype(np.float64)
    sa = src[..., 3:4] / 255.0
    da = dst[..., 3:4] / 255.0
    oa = sa + da * (1.0 - sa)
    rgb = np.where(
        oa > 0,
        (src[..., :3] * sa + dst[..., :3] * da * (1.0 - sa)) / np.maximum(oa, 1e-12),
        0.0,
    )
    out = np.concatenate([rgb, oa * 255.0], axis=-1)
    canvas[y : y + h, x : x + w] = np.clip(np.round(out), 0, 255).astype(np.uint8)


def decode_webp_frames(data: bytes) -> list[tuple[np.ndarray, int]]:
    """Animated WebP (VP8X + ANIM + ANMF) → [(full-canvas RGBA frame,
    duration_ms)] with blending and disposal applied — an ANMF frame is a
    delta over the prior canvas, so sampled frames must be composited to
    stand alone (the same contract as gifcodec.decode_gif_frames). Still
    images return one frame with duration 0.

    Verification note: no demux/animation API exists in the system
    libwebp.so, so (unlike the single-image paths, which are pinned
    bit-exact against it) the animation CONTAINER layer is pinned the
    VP8L way — an encoder fabricates ANMF layouts (lossless frame
    payloads → exact pixels by construction) and tests assert the spec's
    blend/disposal semantics on planted frame stacks."""
    canvas_w = canvas_h = None
    bg = np.zeros(4, np.uint8)
    frames: list[tuple[np.ndarray, int]] = []
    canvas = None
    saw_anim = False
    for tag, payload in riff.read(data, b"WEBP"):
        if tag == b"VP8X":
            canvas_w = int.from_bytes(payload[4:7], "little") + 1
            canvas_h = int.from_bytes(payload[7:10], "little") + 1
        elif tag == b"ANIM":
            if len(payload) < 6:
                raise ValueError("truncated ANIM chunk")
            b_, g_, r_, a_ = payload[0], payload[1], payload[2], payload[3]
            bg = np.array([r_, g_, b_, a_], np.uint8)  # stored BGRA
            saw_anim = True
            canvas = np.zeros((canvas_h, canvas_w, 4), np.uint8)
            canvas[:, :] = bg
        elif tag == b"ANMF":
            if canvas is None:
                raise ValueError("ANMF before ANIM/VP8X")
            if len(payload) < 16:
                raise ValueError("truncated ANMF header")
            fx = int.from_bytes(payload[0:3], "little") * 2
            fy = int.from_bytes(payload[3:6], "little") * 2
            fw = int.from_bytes(payload[6:9], "little") + 1
            fh = int.from_bytes(payload[9:12], "little") + 1
            dur = int.from_bytes(payload[12:15], "little")
            flags = payload[15]
            dispose_bg = bool(flags & 1)
            no_blend = bool(flags & 2)
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise ValueError("ANMF frame exceeds canvas")
            px = _decode_image_chunks(riff.chunks(payload, 16))
            if px.shape[:2] != (fh, fw):
                raise ValueError("ANMF frame dims disagree with its payload")
            _blend_rect(canvas, px, fx, fy, blend=not no_blend)
            frames.append((canvas.copy(), dur))
            if dispose_bg:
                canvas[fy : fy + fh, fx : fx + fw] = bg
    if saw_anim:
        if not frames:
            raise ValueError("animated WebP with no ANMF frames")
        return frames
    return [(decode_webp(data), 0)]


def encode_webp_anim(
    frames: list[tuple[np.ndarray, int, int, int, bool, bool]],
    canvas_w: int,
    canvas_h: int,
    bg_rgba: tuple[int, int, int, int] = (0, 0, 0, 0),
    loop_count: int = 0,
) -> bytes:
    """Fabricate an animated WebP. ``frames`` entries are (rgba, x, y,
    duration_ms, blend, dispose_bg); frame payloads use the LOSSLESS
    encoder so composited pixels are exact by construction."""

    vp8x = (
        bytes([0x12, 0, 0, 0])  # flags: animation + alpha
        + (canvas_w - 1).to_bytes(3, "little")
        + (canvas_h - 1).to_bytes(3, "little")
    )
    r, g, b, a = bg_rgba
    anim = bytes([b, g, r, a]) + loop_count.to_bytes(2, "little")
    out = riff.chunk(b"VP8X", vp8x) + riff.chunk(b"ANIM", anim)
    for rgba, x, y, dur, blend, dispose_bg in frames:
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets are stored halved: use even x/y")
        fh, fw = rgba.shape[:2]
        sub = encode_webp_lossless(rgba)
        payload = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + dur.to_bytes(3, "little")
            + bytes([(0 if blend else 2) | (1 if dispose_bg else 0)])
            + sub[12:]  # the image chunks, container header stripped
        )
        out += riff.chunk(b"ANMF", payload)
    return riff.form(b"WEBP", out)


def decode_webp(data: bytes) -> np.ndarray:
    """WebP container → uint8 (h, w, 4) RGBA (lossless VP8L or lossy VP8)."""
    return _decode_image_chunks(riff.read(data, b"WEBP"))


def _decode_image_chunks(chunks) -> np.ndarray:
    """The image of one (tag, payload) chunk sequence — a file's top level
    or the chunks inside an ANMF frame."""
    alpha_payload = None
    for tag, payload in chunks:
        if tag == b"ALPH":
            # lossy-with-alpha (VP8X layout): alpha plane rides its own
            # chunk ahead of the VP8 image chunk
            alpha_payload = payload
        if tag == b"VP8L":
            return decode_vp8l(payload)
        if tag == b"VP8 ":
            # lossy WebP: VP8 key-frame codec (r5; closes the r4 seam)
            from . import vp8codec

            px = vp8codec.decode_vp8_rgba(payload)
            if alpha_payload is not None:
                h, w = px.shape[:2]
                px = px.copy()
                px[:, :, 3] = decode_alpha(alpha_payload, w, h)
            return px
        # VP8X and metadata chunks: keep scanning for the image chunk
    raise ValueError("no image chunk in WebP container")


# ---------------------------------------------------------------------------
# Encoder (spec-conformant test-vector fabricator)
# ---------------------------------------------------------------------------


def _package_merge(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Optimal length-limited prefix-code lengths (package-merge)."""
    items = sorted((f, (s,)) for s, f in freqs.items() if f > 0)
    if len(items) == 1:
        return {items[0][1][0]: 1}
    level = list(items)
    for _ in range(max_len - 1):
        merged = [
            (a[0] + b[0], a[1] + b[1])
            for a, b in zip(level[0::2], level[1::2])
        ]
        level = sorted(items + merged)
    counts: dict[int, int] = {}
    for _, syms in level[: 2 * len(items) - 2]:
        for s in syms:
            counts[s] = counts.get(s, 0) + 1
    return counts


def _write_huffman_code(
    bw: _BitWriter, lengths: list[int]
) -> dict[int, tuple[int, int]]:
    """Serialize a prefix code header; returns the symbol->(code, nbits)
    encoder map (single-symbol codes map to 0 bits)."""
    nz = [(sym, ln) for sym, ln in enumerate(lengths) if ln > 0]
    if not nz:
        raise ValueError("cannot serialize an empty code")
    syms = [s for s, _ in nz]
    if len(nz) <= 2 and max(syms) <= 255:
        # simple code
        bw.write(1, 1)
        bw.write(len(nz) - 1, 1)
        if len(nz) == 1:
            s0 = syms[0]
            if s0 <= 1:
                bw.write(0, 1)  # 1-bit symbol
                bw.write(s0, 1)
            else:
                bw.write(1, 1)
                bw.write(s0, 8)
            return {s0: (0, 0)}
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(syms[0], 8)
        bw.write(syms[1], 8)
        return {syms[0]: (0, 1), syms[1]: (1, 1)}

    bw.write(0, 1)  # normal code
    toks: list[tuple[int, int, int]] = []  # (cl_symbol, extra, extra_bits)
    n = len(lengths)
    last = max(s for s, _ in nz) + 1
    i = 0
    while i < last:
        v = lengths[i]
        if v == 0:
            run = 0
            while i + run < last and lengths[i + run] == 0:
                run += 1
            i += run
            while run >= 11:
                e = min(run, 138)
                toks.append((18, e - 11, 7))
                run -= e
            while run >= 3:
                e = min(run, 10)
                toks.append((17, e - 3, 3))
                run -= e
            for _ in range(run):
                toks.append((0, 0, 0))
        else:
            toks.append((v, 0, 0))
            i += 1
            run = 0
            while i + run < last and lengths[i + run] == v:
                run += 1
            i += run
            while run >= 3:
                e = min(run, 6)
                toks.append((16, e - 3, 2))
                run -= e
            for _ in range(run):
                toks.append((v, 0, 0))

    cl_freq: dict[int, int] = {}
    for s, _, _ in toks:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    cl_lengths_map = _package_merge(cl_freq, 7)
    cl_lengths = [cl_lengths_map.get(s, 0) for s in range(19)]
    num_codes = max(
        4, max(i for i, s in enumerate(_CL_ORDER) if cl_lengths[s] > 0) + 1
    )
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    single_cl = len([s for s in cl_lengths if s > 0]) == 1
    cl_codes = (
        {s: (0, 0) for s, ln in enumerate(cl_lengths) if ln > 0}
        if single_cl
        else _canonical_codes(cl_lengths)
    )

    if len(toks) >= 2 and last < n:
        bw.write(1, 1)  # use max_symbol budget = exact token count
        budget = len(toks)
        nbits = 2
        while (1 << nbits) < budget - 2 + 1:
            nbits += 2
        bw.write((nbits - 2) // 2, 3)
        bw.write(budget - 2, nbits)
    else:
        bw.write(0, 1)
        if last < n:  # must cover the whole alphabet with zero runs
            run = n - last
            while run >= 11:
                e = min(run, 138)
                toks.append((18, e - 11, 7))
                run -= e
            while run >= 3:
                e = min(run, 10)
                toks.append((17, e - 3, 3))
                run -= e
            for _ in range(run):
                toks.append((0, 0, 0))
    for s, extra, ebits in toks:
        c, ln = cl_codes[s]
        bw.write_code(c, ln)
        if ebits:
            bw.write(extra, ebits)

    if len(nz) == 1:
        return {nz[0][0]: (0, 0)}
    return _canonical_codes(lengths)


def _encode_entropy_image(
    bw: _BitWriter,
    img: np.ndarray,
    w: int,
    h: int,
    level0: bool,
    cache_bits: int = 0,
    lz77: bool = False,
    meta_bits: int = 0,
    meta: np.ndarray | None = None,
) -> None:
    """Serialize one entropy-coded ARGB image. Optional color cache,
    greedy LZ77 (distances 1 and w, via the 2D map), and — at level0 —
    a meta prefix-code split (meta = group index per block)."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)

    num_groups = 1
    if level0:
        if meta is not None:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mw = _div_ceil(w, 1 << meta_bits)
            mh = _div_ceil(h, 1 << meta_bits)
            meta_img = (meta.astype(np.uint32) & 0xFFFF) << 8  # (r<<8)|g
            _encode_entropy_image(bw, meta_img, mw, mh, False)
            num_groups = int(meta.max()) + 1
        else:
            bw.write(0, 1)

    # tokenize: (kind, payload) where kind ∈ literal/copy/cache
    cache = [None] * (1 << cache_bits) if cache_bits else None
    total = w * h
    group_of = np.zeros(total, np.int64)
    if meta is not None:
        mw = _div_ceil(w, 1 << meta_bits)
        for pos in range(total):
            x, y = pos % w, pos // w
            group_of[pos] = meta[(y >> meta_bits) * mw + (x >> meta_bits)]

    tokens: list[tuple] = []
    pos = 0
    while pos < total:
        px = int(img[pos])
        gi = int(group_of[pos])
        if lz77 and pos > 0:
            best_d, best_l = 0, 0
            for d in (1, w):
                if d == 0 or d > pos:
                    continue
                ln = 0
                while (
                    pos + ln < total
                    and ln < 4096
                    and int(img[pos + ln - d]) == int(img[pos + ln])
                ):
                    ln += 1
                if ln > best_l:
                    best_d, best_l = d, ln
            if best_l >= 3:
                dval = 2 if best_d == 1 else (1 if best_d == w else best_d + 120)
                tokens.append(("copy", gi, best_l, dval))
                if cache is not None:
                    for k in range(best_l):
                        _cache_insert(
                            cache, cache_bits, int(img[pos + k])
                        )
                pos += best_l
                continue
        if cache is not None:
            idx = ((_CACHE_MULT * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                tokens.append(("cache", gi, idx))
                pos += 1
                continue
            _cache_insert(cache, cache_bits, px)
        tokens.append(("lit", gi, px))
        pos += 1

    # histograms per group
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    freqs = [
        [dict() for _ in range(5)] for _ in range(num_groups)
    ]

    def bump(gi, tree, sym):
        d = freqs[gi][tree]
        d[sym] = d.get(sym, 0) + 1

    for tok in tokens:
        gi = tok[1]
        if tok[0] == "lit":
            px = tok[2]
            bump(gi, 0, (px >> 8) & 0xFF)
            bump(gi, 1, (px >> 16) & 0xFF)
            bump(gi, 2, px & 0xFF)
            bump(gi, 3, px >> 24)
        elif tok[0] == "copy":
            lcode, _, _ = _prefix_encode(tok[2])
            bump(gi, 0, 256 + lcode)
            dcode, _, _ = _prefix_encode(tok[3])
            bump(gi, 4, dcode)
        else:
            bump(gi, 0, 280 + tok[2])

    sizes = [green_size, 256, 256, 256, 40]
    enc_maps = []
    for gi in range(num_groups):
        maps = []
        for tree in range(5):
            fr = freqs[gi][tree]
            if not fr:
                fr = {0: 1}  # unused tree: 1-symbol (0-bit) placeholder
            lmap = _package_merge(fr, _MAX_LEN)
            lengths = [0] * sizes[tree]
            for s, ln in lmap.items():
                lengths[s] = ln
            maps.append(_write_huffman_code(bw, lengths))
        enc_maps.append(maps)

    def put(gi, tree, sym):
        c, ln = enc_maps[gi][tree][sym]
        bw.write_code(c, ln)

    for tok in tokens:
        gi = tok[1]
        if tok[0] == "lit":
            px = tok[2]
            put(gi, 0, (px >> 8) & 0xFF)
            put(gi, 1, (px >> 16) & 0xFF)
            put(gi, 2, px & 0xFF)
            put(gi, 3, px >> 24)
        elif tok[0] == "copy":
            _, _, length, dval = tok
            lcode, lex, lbits = _prefix_encode(length)
            put(gi, 0, 256 + lcode)
            if lbits:
                bw.write(lex, lbits)
            dcode, dex, dbits = _prefix_encode(dval)
            put(gi, 4, dcode)
            if dbits:
                bw.write(dex, dbits)
        else:
            put(gi, 0, 280 + tok[2])


def encode_webp_lossless(
    pixels: np.ndarray,
    subtract_green: bool = False,
    predictor: int | None = None,
    color_transform: tuple[int, int, int] | None = None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    meta_split: bool = False,
) -> bytes:
    """(h, w, 3|4) uint8 → lossless WebP bytes.

    Feature switches fabricate every decoder path: SUBTRACT_GREEN,
    PREDICTOR (one constant mode image-wide), COLOR_TRANSFORM (one
    constant element), COLOR_INDEXING (``palette=True``, needs ≤ 256
    distinct colors; packs sub-byte indices automatically), color cache,
    greedy LZ77 (distances 1 and image width through the 2D map), and a
    left/right meta prefix-code split. ``palette`` is mutually exclusive
    with predictor/color transform here (legal in the spec, pointless in
    practice, and it keeps the fabricator simple)."""
    if pixels.ndim != 3 or pixels.shape[2] not in (3, 4):
        raise ValueError("expected (h, w, 3|4) uint8 pixels")
    h, w, nc = pixels.shape
    if w > 16384 or h > 16384:
        raise ValueError("VP8L dimensions are 14-bit")
    if palette and (predictor is not None or color_transform is not None):
        raise ValueError("palette combines only with subtract_green here")
    rgba = pixels if nc == 4 else np.concatenate(
        [pixels, np.full((h, w, 1), 255, np.uint8)], axis=2
    )
    img = _argb_join(
        rgba[:, :, 3].astype(np.uint32),
        rgba[:, :, 0].astype(np.uint32),
        rgba[:, :, 1].astype(np.uint32),
        rgba[:, :, 2].astype(np.uint32),
    ).reshape(-1)

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if nc == 4 else 0, 1)
    bw.write(0, 3)  # version

    cur_w = w
    # forward transforms applied in write order; decoder inverts in reverse
    if subtract_green:
        bw.write(1, 1)
        bw.write(_T_SUBGREEN, 2)
        img = _fwd_subtract_green(img)
    if predictor is not None:
        bits = 4  # 16x16 blocks
        bw.write(1, 1)
        bw.write(_T_PRED, 2)
        bw.write(bits - 2, 3)
        bvw, bvh = _div_ceil(cur_w, 1 << bits), _div_ceil(h, 1 << bits)
        modes = np.full(
            bvw * bvh, 0xFF000000 | (predictor << 8), np.uint32
        )
        img = _fwd_predictor(img, cur_w, h, bits, modes)
        _encode_entropy_image(bw, modes, bvw, bvh, False)
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bits = 4
        bw.write(1, 1)
        bw.write(_T_COLOR, 2)
        bw.write(bits - 2, 3)
        bvw, bvh = _div_ceil(cur_w, 1 << bits), _div_ceil(h, 1 << bits)
        cte = np.full(
            bvw * bvh,
            0xFF000000
            | ((g2r & 0xFF) << 16)
            | ((g2b & 0xFF) << 8)
            | (r2b & 0xFF),
            np.uint32,
        )
        img = _fwd_color_transform(img, cur_w, h, bits, cte)
        _encode_entropy_image(bw, cte, bvw, bvh, False)
    if palette:
        colors = np.unique(img)
        n = len(colors)
        if n > 256:
            raise ValueError(f"{n} distinct colors > 256")
        bw.write(1, 1)
        bw.write(_T_PALETTE, 2)
        bw.write(n - 1, 8)
        # channel-delta-code the palette image
        pal_img = np.zeros(n, np.uint32)
        prev = 0
        for i, c in enumerate(colors):
            pal_img[i] = _sub_px(int(c), prev)
            prev = int(c)
        _encode_entropy_image(bw, pal_img, n, 1, False)
        lookup = {int(c): i for i, c in enumerate(colors)}
        idx = np.array([lookup[int(p)] for p in img], np.uint32)
        wbits = _palette_width_bits(n)
        per = 1 << wbits
        bpp = 8 >> wbits
        packed_w = _div_ceil(cur_w, per)
        packed = np.zeros(packed_w * h, np.uint32)
        for y in range(h):
            for x in range(cur_w):
                packed[y * packed_w + x // per] |= idx[y * cur_w + x] << (
                    (x % per) * bpp
                )
        img = (packed << 8) | 0xFF000000  # indices ride the green channel
        cur_w = packed_w
    bw.write(0, 1)  # end of transforms

    meta = None
    meta_bits = 0
    if meta_split:
        meta_bits = 2
        mw, mh = _div_ceil(cur_w, 4), _div_ceil(h, 4)
        meta = np.zeros(mw * mh, np.int64)
        for by in range(mh):
            for bx in range(mw):
                meta[by * mw + bx] = 1 if bx >= (mw + 1) // 2 else 0
    _encode_entropy_image(
        bw, img, cur_w, h, True, cache_bits, lz77, meta_bits, meta
    )

    payload = b"\x2f" + bw.bytes()
    return riff.form(b"WEBP", riff.chunk(b"VP8L", payload))
