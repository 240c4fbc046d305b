"""Pure-Python baseline JPEG (JFIF) encoder/decoder — no libjpeg/PIL.

Replaces the FJPG stand-in behind the imagecodec seam (VERDICT r1 item 6)
with a real, spec-conformant JPEG — baseline sequential AND progressive:

- encoder: RGB→YCbCr (JFIF), 8×8 forward DCT (matrix form, batched with
  numpy einsum over all blocks), Annex-K quantization tables scaled by a
  libjpeg-style quality factor, standard Annex-K Huffman tables,
  selectable chroma subsampling — 4:4:4 (default: holds the 40 dB PSNR
  invariant on noisy synthetic images) through 4:2:0/4:2:2/4:4:0
  (box-averaged chroma, what real-world corpora carry) — interleaved
  MCUs, 0xFF byte stuffing. Output opens in any JPEG viewer.
- decoder: multi-scan marker walk (APP*/COM skipped, DQT/DHT/SOF0/SOF2/
  SOS honored, tables re-definable between scans), canonical Huffman
  decode, PROGRESSIVE scans (spectral selection, successive approximation,
  interleaved DC + single-component AC, EOB runs — T.81 G.2, control flow
  per the public stb_image/libjpeg structure), dequantize, inverse
  zigzag, batched IDCT, YCbCr→RGB. Tables are read from the file, not
  assumed. Malformed input raises ValueError.
- progressive encoder (encode_progressive_jpeg): 2 DC scans (first at
  Al=1 + refinement) and per-component AC first/refinement scan pairs,
  with an EOBn-capable flat AC Huffman table shipped in the stream. It
  encodes the identical quantized coefficients as the baseline encoder,
  so progressive and baseline decodes are byte-identical — the pinned
  cross-check that validates both codec directions against each other.

One scan coder per direction. Every scan of both encoders and of the
decoder walks its data units through ``_block_walk`` (T.81 A.2.2/A.2.3:
an interleaved scan's MCUs, or a one-component scan's own block raster,
yielded lazily with each restart point marked). A baseline scan is the progressive first
scan over band 0..63 at Al=0: one first-scan block coder
(``_ScanWriter.first``) and one scan decoder (``_decode_scan``) code the
DC difference and the AC run lengths for both; only the refinement scans
are progressive-only.

Honest seams (raise NotImplementedError, never wrong pixels): arithmetic
coding, lossless/hierarchical frames, sampling factors above 2, restart
intervals inside progressive scans (sequential restarts decode and
encode, interleaved or per component), 12-bit precision, component
counts other than 1 and 3 (the encoder writes 1-component grayscale as
one Ns=1 baseline scan; progressive output is color only).

Scale note: the DCT/IDCT and color transforms are numpy-batched across
every block of the image; only the entropy (Huffman) stage is a Python
loop, which is the part a production cluster swaps for libjpeg-turbo via
the same encode/decode signatures. The Spark-side plumbing (binary
column, Arrow batches, PSNR invariant) is identical either way.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants (ITU-T T.81 Annex K) ----------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])
_UNZIGZAG = np.argsort(ZIGZAG)

_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
])
_QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
])

_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8×8 DCT-II basis matrix: D @ block @ D.T = 2-D DCT.
_D = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _D[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for a canonical JPEG Huffman table."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def restart(self, n: int):
        """Byte-align (1-bit padding per spec) and emit RSTn (unstuffed —
        restart markers live raw in the entropy stream)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (n & 7)])

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, magnitude-bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0].astype(np.float64), px[..., 1].astype(np.float64), px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H8, W8) → (n_blocks, 8, 8) in MCU raster order (H8/W8 multiples of 8)."""
    h, w = chan.shape
    return (
        chan.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _prepare_components(
    pixels: np.ndarray, quality: int, subsampling: tuple[int, int]
):
    """Shared encoder front half: color transform, subsample, batched DCT,
    quantize. Returns (qts, comp_zz, samp): each component's zigzagged
    blocks in its MCU-padded grid, and its (h, v) sampling factors.
    An (h, w) plane is one component (Nf=1: it IS Y, no color transform)
    with one quantization table; (h, w, 3) RGB is Y, Cb, Cr with two."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    assert pixels.dtype == np.uint8 and (gray or pixels.shape[2:] == (3,))
    sh, sv = subsampling
    if sh not in (1, 2) or sv not in (1, 2):
        raise NotImplementedError(
            "subsampling factors above 2 are not encoded (4:4:4 / 4:2:0 / "
            "4:2:2 / 4:4:0 are)"
        )
    if gray and (sh, sv) != (1, 1):
        raise NotImplementedError("a grayscale JPEG has no chroma to subsample")
    qts = [_scaled_qt(_QT_LUM, quality)]
    if not gray:
        qts.append(_scaled_qt(_QT_CHROM, quality))

    ycc = pixels[..., None].astype(np.float64) if gray else _rgb_to_ycbcr(pixels)
    # pad to MCU multiple (8 for 4:4:4, 16 for 4:2:0) by edge replication
    ph, pw = -h % (8 * sv), -w % (8 * sh)
    ycc = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ph8, pw8 = ycc.shape[:2]

    comp_planes = [ycc[..., 0]]
    for ci in range(1, ycc.shape[2]):  # sv×sh box-average chroma downsample
        comp_planes.append(
            ycc[..., ci].reshape(ph8 // sv, sv, pw8 // sh, sh).mean(axis=(1, 3))
        )

    # batched DCT + quantization per component
    comp_zz = []
    for ci, plane in enumerate(comp_planes):
        blocks = _to_blocks(plane) - 128.0
        coefs = np.einsum("ux,nxy,vy->nuv", _D, blocks, _D)
        qt = qts[0 if ci == 0 else 1].reshape(8, 8)
        quant = np.round(coefs / qt).astype(np.int32)
        zz = quant.reshape(-1, 64)[:, ZIGZAG]
        # Baseline JPEG guarantees |AC| ≤ 1023 (the Annex-K AC tables stop
        # at size 10): at quality ≥ 98 a quant entry clamps to 1 and a
        # basis-aligned full-contrast block (e.g. a checkerboard) quantizes
        # to ±1024, which would KeyError the table lookup. Clamp
        # defensively — ≤ 1-step coefficient error on adversarial blocks,
        # none on typical content.
        np.clip(zz[:, 1:], -1023, 1023, out=zz[:, 1:])
        comp_zz.append(zz)
    return qts, comp_zz, [(sh, sv)] + [(1, 1)] * (len(comp_zz) - 1)


def _block_walk(scan, samp, h: int, w: int, ri: int = 0):
    """The data units of one scan in T.81 order, as lazily yielded
    (rst, component, block) triples: ``block`` indexes the component's
    MCU-padded block grid (``mcus_x * h_i`` blocks per row), and ``rst``
    is n >= 0 when RSTn comes before the unit, else -1. Both directions
    walk every scan through this one function; nothing is built ahead of
    the units, so a truncated stream fails at its first missing unit.

    ``scan`` lists component indices into ``samp``, the frame's (h_i, v_i)
    sampling factors. An interleaved scan (A.2.3) walks MCUs, each carrying
    h_i × v_i blocks of every scan component in raster order. A
    one-component scan (A.2.2) walks the component's OWN block raster,
    ceil(comp_dim / 8) per axis, which differs from the padded grid in
    order and count for a subsampled component. A restart interval of
    ``ri`` counts MCUs, or data units in a one-component scan; ``ri=0``
    never restarts."""
    hmax = max(c for c, _ in samp)
    vmax = max(v for _, v in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if len(scan) == 1:
        (ci,) = scan
        ch, cv = samp[ci]
        nb_x = (-(-w * ch // hmax) + 7) // 8
        nb_y = (-(-h * cv // vmax) + 7) // 8
        units = (
            (ci, by * mcus_x * ch + bx) for by in range(nb_y) for bx in range(nb_x)
        )
        per_unit = 1
    else:
        units = (
            (ci, (my * cv + by) * mcus_x * ch + mx * ch + bx)
            for my in range(mcus_y)
            for mx in range(mcus_x)
            for ci in scan
            for ch, cv in (samp[ci],)
            for by in range(cv)
            for bx in range(ch)
        )
        per_unit = sum(samp[ci][0] * samp[ci][1] for ci in scan)
    step = ri * per_unit
    for i, (ci, bi) in enumerate(units):
        yield (i // step - 1 if step and i and not i % step else -1), ci, bi


def _headers(
    h: int, w: int, qts, sh: int, sv: int, sof_marker: bytes, ac_tables,
) -> bytearray:
    """SOI → JFIF → DQT → SOF(0|2) → DHT, shared by both encoders.
    One quantization table means a 1-component (grayscale) frame with only
    the luma Huffman tables; two mean Y, Cb, Cr.
    ``ac_tables``: [(bits, vals) lum, (bits, vals) chrom] — the Annex-K
    sequential AC tables, or the progressive encoder's EOBn-capable flat
    table (no progressive scan uses the Annex-K ones)."""
    nf = 1 if len(qts) == 1 else 3
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(
            int(x) for x in qt[ZIGZAG]
        )
    out += sof_marker + struct.pack(">HBHHB", 8 + 3 * nf, 8, h, w, nf)
    y_samp = (sh << 4) | sv  # 0x11 = 4:4:4, 0x22 = 4:2:0
    for cid, samp, qid in ((1, y_samp, 0), (2, 0x11, 1), (3, 0x11, 1))[:nf]:
        out += bytes([cid, samp, qid])
    ac_lum, ac_chrom = ac_tables
    for tc_th, (bits, vals) in (
        (0x00, (_DC_LUM_BITS, _DC_LUM_VALS)),
        (0x10, ac_lum),
        (0x01, (_DC_CHROM_BITS, _DC_CHROM_VALS)),
        (0x11, ac_chrom),
    )[: 2 * len(qts)]:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    return out


class _ScanWriter:
    """Entropy state of one scan being written: the bit writer, the DC
    predictors, and the EOB run with the correction bits that ride behind
    its EOBn symbol. A run is capped at the longest the AC table codes:
    0x7FFF with EOB14 in the table, 1 with the Annex-K sequential tables,
    whose only end-of-band symbol is EOB0 — so a baseline block ends its
    own run with EOB0 = 0x00."""

    def __init__(self, ac: dict[int, tuple[int, int]]):
        self.bw = _BitWriter()
        self.prev_dc = [0, 0, 0]
        self.eobrun = 0
        self.pending: list[int] = []
        self.eob_max = (2 << max(r for r in range(15) if r << 4 in ac)) - 1

    def flush_eobrun(self, ac) -> None:
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            self.bw.write(*ac[n << 4])
            if n:
                self.bw.write(self.eobrun - (1 << n), n)
            self.eobrun = 0
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []

    def end_band(self, ac) -> None:
        """The block's band ends in zeros: one more block in the EOB run."""
        self.eobrun += 1
        if self.eobrun == self.eob_max:
            self.flush_eobrun(ac)

    def first(self, zz, ci: int, ss: int, se: int, dc, ac) -> None:
        """First-scan coding of one point-transformed block: at Ss=0 the DC
        difference, then the AC band max(Ss, 1)..Se as (run, size) symbols
        with ZRL for 16-zero runs. A baseline block is the band 0..63."""
        bw = self.bw
        if ss == 0:
            # DC diffs are provably ≤ 2040 for 8-bit input (|DC| ≤ 1024 at
            # qt=1), but clamp to the baseline category-11 bound anyway;
            # prev_dc tracks the value the DECODER reconstructs so a
            # clamped diff can never desynchronize the prediction chain.
            diff = min(max(int(zz[0]) - self.prev_dc[ci], -2047), 2047)
            self.prev_dc[ci] += diff
            s, bits = _magnitude(diff)
            bw.write(*dc[s])
            if s:
                bw.write(bits, s)
            ss = 1
        if se < ss:
            return
        band = zz[ss : se + 1]
        nz = band.nonzero()[0].tolist()
        if nz:
            self.flush_eobrun(ac)
            vals = band.tolist()
            prev = -1
            for k in nz:
                run = k - prev - 1
                while run > 15:
                    bw.write(*ac[0xF0])  # ZRL
                    run -= 16
                s, bits = _magnitude(vals[k])
                bw.write(*ac[(run << 4) | s])
                bw.write(bits, s)
                prev = k
            if prev == se - ss:
                return
        self.end_band(ac)

    def refine_ac(self, zz, ss: int, se: int, al: int, ac) -> None:
        """AC refinement of one block (progressive only; libjpeg
        encode_mcu_AC_refine structure): correction bits for already-
        significant coefs ride behind the next emitted symbol / EOBn."""
        bw = self.bw
        absv = [abs(v) >> al for v in zz[ss : se + 1].tolist()]
        eob = 0  # index AFTER the last newly-significant coefficient
        for k, a in enumerate(absv):
            if a == 1:
                eob = k + 1
        run = 0
        cur: list[int] = []  # correction bits since the last symbol
        for k, a in enumerate(absv):
            if a == 0:
                run += 1
                continue
            # the ZRL drain runs at EVERY nonzero coefficient (incl.
            # correction-only ones) so no correction bit is ever buffered
            # at run > 15 — the decoder's ZRL advance only consumes
            # corrections up to its 16th zero-history slot
            while run > 15 and k < eob:
                self.flush_eobrun(ac)
                bw.write(*ac[0xF0])
                run -= 16
                for b in cur:
                    bw.write(b, 1)
                cur = []
            if a > 1:  # already significant: correction bit only
                cur.append(a & 1)
                continue
            # newly significant (|coef| == 1 at this precision)
            self.flush_eobrun(ac)
            bw.write(*ac[(run << 4) | 1])
            bw.write(1 if zz[ss + k] > 0 else 0, 1)
            for b in cur:
                bw.write(b, 1)
            cur = []
            run = 0
        if run > 0 or cur:
            # trailing zeros/corrections fold into the EOB run; their bits
            # ride behind the next EOBn symbol
            self.pending.extend(cur)
            self.end_band(ac)


def _point_transform(zz: np.ndarray, al: int) -> np.ndarray:
    """Blocks divided by 2^Al: DC by arithmetic shift, AC truncating toward
    zero (an arithmetic shift would round negatives the wrong way)."""
    out = np.sign(zz) * (np.abs(zz) >> al)
    out[:, 0] = zz[:, 0] >> al
    return out


def _encode_scan(
    comp_zz, samp, h: int, w: int, tables, scan, ss: int, se: int,
    ah: int, al: int, ri: int = 0,
) -> bytes:
    """One scan over the block walk: its SOS header and entropy-coded
    segment. ``tables[t]`` = (DC codes, AC codes), t = 0 luma, 1 chroma.
    Ah=0 is a first scan; Ah>0 refines bit Al (progressive only). Every
    ``ri`` units the segment byte-aligns, carries RSTn and resets the DC
    predictors."""
    sw = _ScanWriter(tables[0][1])
    if ah == 0 and al:  # T.81 G.1.2.1 point transform of a first scan
        comp_zz = [_point_transform(zz, al) for zz in comp_zz]
    for rst, ci, bi in _block_walk(scan, samp, h, w, ri):
        if rst >= 0:
            sw.bw.restart(rst)
            sw.prev_dc = [0, 0, 0]
        dc, ac = tables[ci > 0]
        zz = comp_zz[ci][bi]
        if ah == 0:
            sw.first(zz, ci, ss, se, dc, ac)
        elif ss == 0:  # DC refinement: one bit per block
            sw.bw.write((int(zz[0]) >> al) & 1, 1)
        else:
            sw.refine_ac(zz, ss, se, al, ac)
    sw.flush_eobrun(tables[scan[-1] > 0][1])
    hdr = bytearray(b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan), len(scan)))
    for ci in scan:
        # each selector names the table the scan codes with, 0 for none
        t = int(ci > 0)
        hdr += bytes([ci + 1, (t << 4 if ss == 0 and ah == 0 else 0) | (t if se else 0)])
    return bytes(hdr + bytes([ss, se, (ah << 4) | al])) + sw.bw.flush()


def _encode(
    pixels: np.ndarray, quality: int, subsampling: tuple[int, int],
    sof_marker: bytes, ac_tables, script, ri: int = 0,
) -> bytes:
    """Headers, then each (scan, Ss, Se, Ah, Al) of ``script`` in order."""
    qts, comp_zz, samp = _prepare_components(pixels, quality, subsampling)
    h, w = pixels.shape[:2]
    out = _headers(h, w, qts, *subsampling, sof_marker, ac_tables)
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)
    tables = [
        (_canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS), _canonical_codes(*ac_tables[0])),
        (_canonical_codes(_DC_CHROM_BITS, _DC_CHROM_VALS), _canonical_codes(*ac_tables[1])),
    ]
    for scan in script:
        out += _encode_scan(comp_zz, samp, h, w, tables, *scan, ri)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_baseline_jpeg(
    pixels: np.ndarray,
    quality: int = 92,
    subsampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
    scan_layout: str = "interleaved",
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array — or an (h, w) grayscale plane,
    as a 1-component frame (Nf=1) in one Ns=1 scan, the layout every
    real-world grayscale JPEG uses — as baseline JFIF.

    ``subsampling``: (1, 1) → 4:4:4 (every chroma sample kept — holds the
    40 dB PSNR invariant on noise-heavy content); (2, 2) → 4:2:0 (chroma
    averaged 2×2 and coded at quarter resolution — what virtually every
    real-world JPEG uses; ~25-35% smaller files, chroma detail halved).
    ``restart_interval``: if > 0, emit a DRI segment and an RSTn marker
    every that many MCUs — data units in a one-component scan —
    (byte-aligned, DC predictors reset): the error-resilience layout
    camera encoders produce.
    ``scan_layout``: 'interleaved' (one SOS, the common layout) or
    'per_component' (three Ns=1 scans walking each component's OWN block
    raster per T.81 A.2.2 — the layout that exposes non-interleaved
    decode paths); a grayscale plane always takes the one Ns=1 scan.

    Each scan is the progressive first scan over band 0..63 at Al=0."""
    if scan_layout not in ("interleaved", "per_component"):
        raise ValueError(f"scan_layout {scan_layout!r}: 'interleaved' or 'per_component'")
    nc = 1 if pixels.ndim == 2 else 3
    if scan_layout == "interleaved" and nc > 1:
        scans = [tuple(range(nc))]
    else:
        scans = [(ci,) for ci in range(nc)]
    return _encode(
        pixels, quality, subsampling, b"\xff\xc0",
        ((_AC_LUM_BITS, _AC_LUM_VALS), (_AC_CHROM_BITS, _AC_CHROM_VALS)),
        [(scan, 0, 63, 0, 0) for scan in scans], restart_interval,
    )


# Progressive AC scans need EOBn (n>0) symbols, which the Annex-K
# SEQUENTIAL tables don't contain (real progressive encoders ship custom
# optimized tables in their DHT segments). This flat canonical table
# assigns every progressive AC symbol — all 16 EOBn/ZRL codes plus
# (run, size) for size 1..10 — a 9-bit code (176 symbols < 2^9, Kraft-
# valid): simple, spec-conformant, decoder-agnostic; compression is a few
# percent worse than an optimized table, which is not what this codec is
# optimizing for.
_FLAT_AC_BITS = [0] * 8 + [176] + [0] * 7
_FLAT_AC_VALS = sorted((r << 4) | s for r in range(16) for s in range(11))


def encode_progressive_jpeg(
    pixels: np.ndarray, quality: int = 92, subsampling: tuple[int, int] = (1, 1)
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as PROGRESSIVE JFIF (SOF2) with
    a script exercising both progressive mechanisms:

      1. interleaved DC first scan at Al=1 (successive approximation),
      2. interleaved DC refinement scan (Ah=1 → Al=0),
      3. per-component AC first scans, band 1..63 at Al=1 (spectral
         selection + EOB runs),
      4. per-component AC refinement scans (Ah=1 → Al=0, correction bits).

    Encodes the IDENTICAL quantized coefficients as the baseline encoder,
    so decode(progressive) must produce byte-identical pixels to
    decode(baseline) at the same quality — the round-trip equivalence the
    tests pin."""
    if pixels.ndim != 3:
        raise NotImplementedError("progressive grayscale is not encoded")
    flat = (_FLAT_AC_BITS, _FLAT_AC_VALS)
    script = [((0, 1, 2), 0, 0, 0, 1), ((0, 1, 2), 0, 0, 1, 0)] + [
        ((ci,), 1, 63, ah, al) for ci in range(3) for ah, al in ((0, 1), (1, 0))
    ]
    return _encode(pixels, quality, subsampling, b"\xff\xc2", (flat, flat), script)


# --- decoder ----------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0xFF  # pad past end per spec
                self.nbits += 8
                continue
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker (EOI): stop consuming, pad with 1s
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consume_restart(self, n: int) -> None:
        """Discard alignment padding and consume the expected RSTn marker.
        _fill never advances past a marker, so at a restart boundary
        ``pos`` sits exactly at the 0xFF; buffered-but-unread bits are the
        encoder's 1-bit padding (plus _fill's own pad 1s) — dropped."""
        if self.pos + 1 >= len(self.data) or not (
            self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0xD0 + (n & 7)
        ):
            raise ValueError(
                f"expected restart marker RST{n & 7} at byte {self.pos}"
            )
        self.pos += 2
        self.acc = 0
        self.nbits = 0


def _decode_tree(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(br: _BitReader, tree: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _next_marker(data: bytes, pos: int) -> int:
    """Advance from inside/after an entropy segment to the next real
    marker: skip stuffed 0x00 pairs and 0xFF fill bytes."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    return len(data)


def _refine_nonzero(br: _BitReader, zz, k: int, bit: int) -> None:
    if br.read_bit() and (zz[k] & bit) == 0:
        zz[k] += bit if zz[k] > 0 else -bit


def _refine_ac(br: _BitReader, zz, ss: int, se: int, al: int, ac_tree, eobrun: int) -> int:
    """AC refinement of one block (progressive only; T.81 G.1.2.3): the
    band's already-significant coefficients take a correction bit, newly
    significant ones arrive as ±2^Al. Returns the EOB run left over."""
    bit = 1 << al
    if eobrun > 0:
        for k in range(ss, se + 1):
            if zz[k] != 0:
                _refine_nonzero(br, zz, k, bit)
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_symbol(br, ac_tree)
        r, s = rs >> 4, rs & 0xF
        val = 0
        if s == 0:
            if r < 15:  # EOBn: correct the rest of the band
                eobrun = (1 << r) - 1 + br.read_bits(r)
                r = 64  # force the advance to band end
            # r == 15 (ZRL): skip 16 zero-history coefficients
        else:
            if s != 1:
                raise ValueError("bad coefficient in AC refine")
            val = bit if br.read_bit() else -bit
        while k <= se:
            if zz[k] != 0:
                _refine_nonzero(br, zz, k, bit)
                k += 1
            else:
                if r == 0:
                    if val:
                        zz[k] = val
                    k += 1
                    break
                r -= 1
                k += 1
    return eobrun


def _decode_scan(
    br: _BitReader, scan, ss: int, se: int, ah: int, al: int, samp,
    h: int, w: int, coefs, huff, ri: int, progressive: bool,
) -> None:
    """One scan over the block walk (progressive control flow per T.81 G.2
    and the public stb_image/libjpeg structure). ``scan`` holds
    (component, DC table, AC table) triples.

    Ah=0 is a first scan: at Ss=0 the DC difference, then the AC band
    max(Ss, 1)..Se at point transform Al, with EOB runs that span blocks.
    A sequential scan is the first scan over 0..63 at Al=0 whose only
    end-of-band symbol is EOB0, so an EOBn there raises ValueError.
    Ah>0 refines one magnitude bit (progressive only). Every ``ri`` units
    the stream byte-aligns, carries RSTn (cyclic n), and the DC
    predictors reset."""
    try:
        dc = {ci: huff[td] for ci, td, _ in scan} if ss == 0 and ah == 0 else {}
        ac = {ci: huff[0x10 | ta] for ci, _, ta in scan} if se else {}
    except KeyError as e:
        raise ValueError(f"scan uses undefined Huffman table {e}") from None
    prev_dc = [0] * len(samp)
    eobrun = 0
    for rst, ci, bi in _block_walk([ci for ci, _, _ in scan], samp, h, w, ri):
        if rst >= 0:
            br.consume_restart(rst)
            prev_dc = [0] * len(samp)
        zz = coefs[ci][bi]
        if ah:
            if ss == 0:  # DC refinement: one bit per block
                zz[0] |= br.read_bit() << al
            else:
                eobrun = _refine_ac(br, zz, ss, se, al, ac[ci], eobrun)
            continue
        if ss == 0:
            s = _read_symbol(br, dc[ci])
            if s > 11:  # 8-bit DC differences stop at category 11
                raise ValueError(f"DC difference category {s}")
            if s:
                prev_dc[ci] += _extend(br.read_bits(s), s)
                if not -2048 < prev_dc[ci] < 2048:  # past any 8-bit DC
                    raise ValueError(f"DC coefficient {prev_dc[ci]}")
            zz[0] = prev_dc[ci] << al
        if eobrun > 0:
            eobrun -= 1
            continue
        k = max(ss, 1)
        while k <= se:
            rs = _read_symbol(br, ac[ci])
            r, s = rs >> 4, rs & 0xF
            if s:
                k += r
                if k > se:
                    raise ValueError("AC run passes the end of the band")
                zz[k] = _extend(br.read_bits(s), s) << al
                k += 1
            elif r == 15:  # ZRL
                k += 16
            else:  # EOBn
                if r and not progressive:
                    raise ValueError("EOBn symbol in a sequential scan")
                eobrun = (1 << r) - 1 + br.read_bits(r)
                break


def _decode_jpeg_planes(data: bytes) -> list[np.ndarray]:
    """Decode JFIF (any valid tables; 1 or 3 components) to per-component
    full-resolution float64 planes (Y, or Y/Cb/Cr), level-shifted to
    [~0, ~255] but NOT yet clipped or color-converted — baseline
    sequential (SOF0) AND progressive (SOF2, spectral selection +
    successive approximation, interleaved DC and single-component AC
    scans, EOB runs). Every scan goes through the one scan decoder
    (``_decode_scan``); a sequential scan is its first scan over band
    0..63 at Al=0. Restart intervals (DRI/RSTn with DC-predictor resets)
    are read in sequential scans, interleaved or one-component.

    Malformed input (a cut or inconsistent segment, a missing marker,
    table or frame, an entropy stream that codes past its band, data that
    ends before EOI) raises ValueError. NotImplementedError marks the honest seams: sampling
    factors above 2, restarts inside progressive scans, arithmetic coding,
    hierarchical/lossless frames, 12-bit precision, 16-bit quantization
    tables, and 2-/4-component (e.g. CMYK) streams."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[int, dict[tuple[int, int], int]] = {}
    h = w = 0
    progressive = False
    ri = 0  # restart interval in MCUs (DRI)
    comps: list[tuple[int, int, int, int]] = []  # (cid, qid, ch, cv)
    grid: list[tuple[int, int]] = []
    coefs: list[np.ndarray] = []
    hmax = vmax = 0
    saw_scan = saw_eoi = False
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker == 0xFF:  # fill byte
            pos -= 1
            continue
        if pos + 2 > len(data):
            raise ValueError(f"truncated segment header at byte {pos}")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if seglen < 2 or pos + seglen > len(data):
            raise ValueError(f"segment 0xFF{marker:02X} at byte {pos} overruns the data")
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly multiple tables)
            for sp in range(0, len(seg), 65):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                if sp + 65 > len(seg):
                    raise ValueError("truncated DQT table")
                zz = np.frombuffer(seg[sp + 1 : sp + 65], np.uint8).astype(np.int32)
                qts[tq] = zz[_UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT (possibly multiple tables)
            sp = 0
            while sp < len(seg):
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                if sp + 17 + nv > len(seg):
                    raise ValueError("truncated DHT table")
                huff[seg[sp]] = _decode_tree(bits, list(seg[sp + 17 : sp + 17 + nv]))
                sp += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            if comps:
                raise ValueError("second SOF in one image")
            if len(seg) < 6:
                raise ValueError("truncated SOF")
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if nc not in (1, 3):
                raise NotImplementedError(
                    "only 1-component (grayscale) and 3-component (YCbCr) "
                    "streams"
                )
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated SOF")
            for i in range(nc):
                cid, samp, qid = seg[6 + 3 * i : 9 + 3 * i]
                ch_, cv_ = samp >> 4, samp & 0xF
                if ch_ not in (1, 2) or cv_ not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factor {ch_}x{cv_}: only 1 and 2 are "
                        "decoded (4:4:4 / 4:2:0 / 4:2:2 / 4:4:0)"
                    )
                comps.append((cid, qid, ch_, cv_))
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            # per-comp block grids: each MCU carries ch×cv blocks of comp i
            grid = [(mcus_y * cv, mcus_x * ch) for _, _, ch, cv in comps]
            coefs = [np.zeros((gy * gx, 64), np.int32) for gy, gx in grid]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only sequential (SOF0/1) and progressive (SOF2) frames"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI")
            (ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — one of possibly many scans
            if not comps:
                raise ValueError("SOS before SOF")
            ns = seg[0] if seg else 0
            if not 1 <= ns <= 4 or len(seg) < 4 + 2 * ns:
                raise ValueError("malformed SOS header")
            ids = [c[0] for c in comps]
            scan = []
            for i in range(ns):
                cid, tsel = seg[1 + 2 * i : 3 + 2 * i]
                if cid not in ids:
                    raise ValueError(f"SOS names undeclared component {cid}")
                scan.append((ids.index(cid), tsel >> 4, tsel & 0xF))
            ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
            if progressive:
                ah, al = a >> 4, a & 0xF
                if ri:
                    raise NotImplementedError(
                        "restart intervals in progressive scans are not "
                        "supported (sequential restarts are)"
                    )
                if ss == 0 and se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                if ss > se or se > 63:
                    raise ValueError(f"spectral band {ss}..{se} outside 0..63")
                if ss and ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
            elif (ss, se) != (0, 63):
                raise ValueError("partial band in sequential scan")
            else:
                ah = al = 0  # a sequential scan ignores Ah/Al, as libjpeg does
            br = _BitReader(data[pos + seglen :])
            _decode_scan(
                br, scan, ss, se, ah, al, [c[2:] for c in comps], h, w,
                coefs, huff, ri, progressive,
            )
            saw_scan = True
            pos = _next_marker(data, pos + seglen + br.pos)
            continue
        pos += seglen

    if not saw_eoi:
        raise ValueError("truncated JPEG (the data ends before EOI)")
    if not (comps and saw_scan and h and w):
        raise ValueError("truncated JPEG (no SOS/SOF)")
    if any(qid not in qts for _, qid, _, _ in comps):
        raise ValueError("frame uses an undefined quantization table")

    # dequantize + inverse zigzag + batched IDCT per component, then
    # nearest-neighbor upsample subsampled chroma back to full resolution
    planes = []
    for ci, (_, qid, ch_, cv_) in enumerate(comps):
        qt = qts[qid].reshape(64)
        dq = (coefs[ci] * qt[ZIGZAG]).astype(np.float64)[:, _UNZIGZAG].reshape(
            -1, 8, 8
        )
        # inverse of coefs = D @ b @ D.T  →  b = D.T @ coefs @ D
        blocks = np.einsum("ux,nuv,vy->nxy", _D, dq, _D) + 128.0
        gy, gx = grid[ci]
        plane = (
            blocks.reshape(gy, gx, 8, 8).transpose(0, 2, 1, 3).reshape(gy * 8, gx * 8)
        )
        if ch_ < hmax:
            plane = np.repeat(plane, hmax // ch_, axis=1)
        if cv_ < vmax:
            plane = np.repeat(plane, vmax // cv_, axis=0)
        planes.append(plane[:h, :w])
    return planes


def decode_baseline_jpeg(data: bytes) -> np.ndarray:
    """Decode JFIF to uint8 pixels: (h, w, 3) RGB for 3-component streams,
    (h, w) grayscale for 1-component streams. See :func:`_decode_jpeg_planes`
    for the supported feature surface."""
    planes = _decode_jpeg_planes(data)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


def decode_jpeg_luma(data: bytes) -> np.ndarray:
    """The decoded Y plane as float64, BEFORE any chroma upsample leaks into
    it via the RGB convert + clip — the right measurement surface for
    luma-fidelity assertions (chroma quantization error contaminates
    RGB-derived luma on noisy content). Works for gray and color streams."""
    return _decode_jpeg_planes(data)[0]
