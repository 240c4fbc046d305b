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
  assumed.
- progressive encoder (encode_progressive_jpeg): 2 DC scans (first at
  Al=1 + refinement) and per-component AC first/refinement scan pairs,
  with an EOBn-capable flat AC Huffman table shipped in the stream. It
  encodes the identical quantized coefficients as the baseline encoder,
  so progressive and baseline decodes are byte-identical — the pinned
  cross-check that validates both codec directions against each other.

Honest seams (raise NotImplementedError, never wrong pixels): arithmetic
coding, lossless/hierarchical frames, sampling factors above 2, restart
intervals inside progressive scans (sequential restarts decode and
encode), 12-bit precision, component counts other than 1 and 3 (the
encoder writes 1-component grayscale through the baseline per-component
scan path; progressive output is color only).

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
    quantize. Returns (qts, comp_zz, comp_bw, interleaved MCU sequence).
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
    comp_bw = []  # blocks per row, for MCU index arithmetic
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
        comp_bw.append(plane.shape[1] // 8)

    # interleaved MCU sequence: sv×sh Y blocks in raster order, then one
    # Cb and one Cr block per MCU (4:4:4 degenerates to Y, Cb, Cr per
    # block position)
    seq: list[tuple[int, int]] = []
    mcus_y, mcus_x = ph8 // (8 * sv), pw8 // (8 * sh)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(sv):
                for bx in range(sh):
                    seq.append((0, (sv * my + by) * comp_bw[0] + sh * mx + bx))
            for ci in range(1, len(comp_planes)):
                seq.append((ci, my * comp_bw[ci] + mx))
    return qts, comp_zz, comp_bw, seq


def _headers(
    h: int, w: int, qts, sh: int, sv: int, sof_marker: bytes,
    ac_tables=None,
) -> bytearray:
    """SOI → JFIF → DQT → SOF(0|2) → DHT, shared by both encoders.
    One quantization table means a 1-component (grayscale) frame with only
    the luma Huffman tables; two mean Y, Cb, Cr.
    ``ac_tables``: [(bits, vals) lum, (bits, vals) chrom] override — the
    progressive encoder ships its EOBn-capable flat table INSTEAD of the
    Annex-K sequential AC tables (which no progressive scan uses)."""
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
    ac_lum, ac_chrom = ac_tables or (
        (_AC_LUM_BITS, _AC_LUM_VALS),
        (_AC_CHROM_BITS, _AC_CHROM_VALS),
    )
    for tc_th, (bits, vals) in (
        (0x00, (_DC_LUM_BITS, _DC_LUM_VALS)),
        (0x10, ac_lum),
        (0x01, (_DC_CHROM_BITS, _DC_CHROM_VALS)),
        (0x11, ac_chrom),
    )[: 2 * len(qts)]:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    return out


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
    every that many MCUs (byte-aligned, DC predictors reset) — the error-
    resilience layout camera encoders produce.
    ``scan_layout``: 'interleaved' (one SOS, the common layout) or
    'per_component' (three Ns=1 scans walking each component's OWN block
    raster per T.81 A.2.2 — the layout that exposes non-interleaved
    decode paths); a grayscale plane always takes the per-component path."""
    if scan_layout not in ("interleaved", "per_component"):
        raise ValueError(f"scan_layout {scan_layout!r}: 'interleaved' or 'per_component'")
    qts, comp_zz, comp_bw, seq = _prepare_components(pixels, quality, subsampling)
    h, w = pixels.shape[:2]
    sh, sv = subsampling

    tables = [
        (_canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS),
         _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)),
        (_canonical_codes(_DC_CHROM_BITS, _DC_CHROM_VALS),
         _canonical_codes(_AC_CHROM_BITS, _AC_CHROM_VALS)),
    ]
    prev_dc = [0, 0, 0]

    def emit_block(bw: _BitWriter, ci: int, bi: int) -> None:
        dc_tbl, ac_tbl = tables[0 if ci == 0 else 1]
        zz = comp_zz[ci][bi]
        # DC diffs are provably ≤ 2040 for 8-bit input (|DC| ≤ 1024 at
        # qt=1), but clamp to the baseline category-11 bound anyway;
        # prev_dc tracks the value the DECODER reconstructs so a clamped
        # diff can never desynchronize the prediction chain.
        diff = min(max(int(zz[0]) - prev_dc[ci], -2047), 2047)
        s, bits = _magnitude(diff)
        prev_dc[ci] += diff
        code, length = dc_tbl[s]
        bw.write(code, length)
        if s:
            bw.write(bits, s)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_tbl[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            s, bits = _magnitude(v)
            code, length = ac_tbl[(run << 4) | s]
            bw.write(code, length)
            bw.write(bits, s)
            run = 0
        if last < 63:
            code, length = ac_tbl[0x00]  # EOB
            bw.write(code, length)

    out = _headers(h, w, qts, sh, sv, b"\xff\xc0")
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    if scan_layout == "per_component" or len(comp_zz) == 1:
        if restart_interval:
            raise NotImplementedError(
                "restart intervals with per-component sequential scans are "
                "not emitted (interleaved restarts are)"
            )
        for ci in range(len(comp_zz)):
            tsel = 0x00 if ci == 0 else 0x11
            out += b"\xff\xda" + struct.pack(">HB", 8, 1)
            out += bytes([ci + 1, tsel])
            out += b"\x00\x3f\x00"
            bw = _BitWriter()
            prev_dc[ci] = 0
            ch_, cv_ = (sh, sv) if ci == 0 else (1, 1)
            nb_x = (-(-w * ch_ // sh) + 7) // 8
            nb_y = (-(-h * cv_ // sv) + 7) // 8
            gx = comp_bw[ci]
            for byy in range(nb_y):
                for bxx in range(nb_x):
                    emit_block(bw, ci, byy * gx + bxx)
            out += bw.flush()
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    bw = _BitWriter()
    blocks_per_mcu = sv * sh + 2
    rst = 0
    for i, (ci, bi) in enumerate(seq):
        if (
            restart_interval
            and i
            and i % (blocks_per_mcu * restart_interval) == 0
        ):
            bw.restart(rst)
            rst = (rst + 1) & 7
            prev_dc = [0, 0, 0]
        emit_block(bw, ci, bi)

    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tsel in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tsel])
    out += b"\x00\x3f\x00"  # spectral selection 0..63, approx 0
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _ProgEnc:
    """Shared state for one progressive AC scan: EOB-run accumulation plus
    the pending correction bits that must flush WITH the EOBn symbol."""

    def __init__(self, bw: _BitWriter, ac_tbl):
        self.bw = bw
        self.ac = ac_tbl
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eobrun(self):
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            code, length = self.ac[n << 4]
            self.bw.write(code, length)
            if n:
                self.bw.write(self.eobrun - (1 << n), n)
            self.eobrun = 0
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []


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


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward ZERO (T.81) —
    arithmetic shift would round negatives the wrong way."""
    return v >> al if v >= 0 else -((-v) >> al)


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
    qts, comp_zz, comp_bw, seq = _prepare_components(pixels, quality, subsampling)
    h, w, _ = pixels.shape
    sh, sv = subsampling

    dc_tbls = [
        _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS),
        _canonical_codes(_DC_CHROM_BITS, _DC_CHROM_VALS),
    ]
    flat_ac = _canonical_codes(_FLAT_AC_BITS, _FLAT_AC_VALS)
    ac_tbls = [flat_ac, flat_ac]

    flat = (_FLAT_AC_BITS, _FLAT_AC_VALS)
    out = _headers(h, w, qts, sh, sv, b"\xff\xc2", ac_tables=(flat, flat))

    def sos(comp_ids: list[int], tsels: list[int], ss: int, se: int,
            ah: int, al: int) -> bytes:
        hdr = bytearray(
            b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids))
        )
        for cid, tsel in zip(comp_ids, tsels):
            hdr += bytes([cid, tsel])
        hdr += bytes([ss, se, (ah << 4) | al])
        return bytes(hdr)

    # --- scan 1: interleaved DC first, Al=1 ---
    out += sos([1, 2, 3], [0x00, 0x10, 0x10], 0, 0, 0, 1)
    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    for ci, bi in seq:
        tbl = dc_tbls[0 if ci == 0 else 1]
        v = int(comp_zz[ci][bi][0]) >> 1  # DC point transform = arith shift
        diff = v - prev_dc[ci]
        prev_dc[ci] = v
        s, bits = _magnitude(diff)
        code, length = tbl[s]
        bw.write(code, length)
        if s:
            bw.write(bits, s)
    out += bw.flush()

    # --- scan 2: interleaved DC refinement, Ah=1 Al=0 ---
    out += sos([1, 2, 3], [0x00, 0x00, 0x00], 0, 0, 1, 0)
    bw = _BitWriter()
    for ci, bi in seq:
        bw.write(int(comp_zz[ci][bi][0]) & 1, 1)
    out += bw.flush()

    # --- per-component AC scans (single-component, as the spec requires).
    # Non-interleaved scans code exactly the blocks covering the
    # component's OWN sample area (ceil(comp_dim/8) per axis), NOT the
    # MCU-padded grid — writing a padded grid column desyncs the decoder
    # mid-row (T.81 A.2.2 vs A.2.3 data-unit counts).
    for ci in range(3):
        tsel = 0x00 if ci == 0 else 0x01
        ac = ac_tbls[0 if ci == 0 else 1]
        zzs = comp_zz[ci]
        ch_, cv_ = (sh, sv) if ci == 0 else (1, 1)
        comp_w = -(-w * ch_ // sh)
        comp_h = -(-h * cv_ // sv)
        nb_x, nb_y = (comp_w + 7) // 8, (comp_h + 7) // 8
        gx = comp_bw[ci]
        block_order = [
            byy * gx + bxx for byy in range(nb_y) for bxx in range(nb_x)
        ]

        # AC first scan: band 1..63, Al=1
        out += sos([ci + 1], [tsel], 1, 63, 0, 1)
        bw = _BitWriter()
        st = _ProgEnc(bw, ac)
        for bi in block_order:
            zz = zzs[bi]
            t = [_pt_ac(int(zz[k]), 1) for k in range(1, 64)]
            nz = [k for k, v in enumerate(t) if v != 0]
            if not nz:
                st.eobrun += 1
                if st.eobrun == 0x7FFF:
                    st.flush_eobrun()
                continue
            st.flush_eobrun()
            run = 0
            for k in range(nz[-1] + 1):
                v = t[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac[0xF0]
                    bw.write(code, length)
                    run -= 16
                s, bits = _magnitude(v)
                code, length = ac[(run << 4) | s]
                bw.write(code, length)
                bw.write(bits, s)
                run = 0
            if nz[-1] + 1 < 63:
                st.eobrun += 1
                if st.eobrun == 0x7FFF:
                    st.flush_eobrun()
        st.flush_eobrun()
        out += bw.flush()

        # AC refinement scan: band 1..63, Ah=1 → Al=0 (libjpeg
        # encode_mcu_AC_refine structure: correction bits for already-
        # significant coefs ride behind the next emitted symbol / EOBn)
        out += sos([ci + 1], [tsel], 1, 63, 1, 0)
        bw = _BitWriter()
        st = _ProgEnc(bw, ac)
        for bi in block_order:
            zz = zzs[bi]
            absv = [abs(int(zz[k])) for k in range(1, 64)]
            eob = 0  # index AFTER the last newly-significant coefficient
            for k, a in enumerate(absv):
                if a == 1:
                    eob = k + 1
            run = 0
            cur: list[int] = []  # correction bits since the last symbol
            for k in range(63):
                a = absv[k]
                if a == 0:
                    run += 1
                    continue
                # the ZRL drain runs at EVERY nonzero coefficient (incl.
                # correction-only ones) so no correction bit is ever
                # buffered at run > 15 — the decoder's ZRL advance only
                # consumes corrections up to its 16th zero-history slot
                while run > 15 and k < eob:
                    st.flush_eobrun()
                    code, length = ac[0xF0]
                    bw.write(code, length)
                    run -= 16
                    for b in cur:
                        bw.write(b, 1)
                    cur = []
                if a > 1:  # already significant: correction bit only
                    cur.append(a & 1)
                    continue
                # newly significant (|coef| == 1 at this precision)
                st.flush_eobrun()
                code, length = ac[(run << 4) | 1]
                bw.write(code, length)
                bw.write(1 if int(zz[k + 1]) > 0 else 0, 1)
                for b in cur:
                    bw.write(b, 1)
                cur = []
                run = 0
            if run > 0 or cur:
                # trailing zeros/corrections fold into the EOB run; their
                # bits ride behind the next EOBn symbol
                st.eobrun += 1
                st.pending.extend(cur)
                if st.eobrun == 0x7FFF:
                    st.flush_eobrun()
        st.flush_eobrun()
        out += bw.flush()

    out += b"\xff\xd9"  # EOI
    return bytes(out)


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


def _decode_sequential_scan(
    br, scan, comps, grid, coefs, huff, mcus_y, mcus_x,
    h: int, w: int, hmax: int, vmax: int, ri: int = 0,
) -> None:
    """Baseline sequential scan: DC diff + full AC band per block.

    Interleaved (Ns > 1) scans walk MCUs; a single-component scan is
    NON-interleaved per T.81 A.2.2 — it walks the component's OWN block
    raster (ceil(comp_dim/8) per axis), which differs from the MCU-padded
    grid both in order and in count for subsampled components. With a
    restart interval ``ri``, every ri MCUs/data-units the stream
    byte-aligns, carries an RSTn marker (cyclic n), and the DC predictor
    resets."""
    prev_dc = [0] * len(comps)
    rst_state = [0, 0]  # (units since restart, next marker index)

    def maybe_restart():
        if ri and rst_state[0] and rst_state[0] % ri == 0:
            br.consume_restart(rst_state[1])
            rst_state[1] = (rst_state[1] + 1) & 7
            for i in range(len(prev_dc)):
                prev_dc[i] = 0
        rst_state[0] += 1

    def seq_block(zz, ci, tdc, tac):
        dc_tree = huff[0x00 | tdc]
        ac_tree = huff[0x10 | tac]
        s = _read_symbol(br, dc_tree)
        diff = _extend(br.read_bits(s), s) if s else 0
        prev_dc[ci] += diff
        zz[0] = prev_dc[ci]
        k = 1
        while k <= 63:
            rs = _read_symbol(br, ac_tree)
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += rs >> 4
            s = rs & 0xF
            zz[k] = _extend(br.read_bits(s), s)
            k += 1

    if len(scan) == 1:  # non-interleaved: the component's own raster
        ci, tdc, tac = scan[0]
        _, _, ch_, cv_ = comps[ci]
        gx = grid[ci][1]
        nb_x = (-(-w * ch_ // hmax) + 7) // 8
        nb_y = (-(-h * cv_ // vmax) + 7) // 8
        for byy in range(nb_y):
            for bxx in range(nb_x):
                maybe_restart()
                seq_block(coefs[ci][byy * gx + bxx], ci, tdc, tac)
        return

    for my in range(mcus_y):
        for mx in range(mcus_x):
            maybe_restart()
            for ci, tdc, tac in scan:
                _, _, ch_, cv_ = comps[ci]
                gx = grid[ci][1]
                for by in range(cv_):
                    for bx in range(ch_):
                        seq_block(
                            coefs[ci][(my * cv_ + by) * gx + mx * ch_ + bx],
                            ci, tdc, tac,
                        )


def _decode_progressive_scan(
    br, scan, ss, se, ah, al, comps, grid, coefs, huff,
    mcus_y, mcus_x, h, w, hmax, vmax,
) -> None:
    """One progressive scan (T.81 G.2; control flow follows the public
    stb_image/libjpeg structure): DC scans may be interleaved, AC scans
    are single-component; Ah=0 is a 'first' scan at point transform Al,
    Ah>0 refines one magnitude bit. EOB runs span blocks within the scan."""
    if ss == 0:  # --- DC scan ---
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        prev_dc = [0] * len(comps)

        def dc_block(zz, ci, tdc):
            if ah == 0:
                s = _read_symbol(br, huff[0x00 | tdc])
                diff = _extend(br.read_bits(s), s) if s else 0
                prev_dc[ci] += diff
                zz[0] = prev_dc[ci] << al
            else:  # refinement: one bit per block
                zz[0] |= br.read_bit() << al

        if len(scan) > 1:  # interleaved MCU walk
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci, tdc, _ in scan:
                        _, _, ch_, cv_ = comps[ci]
                        gx = grid[ci][1]
                        for by in range(cv_):
                            for bx in range(ch_):
                                dc_block(
                                    coefs[ci][
                                        (my * cv_ + by) * gx + mx * ch_ + bx
                                    ],
                                    ci, tdc,
                                )
        else:  # non-interleaved: the component's own block raster
            ci, tdc, _ = scan[0]
            _, _, ch_, cv_ = comps[ci]
            gx = grid[ci][1]
            nb_x = (-(-w * ch_ // hmax) + 7) // 8
            nb_y = (-(-h * cv_ // vmax) + 7) // 8
            for byy in range(nb_y):
                for bxx in range(nb_x):
                    dc_block(coefs[ci][byy * gx + bxx], ci, tdc)
        return

    # --- AC scan: single component, non-interleaved ---
    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    ci, _, tac = scan[0]
    ac_tree = huff[0x10 | tac]
    _, _, ch_, cv_ = comps[ci]
    gx = grid[ci][1]
    nb_x = (-(-w * ch_ // hmax) + 7) // 8
    nb_y = (-(-h * cv_ // vmax) + 7) // 8
    eobrun = 0
    bit = 1 << al
    for byy in range(nb_y):
        for bxx in range(nb_x):
            zz = coefs[ci][byy * gx + bxx]
            if ah == 0:  # ----- AC first scan -----
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _read_symbol(br, ac_tree)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r < 15:  # EOBn
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        k += 16  # ZRL
                    else:
                        k += r
                        zz[k] = _extend(br.read_bits(s), s) << al
                        k += 1
            else:  # ----- AC refinement scan -----
                if eobrun > 0:
                    eobrun -= 1
                    for k in range(ss, se + 1):
                        if zz[k] != 0:
                            _refine_nonzero(br, zz, k, bit)
                    continue
                k = ss
                while k <= se:
                    rs = _read_symbol(br, ac_tree)
                    r, s = rs >> 4, rs & 0xF
                    val = 0
                    if s == 0:
                        if r < 15:  # EOBn: correct the rest of the band
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
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


def _decode_jpeg_planes(data: bytes) -> list[np.ndarray]:
    """Decode JFIF (any valid tables; 1 or 3 components) to per-component
    full-resolution float64 planes (Y, or Y/Cb/Cr), level-shifted to
    [~0, ~255] but NOT yet clipped or color-converted — baseline
    sequential (SOF0) AND progressive (SOF2, spectral selection +
    successive approximation, interleaved DC and single-component AC
    scans, EOB runs) plus sequential restart intervals (DRI/RSTn with
    DC-predictor resets). Raises NotImplementedError for sampling factors
    above 2, restarts inside progressive scans, arithmetic coding,
    hierarchical/lossless frames, 12-bit precision, and 2-/4-component
    (e.g. CMYK) streams."""
    assert data[:2] == b"\xff\xd8", "not a JPEG (missing SOI)"
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[int, dict[tuple[int, int], int]] = {}
    h = w = 0
    progressive = False
    ri = 0  # restart interval in MCUs (DRI)
    comps: list[tuple[int, int, int, int]] = []  # (cid, qid, ch, cv)
    grid: list[tuple[int, int]] = []
    coefs: list[np.ndarray] = []
    mcus_x = mcus_y = hmax = vmax = 0
    saw_scan = False
    while pos + 1 < len(data):
        assert data[pos] == 0xFF, f"marker expected at {pos}"
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0xFF:  # fill byte
            pos -= 1
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly multiple tables)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[sp + 1 : sp + 65], np.uint8).astype(np.int32)
                qts[tq] = zz[_UNZIGZAG].reshape(8, 8)
                sp += 65
        elif marker == 0xC4:  # DHT (possibly multiple tables)
            sp = 0
            while sp < len(seg):
                tc_th = seg[sp]
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                huff[tc_th] = _decode_tree(bits, vals)
                sp += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if nc not in (1, 3):
                raise NotImplementedError(
                    "only 1-component (grayscale) and 3-component (YCbCr) "
                    "streams"
                )
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
            (ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — one of possibly many scans
            assert comps, "SOS before SOF"
            ns = seg[0]
            scan = []
            for i in range(ns):
                cid, tsel = seg[1 + 2 * i : 3 + 2 * i]
                idx = next(i for i, cmp in enumerate(comps) if cmp[0] == cid)
                scan.append((idx, tsel >> 4, tsel & 0xF))
            ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            br = _BitReader(data[pos + seglen :])
            if progressive:
                if ri:
                    raise NotImplementedError(
                        "restart intervals in progressive scans are not "
                        "supported (sequential restarts are)"
                    )
                _decode_progressive_scan(
                    br, scan, ss, se, ah, al, comps, grid, coefs, huff,
                    mcus_y, mcus_x, h, w, hmax, vmax,
                )
            else:
                assert ss == 0 and se == 63, "partial band in sequential scan"
                _decode_sequential_scan(
                    br, scan, comps, grid, coefs, huff, mcus_y, mcus_x,
                    h, w, hmax, vmax, ri,
                )
            saw_scan = True
            pos = _next_marker(data, pos + seglen + br.pos)
            continue
        pos += seglen

    assert comps and saw_scan and h and w, "truncated JPEG (no SOS/SOF)"

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
