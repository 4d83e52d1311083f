"""Pure-numpy baseline JPEG codec (ITU-T T.81 sequential DCT, JFIF).

Public-knowledge implementation from the JPEG standard: Annex K example
quantization + Huffman tables, zigzag order, level-shifted 8×8 forward/
inverse DCT as matrix products, DC prediction + AC run/size entropy
coding with 0xFF byte stuffing.  No reference-code derivation — GDAL
delegates JPEG to libjpeg (frmts/jpeg), which this module replaces for
the multimodal fixture path so image pipelines run on REAL encoded bytes
without PIL.

Encoder: uint8 (h, w) grey or (h, w, 3) RGB → baseline JFIF, 4:4:4 (no
chroma subsampling), quality 1-100 via the libjpeg-compatible linear
table scaling rule (public IJG formula).  Decoder: baseline sequential,
grey or 4:4:4 / 4:2:0 / 4:2:2 YCbCr, restart markers honored.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Tables (JPEG Annex K — public standard text)
# ---------------------------------------------------------------------------

_QL = np.array([  # K.1 luminance
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int64)

_QC = np.array([  # K.2 chrominance
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int64)

_ZZ = np.array([  # zigzag scan order: index i holds the raster position
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZZ = np.argsort(_ZZ)

# Annex K.3 example Huffman tables: (BITS counts[1..16], HUFFVAL)
_HT_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_HT_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
            list(range(12)))
_HT_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
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
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_HT_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
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
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# 8×8 DCT-II orthonormal matrix
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.25) if _k else np.sqrt(0.125)
        )


def _huff_codes(bits, values):
    """BITS/HUFFVAL → {symbol: (code, length)} (T.81 C.2 canonical order)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    t = (q * s + 50) // 100
    return np.clip(t, 1, 255)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int):
    """value → (size, amplitude bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _fdct_blocks(plane: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted float blocks → DCT coefficients."""
    return np.einsum("ij,njk,lk->nil", _C, plane, _C)


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    return np.einsum("ji,njk,kl->nil", _C, coef, _C)


def _to_blocks(plane: np.ndarray):
    h, w = plane.shape
    H = (h + 7) // 8 * 8
    W = (w + 7) // 8 * 8
    padded = np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")
    blocks = padded.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, H // 8, W // 8


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _encode_block(bw, zz, pred, dc_tab, ac_tab):
    size, bits = _magnitude(int(zz[0]) - pred)
    code, length = dc_tab[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_tab[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_tab[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _frame_setup(arr: np.ndarray, quality: int, subsample: str):
    """Shared encoder front end: color transform, subsampling, FDCT,
    quantization → (grey, h, w, samp, ql, qc, comp_coefs, mcux, mcuy) with
    comp_coefs[i] a (bh, bw, 64) int64 zigzag plane on the MCU grid."""
    arr = np.asarray(arr)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    grey = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    sub = (not grey) and subsample == "420"
    ql = _quality_scale(_QL, quality)
    qc = _quality_scale(_QC, quality)
    if grey:
        planes = [arr.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        planes = list(np.moveaxis(ycc, -1, 0))
        if sub:
            for ci in (1, 2):
                p = planes[ci]
                ph = (p.shape[0] + 1) // 2 * 2
                pw = (p.shape[1] + 1) // 2 * 2
                p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
                planes[ci] = p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    qtabs = [ql] if grey else [ql, qc, qc]
    samp = [(1, 1)] if grey else ([(2, 2), (1, 1), (1, 1)] if sub else [(1, 1), (1, 1), (1, 1)])
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    comp_coefs = []
    for (sh, sv), plane, qtab in zip(samp, planes, qtabs):
        need_h = mcuy * sv * 8
        need_w = mcux * sh * 8
        p = np.pad(
            plane,
            ((0, need_h - plane.shape[0]), (0, need_w - plane.shape[1])),
            mode="edge",
        )
        blocks, bh, bwid = _to_blocks(p - 128.0)
        coefs = _fdct_blocks(blocks)
        quant = np.round(coefs / qtab[None, :, :]).astype(np.int64)
        comp_coefs.append(quant.reshape(-1, 64)[:, _ZZ].reshape(bh, bwid, 64))
    return grey, h, w, samp, ql, qc, comp_coefs, mcux, mcuy


def _header_segments(grey, h, w, samp, ql, qc, sof_marker: int) -> bytearray:
    """SOI + JFIF + DQT + SOFn + DHT marker segments; ``sof_marker`` is 0xC0
    for a baseline frame and 0xC2 for a progressive one."""
    out = bytearray()
    out += b"\xFF\xD8"
    out += b"\xFF\xE0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qtab in enumerate([ql] if grey else [ql, qc]):
        out += b"\xFF\xDB" + (67).to_bytes(2, "big") + bytes([tid])
        out += bytes(int(v) for v in qtab.reshape(-1)[_ZZ])
    nc = 1 if grey else 3
    out += bytes([0xFF, sof_marker]) + (8 + 3 * nc).to_bytes(2, "big") + bytes([8])
    out += h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        sh, sv = samp[ci]
        out += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    for cls, tid, ht in ([(0, 0, _HT_DC_L), (1, 0, _HT_AC_L)] if grey else
                         [(0, 0, _HT_DC_L), (1, 0, _HT_AC_L), (0, 1, _HT_DC_C), (1, 1, _HT_AC_C)]):
        bits, vals = ht
        out += b"\xFF\xC4" + (19 + len(vals)).to_bytes(2, "big")
        out += bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    return out


def encode_jpeg(arr: np.ndarray, quality: int = 90, subsample: str = "444",
                restart_interval: int = 0) -> bytes:
    """uint8 (h, w) / (h, w, 1) grey or (h, w, 3) RGB → baseline JFIF.

    ``subsample``: '444' (no chroma subsampling) or '420' (2×2 box-averaged
    chroma, the common camera layout).  ``restart_interval``: emit DRI +
    RSTn markers every N MCUs (0 = none).
    """
    grey, h, w, samp, ql, qc, comp_coefs, mcux, mcuy = _frame_setup(arr, quality, subsample)
    nplanes = 1 if grey else 3
    dc_tabs = [_huff_codes(*_HT_DC_L)] if grey else [_huff_codes(*_HT_DC_L)] + [_huff_codes(*_HT_DC_C)] * 2
    ac_tabs = [_huff_codes(*_HT_AC_L)] if grey else [_huff_codes(*_HT_AC_L)] + [_huff_codes(*_HT_AC_C)] * 2

    bw = _BitWriter()
    pred = [0] * nplanes
    out_ecs = bytearray()
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                out_ecs += bw.buf
                out_ecs += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                bw = _BitWriter()
                pred = [0] * nplanes
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        zz = comp_coefs[ci][my * sv + by, mx * sh + bx]
                        pred[ci] = _encode_block(bw, zz, pred[ci], dc_tabs[ci], ac_tabs[ci])
            mcu_count += 1
    bw.flush()
    out_ecs += bw.buf

    nc = nplanes
    out = _header_segments(grey, h, w, samp, ql, qc, 0xC0)
    if restart_interval:
        out += b"\xFF\xDD" + (4).to_bytes(2, "big") + restart_interval.to_bytes(2, "big")
    out += b"\xFF\xDA" + (6 + 2 * nc).to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        t = 0 if ci == 0 else 1
        out += bytes([ci + 1, (t << 4) | t])
    out += bytes([0, 63, 0])
    out += out_ecs
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                return 0  # pad past end (T.81 allows)
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.nbits = 0


def _huff_decoder(bits, values):
    """BITS/HUFFVAL → dict {(length, code): symbol} for sequential decode."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _skip_entropy(data: bytes, j: int) -> int:
    """Position of the first real marker (not stuffed FF00, not RSTn) at or
    after ``j`` in the entropy-coded stream."""
    while j < len(data) - 1:
        if data[j] != 0xFF:
            j += 1
            continue
        nxt = data[j + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            j += 2
            continue
        return j
    return len(data)


def decode_jpeg(buf: bytes) -> np.ndarray:
    """JFIF bytes → uint8 (h, w, channels) array (grey → c=1).

    Baseline (SOF0/SOF1) and PROGRESSIVE (SOF2, ITU T.81 §G: spectral
    selection + successive approximation) Huffman decoding.  Progressive
    scans accumulate into per-component coefficient planes; reconstruction
    (dequantize → IDCT → upsample → color) runs once after the last scan,
    so the result is bit-identical to decoding the same coefficients from
    a baseline stream."""
    data = bytes(buf)
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    qt = {}
    huff_dc = {}
    huff_ac = {}
    frame = None
    progressive = False
    restart_interval = 0
    scans = []  # progressive: (scan_comps, Ss, Se, Ah, Al, dc_snap, ac_snap, rst, start, end)
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        if i + 1 < len(data) and data[i + 1] == 0xFF:
            # optional 0xFF fill byte before a marker (T.81 B.1.1.2) —
            # conformant encoders may pad with any number of these
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            break
        seglen = int.from_bytes(data[i + 2:i + 4], "big")
        seg = data[i + 4:i + 2 + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                prec = seg[p] >> 4
                tid = seg[p] & 15
                n = 64 * (2 if prec else 1)
                raw = seg[p + 1:p + 1 + n]
                vals = (np.frombuffer(raw, dtype=">u2" if prec else np.uint8)
                        .astype(np.int64))
                qt[tid] = vals[_UNZZ].reshape(8, 8)
                p += 1 + n
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                cls = seg[p] >> 4
                tid = seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                vals = list(seg[p + 17:p + 17 + n])
                (huff_dc if cls == 0 else huff_ac)[tid] = _huff_decoder(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            progressive = marker == 0xC2
        elif marker == 0xDD:
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for si in range(ns):
                cid, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                scan[cid] = (tabs >> 4, tabs & 15)
                order.append(cid)
            j = i + 2 + seglen
            if not progressive:
                return _decode_scan(data, j, frame, scan, qt, huff_dc, huff_ac,
                                    restart_interval)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            jend = _skip_entropy(data, j)
            # tables/DRI snapshot: later DHT/DRI segments may redefine them
            scans.append((order, scan, ss, se, ahal >> 4, ahal & 15,
                          dict(huff_dc), dict(huff_ac), restart_interval, j, jend))
            i = jend
            continue
        i += 2 + seglen
    if progressive and scans:
        return _decode_progressive(data, frame, qt, scans)
    raise ValueError("no SOS marker found")


def _entropy_segments(data: bytes, start: int, end: int) -> list:
    """Destuffed entropy-coded intervals split on RSTn, within [start, end)."""
    segments = []
    cur = bytearray()
    j = start
    while j < end:
        b = data[j]
        if b == 0xFF and j + 1 < end:
            nxt = data[j + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
            break
        cur.append(b)
        j += 1
    segments.append(bytes(cur))
    return segments


def _decode_progressive(data, frame, qt, scans):
    """T.81 §G progressive decoding: every scan refines per-component
    DCT-coefficient planes (zigzag order); one reconstruction at the end.

    DC first scans decode diffs of the point-transformed value (coef =
    pred << Al); DC refinement appends bit Al (two's-complement OR).  AC
    scans are single-component: first scans (Ah=0) place coefficients at
    magnitude-shifted precision with EOB-run skipping (§G.1.2.2); refinement
    scans (Ah>0) add one bit per already-nonzero coefficient and insert
    newly-significant ±(1<<Al) coefficients with zero-history run lengths
    (§G.1.2.3)."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coef = {}   # comp id → (bh, bw, 64) int64, zigzag order
    used = {}   # comp id → (nby, nbx) data-bearing block grid
    for c in comps:
        bw_ = mcux * c["h"]
        bh_ = mcuy * c["v"]
        coef[c["id"]] = np.zeros((bh_, bw_, 64), dtype=np.int64)
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        used[c["id"]] = ((ch + 7) // 8, (cw + 7) // 8)
    byid = {c["id"]: c for c in comps}

    for order, scan, ss, se, ah, al, hdc, hac, rst, j0, j1 in scans:
        segments = _entropy_segments(data, j0, j1)
        seg_idx = 0
        br = _BitReader(segments[0])
        if ss == 0:
            # DC scan (interleaved or single-component)
            pred = {cid: 0 for cid in order}
            if len(order) > 1:
                units = [(my, mx) for my in range(mcuy) for mx in range(mcux)]
            else:
                c = byid[order[0]]
                nby, nbx = used[order[0]]
                units = [(by, bx) for by in range(nby) for bx in range(nbx)]
            n = 0
            for uy, ux in units:
                if rst and n and n % rst == 0:
                    seg_idx += 1
                    br = _BitReader(segments[seg_idx])
                    pred = {cid: 0 for cid in order}
                n += 1
                for cid in order:
                    c = byid[cid]
                    blocks = (
                        [(uy * c["v"] + by, ux * c["h"] + bx)
                         for by in range(c["v"]) for bx in range(c["h"])]
                        if len(order) > 1 else [(uy, ux)]
                    )
                    for by_, bx_ in blocks:
                        if ah == 0:
                            size = _read_symbol(br, hdc[scan[cid][0]])
                            diff = _extend(br.read_bits(size), size)
                            pred[cid] += diff
                            coef[cid][by_, bx_, 0] = pred[cid] << al
                        else:
                            if br.read_bit():
                                coef[cid][by_, bx_, 0] |= 1 << al
        else:
            # AC scan: always single-component (T.81 §G.1.1.1.1)
            cid = order[0]
            table = hac[scan[cid][1]]
            nby, nbx = used[cid]
            plane = coef[cid]
            eobrun = 0
            n = 0
            for by_ in range(nby):
                for bx_ in range(nbx):
                    if rst and n and n % rst == 0:
                        seg_idx += 1
                        br = _BitReader(segments[seg_idx])
                        eobrun = 0
                    n += 1
                    blk = plane[by_, bx_]
                    if ah == 0:
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = _read_symbol(br, table)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.read_bits(r)
                                break
                            k += r
                            if k > se:
                                raise ValueError("AC index overflow")
                            blk[k] = _extend(br.read_bits(s), s) << al
                            k += 1
                    else:
                        p1 = 1 << al
                        m1 = -p1
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                rs = _read_symbol(br, table)
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r < 15:
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += br.read_bits(r)
                                        break
                                    val = 0
                                else:
                                    val = p1 if br.read_bit() else m1
                                # advance past r zero-history coefficients,
                                # emitting correction bits over nonzero ones
                                while k <= se:
                                    if blk[k] != 0:
                                        if br.read_bit() and (blk[k] & p1) == 0:
                                            blk[k] += p1 if blk[k] >= 0 else m1
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val and k <= se:
                                    blk[k] = val
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                if blk[k] != 0:
                                    if br.read_bit() and (blk[k] & p1) == 0:
                                        blk[k] += p1 if blk[k] >= 0 else m1
                                k += 1
                            eobrun -= 1

    # reconstruction — identical math to the baseline path
    planes = []
    for c in comps:
        q = qt[c["tq"]]
        arr = coef[c["id"]]
        bh_, bw_ = arr.shape[:2]
        nat = (arr.reshape(-1, 64)[:, _UNZZ].reshape(-1, 8, 8) * q[None]).astype(np.float64)
        blocks = _idct_blocks(nat) + 128.0
        plane = (
            blocks.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        )
        planes.append(plane)
    full = []
    for c, p in zip(comps, planes):
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(full[0].round(), 0, 255).astype(np.uint8)[:, :, None]
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)


def _decode_scan(data, start, frame, scan, qt, huff_dc, huff_ac, rst_int):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # Split on restart markers FIRST (in the stuffed stream, where FF Dx is
    # unambiguous — data 0xFF is always stuffed as FF 00), then destuff each
    # segment.  Destuffing first would let a data FF followed by a data
    # D0-D7 byte masquerade as a restart boundary.
    segments = []
    cur = bytearray()
    j = start
    while j < len(data) - 1:
        b = data[j]
        if b == 0xFF:
            nxt = data[j + 1]
            if nxt == 0x00:
                cur.append(0xFF)  # destuffed data byte
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
            break  # EOI or next marker
        cur.append(b)
        j += 1
    segments.append(bytes(cur))

    planes = []
    for c in comps:
        bw = mcux * c["h"]
        bh = mcuy * c["v"]
        planes.append(np.zeros((bh * 8, bw * 8)))

    seg_idx = 0
    br = _BitReader(segments[0])
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if rst_int and mcu_count and mcu_count % rst_int == 0:
                seg_idx += 1
                br = _BitReader(segments[seg_idx])
                pred = {c["id"]: 0 for c in comps}
            for ci, c in enumerate(comps):
                dc_t = huff_dc[scan[c["id"]][0]]
                ac_t = huff_ac[scan[c["id"]][1]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _read_symbol(br, dc_t)
                        diff = _extend(br.read_bits(size), size)
                        pred[c["id"]] += diff
                        zz[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(br, ac_t)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.read_bits(s), s)
                            k += 1
                        coef = (zz[_UNZZ].reshape(8, 8) * q).astype(np.float64)
                        blk = _idct_blocks(coef[None])[0] + 128.0
                        py = (my * c["v"] + by) * 8
                        px = (mx * c["h"] + bx) * 8
                        planes[ci][py:py + 8, px:px + 8] = blk
            mcu_count += 1

    # upsample subsampled chroma to full grid, crop, color-convert
    full = []
    for c, p in zip(comps, planes):
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(full[0].round(), 0, 255).astype(np.uint8)[:, :, None]
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)
