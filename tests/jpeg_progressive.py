"""Progressive JPEG encoder (ITU-T T.81 §G), a test fixture.

The engine only decodes progressive JPEG (:func:`engine.jpeg.decode_jpeg`);
this encoder builds progressive streams for the decoder tests from the
engine's baseline encoder front end (colour transform, subsampling, FDCT,
quantization, Annex K Huffman tables).
"""

from __future__ import annotations

import numpy as np

from engine.jpeg import (
    _HT_AC_C,
    _HT_AC_L,
    _HT_DC_C,
    _HT_DC_L,
    _BitWriter,
    _frame_setup,
    _header_segments,
    _huff_codes,
    _magnitude,
)


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 90,
                            subsample: str = "444") -> bytes:
    """uint8 grey/RGB → PROGRESSIVE JFIF (SOF2, ITU T.81 §G).

    Scan script (successive approximation Al=1→0 on every band, so all four
    decoder paths — DC first/refine, AC first/refine — are exercised):
      1. DC, all components interleaved, Ah=0 Al=1
      2. DC refinement, Ah=1 Al=0 (one raw bit per block)
      3. per component: AC 1..63, Ah=0 Al=1 (EOB-run coded)
      4. per component: AC 1..63 refinement, Ah=1 Al=0 (correction bits)
    The coefficients are identical to :func:`engine.jpeg.encode_jpeg`'s at the same
    quality, so decode_jpeg() of both streams is pixel-identical."""
    grey, h, w, samp, ql, qc, comp_coefs, mcux, mcuy = _frame_setup(arr, quality, subsample)
    nc = 1 if grey else 3
    dc_tabs = [_huff_codes(*_HT_DC_L)] if grey else [_huff_codes(*_HT_DC_L)] + [_huff_codes(*_HT_DC_C)] * 2
    ac_tabs = [_huff_codes(*_HT_AC_L)] if grey else [_huff_codes(*_HT_AC_L)] + [_huff_codes(*_HT_AC_C)] * 2
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # data-bearing block grid per component (non-interleaved scan order)
    used = []
    for sh, sv in samp:
        cw = (w * sh + hmax - 1) // hmax
        ch = (h * sv + vmax - 1) // vmax
        used.append(((ch + 7) // 8, (cw + 7) // 8))

    def sos(comp_ids, tabsel, ss, se, ah, al, ecs: bytes) -> bytes:
        head = bytearray()
        head += b"\xFF\xDA" + (6 + 2 * len(comp_ids)).to_bytes(2, "big") + bytes([len(comp_ids)])
        for cid, t in zip(comp_ids, tabsel):
            head += bytes([cid, t])
        head += bytes([ss, se, (ah << 4) | al])
        return bytes(head) + ecs

    out = _header_segments(grey, h, w, samp, ql, qc, 0xC2)

    # --- scan 1: DC first, interleaved, Al=1 (diffs of v >> 1, arithmetic)
    bw = _BitWriter()
    pred = [0] * nc
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        v = int(comp_coefs[ci][my * sv + by, mx * sh + bx, 0]) >> 1
                        size, bits = _magnitude(v - pred[ci])
                        code, length = dc_tabs[ci][size]
                        bw.write(code, length)
                        if size:
                            bw.write(bits, size)
                        pred[ci] = v
    bw.flush()
    out += sos([ci + 1 for ci in range(nc)],
               [0 if ci == 0 else 0x10 for ci in range(nc)], 0, 0, 0, 1, bytes(bw.buf))

    # --- scan 2: DC refinement, Al=0 (bit 0 of v, two's complement)
    bw = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        bw.write(int(comp_coefs[ci][my * sv + by, mx * sh + bx, 0]) & 1, 1)
    bw.flush()
    out += sos([ci + 1 for ci in range(nc)], [0] * nc, 0, 0, 1, 0, bytes(bw.buf))

    # --- per component: AC first (Al=1) then AC refinement (Al=0) ---
    for ci in range(nc):
        nby, nbx = used[ci]
        tab = ac_tabs[ci]
        tsel = 0 if ci == 0 else 0x01

        # AC first, Ss=1 Se=63, Al=1: magnitude shift (truncate toward 0)
        bw = _BitWriter()
        for by in range(nby):
            for bx in range(nbx):
                blk = comp_coefs[ci][by, bx]
                r = 0
                for k in range(1, 64):
                    v = int(blk[k])
                    t = abs(v) >> 1
                    if t == 0:
                        r += 1
                        continue
                    while r > 15:
                        code, length = tab[0xF0]
                        bw.write(code, length)
                        r -= 16
                    size = t.bit_length()
                    code, length = tab[(r << 4) | size]
                    bw.write(code, length)
                    sv_ = t if v > 0 else -t
                    _, bits = _magnitude(sv_)
                    bw.write(bits, size)
                    r = 0
                if r > 0:
                    code, length = tab[0x00]  # EOB (run of 1)
                    bw.write(code, length)
        bw.flush()
        out += sos([ci + 1], [tsel], 1, 63, 0, 1, bytes(bw.buf))

        # AC refinement, Ah=1 Al=0 (§G.1.2.3): newly-significant coefs are
        # run-length coded over ZERO-HISTORY positions with a sign bit;
        # already-nonzero coefs contribute buffered correction bits
        bw = _BitWriter()
        for by in range(nby):
            for bx in range(nbx):
                blk = comp_coefs[ci][by, bx]
                # last newly-significant position: runs beyond it fold into
                # the EOB (emitting a ZRL there would desync the decoder's
                # 16-zero advance from the buffered correction bits)
                last_new = 0
                for k in range(1, 64):
                    if abs(int(blk[k])) == 1:
                        last_new = k
                r = 0
                pending = []  # correction bits awaiting the next symbol
                for k in range(1, 64):
                    v = int(blk[k])
                    a = abs(v)
                    if a == 0:             # zero history, still zero
                        r += 1
                        continue
                    # any nonzero position: first retire pending ZRLs so the
                    # buffered bits stay scoped to the span the decoder
                    # consumes with each symbol
                    while r > 15 and k <= last_new:
                        code, length = tab[0xF0]
                        bw.write(code, length)
                        r -= 16
                        for b_ in pending:
                            bw.write(b_, 1)
                        pending = []
                    if a >> 1 != 0:        # history nonzero → correction bit
                        pending.append(a & 1)
                        continue
                    # newly significant (|v| == 1)
                    code, length = tab[(r << 4) | 1]
                    bw.write(code, length)
                    bw.write(1 if v > 0 else 0, 1)
                    for b_ in pending:
                        bw.write(b_, 1)
                    pending = []
                    r = 0
                if r > 0 or pending:
                    code, length = tab[0x00]  # EOB run of 1
                    bw.write(code, length)
                    for b_ in pending:
                        bw.write(b_, 1)
        bw.flush()
        out += sos([ci + 1], [tsel], 1, 63, 1, 0, bytes(bw.buf))

    out += b"\xFF\xD9"
    return bytes(out)
