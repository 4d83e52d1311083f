"""Pure numpy+zlib PNG codec for the multimodal pipeline fixtures.

The container has no PIL/cv2 (documented environment constraint), so the
multimodal decode stage previously stopped at a stub.  PNG, however, is
fully decodable with stdlib ``zlib`` + numpy: this module implements the
subset needed for real end-to-end image plumbing — 8-bit greyscale /
grey+alpha / RGB / RGBA / indexed, all five scanline filters on decode,
filter-0 (None) on encode.  Format per the public PNG specification
(RFC 2083 / W3C PNG second edition); no reference-repo code involved
(GDAL's PNG driver, frmts/png/, delegates to libpng).

Scope note: interlaced (Adam7) and 16-bit images raise — the multimodal
operators treat those as the documented exotic-format stub path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode HxW (grey), HxWx3 (RGB) or HxWx4 (RGBA) uint8 → PNG bytes
    (filter type 0 per scanline, single IDAT)."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if img.ndim == 2:
        color, arr = 0, img[:, :, None]
    elif img.ndim == 3 and img.shape[2] == 3:
        color, arr = 2, img
    elif img.ndim == 3 and img.shape[2] == 4:
        color, arr = 6, img
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w, c = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    # filter byte 0 prepended to every row
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * c)], axis=1
    ).tobytes()
    return b"".join(
        [_SIG, _chunk(b"IHDR", ihdr), _chunk(b"IDAT", zlib.compress(raw, 6)), _chunk(b"IEND", b"")]
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes → uint8 array: HxW (grey) or HxWxC.  Palette
    images are expanded to RGB; a tRNS chunk on palette images expands to
    RGBA."""
    if bytes(data[:8]) != _SIG:
        raise ValueError("not a PNG (bad signature)")
    off = 8
    ihdr = None
    idat = []
    palette = None
    trns = None
    data = bytes(data)
    while off < len(data):
        (length,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4 : off + 8]
        payload = data[off + 8 : off + 8 + length]
        off += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"PLTE":
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(payload, dtype=np.uint8)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8 only)")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if color not in _CHANNELS:
        raise ValueError(f"unsupported color type {color}")
    c = _CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = rows[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        cur = rows[y, 1:].copy()
        ft = ftypes[y]
        if ft == 0:
            line = cur
        elif ft == 1:  # Sub — sequential in pixels, vectorize over channels
            line = cur
            for x in range(c, stride):
                line[x] = (int(line[x]) + int(line[x - c])) & 0xFF
        elif ft == 2:  # Up
            line = (cur.astype(np.int32) + prev).astype(np.uint8)
        elif ft == 3:  # Average
            line = cur
            for x in range(stride):
                left = int(line[x - c]) if x >= c else 0
                line[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            line = cur
            for x in range(stride):
                a = int(line[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                line[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = line
        prev = out[y]
    img = out.reshape(h, w, c)
    if color == 3:
        if palette is None:
            raise ValueError("palette image missing PLTE")
        idx = img[:, :, 0]
        rgb = palette[idx]
        if trns is not None:
            alpha = np.full(256, 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    if c == 1:
        return img[:, :, 0]
    return img
