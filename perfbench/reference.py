"""Expected outputs computed with numpy from the generated pandas inputs.

Nothing here calls the engine: the web-mercator tile/pixel formulas
(gdal2tiles GlobalMercator), the closed-rectangle point-in-grid rule, the
2x2 AVERAGE pyramid and the GDAL 16-bit tile checksum are written out
again, so the benchmark's output checks do not share code with the path
they check.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd

TILE = 256
ORIGIN_SHIFT = 2 * math.pi * 6378137 / 2.0
INITIAL_RESOLUTION = 2 * math.pi * 6378137 / TILE
_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
CRC_MOD = 65521


def mercator_pixels(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Global pixel coordinates at ``zoom`` (gdal2tiles LatLonToMeters +
    MetersToPixels, same operation order)."""
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    res = INITIAL_RESOLUTION / (2**zoom)
    return (mx + ORIGIN_SHIFT) / res, (my + ORIGIN_SHIFT) / res


def pixel_tile(px: np.ndarray, py: np.ndarray):
    """Covering TMS tile of a global pixel (gdal2tiles PixelsToTile)."""
    tx = (np.ceil(px / float(TILE)) - 1).astype(np.int64)
    ty = (np.ceil(py / float(TILE)) - 1).astype(np.int64)
    return tx, ty


def geotag_first(pages: pd.DataFrame, gazetteer: pd.DataFrame) -> pd.DataFrame:
    """(url, lon, lat) of each page's first gazetteer token by position."""
    where = dict(zip(gazetteer["name"], zip(gazetteer["lon"], gazetteer["lat"])))
    rows = []
    for url, text in zip(pages["url"], pages["text"]):
        for tok in text.split(" "):
            hit = where.get(tok)
            if hit is not None:
                rows.append((url, hit[0], hit[1]))
                break
    return pd.DataFrame(rows, columns=["url", "lon", "lat"])


def assignment_checksum(urls, tx: np.ndarray, ty: np.ndarray) -> dict:
    """Order-free content checksum of a (url, tx, ty) tile assignment at a
    zoom <= 8; the Spark side computes the same sums with ``crc32``."""
    crc = np.array([zlib.crc32(u.encode("utf-8")) % CRC_MOD for u in urls], dtype=np.int64)
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    return {
        "rows": int(len(crc)),
        "sum_tx": int(tx.sum()),
        "sum_ty": int(ty.sum()),
        "crc_tile": int((crc * (tx * TILE + ty + 1)).sum()),
    }


def grid_multiplicity(lon: np.ndarray, lat: np.ndarray, step: float = 10.0) -> np.ndarray:
    """How many closed ``step``-degree world-grid cells contain each point
    (boundary points belong to every cell they touch)."""
    xs = -180.0 + step * np.arange(int(round(360 / step)))
    ys = -90.0 + step * np.arange(int(round(180 / step)))
    nx = ((xs[None, :] <= lon[:, None]) & (lon[:, None] <= xs[None, :] + step)).sum(axis=1)
    ny = ((ys[None, :] <= lat[:, None]) & (lat[:, None] <= ys[None, :] + step)).sum(axis=1)
    return (nx * ny).astype(np.int64)


def _checksum(flat_idx: np.ndarray, values: np.ndarray) -> int:
    """GDALChecksumImage of a 256x256 int grid given its non-zero pixels."""
    return int((values % _PRIMES[flat_idx % len(_PRIMES)]).sum()) & 0xFFFF


def _level_checksums(level: dict) -> dict:
    return {t: _checksum(px[:, 0] * TILE + px[:, 1], px[:, 2]) for t, px in level.items()}


def pyramid_checksums(lon: np.ndarray, lat: np.ndarray, weight: np.ndarray, base_zoom: int, levels: int) -> dict:
    """{zoom: {(tx, ty): checksum}} of the density pyramid: each point adds
    ``weight`` to its base-zoom pixel, then ``levels`` 2x2 AVERAGE reductions
    (floor(sum/4 + 0.5); a parent exists wherever a child tile exists)."""
    px, py = mercator_pixels(lon, lat, base_zoom)
    tx, ty = pixel_tile(px, py)
    ix = np.clip(np.floor(px).astype(np.int64) - tx * TILE, 0, TILE - 1)
    iy = TILE - 1 - np.clip(np.floor(py).astype(np.int64) - ty * TILE, 0, TILE - 1)
    frame = pd.DataFrame({"tx": tx, "ty": ty, "row": iy, "col": ix, "v": weight})
    level = _sparse_level(frame.groupby(["tx", "ty", "row", "col"], as_index=False)["v"].sum())
    out = {base_zoom: _level_checksums(level)}
    for z in range(base_zoom - 1, base_zoom - 1 - levels, -1):
        level = _reduce(level)
        out[z] = _level_checksums(level)
    return out


def _sparse_level(frame: pd.DataFrame) -> dict:
    """{(tx, ty): int64 array of (row, col, value) non-zero pixels}."""
    level = {}
    for (tx, ty), g in frame.groupby(["tx", "ty"]):
        level[(int(tx), int(ty))] = g[["row", "col", "v"]].to_numpy(np.int64)
    return level


def _reduce(level: dict) -> dict:
    parts = []
    for (tx, ty), px in level.items():
        cx, cy = tx & 1, ty & 1
        rows = (1 - cy) * TILE + px[:, 0]
        cols = cx * TILE + px[:, 1]
        parts.append(pd.DataFrame({
            "tx": tx >> 1, "ty": ty >> 1, "row": rows // 2, "col": cols // 2, "v": px[:, 2],
        }))
    summed = pd.concat(parts).groupby(["tx", "ty", "row", "col"], as_index=False)["v"].sum()
    summed["v"] = (summed["v"] + 2) // 4
    parent = _sparse_level(summed[summed["v"] != 0])
    for tx, ty in level:
        parent.setdefault((tx >> 1, ty >> 1), np.zeros((0, 3), dtype=np.int64))
    return parent


def tile_checksum(data: bytes) -> int:
    """GDAL checksum of one stored tile (little-endian int32 256x256)."""
    grid = np.frombuffer(data, dtype="<i4").astype(np.int64).ravel()
    nz = np.flatnonzero(grid)
    return _checksum(nz, grid[nz])

