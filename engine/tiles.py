"""Tile / cell math: numpy-vectorized transcription of the reference formulas.

Reference: ``swig/python/scripts/gdal2tiles.py:205-318`` (class GlobalMercator)
and ``:322-418`` (class GlobalGeodetic).  The exact-tile-assignment parity
criterion is defined by these formulas, so they are reproduced verbatim in
float64 numpy (bit-for-bit identical to CPython ``math`` on linux/glibc —
asserted by tests/test_tiles.py against a scalar transcription).

All functions are vectorized over numpy arrays and are used inside
pandas/Arrow UDFs (engine.joins, engine.raster) — no per-row Python.

Tile scheme is TMS (origin bottom-left), like the reference.  ``google_tile``
/ ``quadkey`` convert to XYZ / Bing conventions (gdal2tiles.py:298-318).
"""

from __future__ import annotations

import math

import numpy as np

TILE_SIZE = 256
# gdal2tiles.py:208-211
INITIAL_RESOLUTION = 2 * math.pi * 6378137 / TILE_SIZE  # 156543.03392804062
ORIGIN_SHIFT = 2 * math.pi * 6378137 / 2.0  # 20037508.342789244
MAXZOOMLEVEL = 32
# Latitude bound of the square web-mercator world (gdal2tiles tminmax clamp).
MERCATOR_LAT_MAX = 85.05112877980659


def resolution(zoom: int) -> float:
    """Meters/pixel at equator for zoom (gdal2tiles.py:282-286)."""
    return INITIAL_RESOLUTION / (2**zoom)


def lonlat_to_meters(lon, lat):
    """WGS84 lon/lat → spherical-mercator meters (gdal2tiles.py:213-220).

    Formula order matches LatLonToMeters exactly: the double-multiply
    ``my * originShift / 180`` is kept as written (not fused) for parity.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def meters_to_lonlat(mx, my):
    """Inverse of lonlat_to_meters (gdal2tiles.py:222-229)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lon, lat


def meters_to_pixels(mx, my, zoom: int):
    """Mercator meters → global pixel coords at zoom (gdal2tiles.py:239-245)."""
    res = resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_meters(px, py, zoom: int):
    """Global pixel coords → mercator meters (gdal2tiles.py:231-237)."""
    res = resolution(zoom)
    mx = np.asarray(px, dtype=np.float64) * res - ORIGIN_SHIFT
    my = np.asarray(py, dtype=np.float64) * res - ORIGIN_SHIFT
    return mx, my


def pixels_to_tile(px, py):
    """Pixel coords → covering TMS tile (gdal2tiles.py:247-252).

    The boundary rule is ``ceil(p/256) - 1``: a point exactly on a tile's
    left/bottom edge (px multiple of 256) belongs to the tile BELOW it —
    i.e. px=256.0 → tx=0, px=256.0000001 → tx=1.  Preserved exactly.
    """
    tx = (np.ceil(np.asarray(px, dtype=np.float64) / float(TILE_SIZE)) - 1).astype(np.int64)
    ty = (np.ceil(np.asarray(py, dtype=np.float64) / float(TILE_SIZE)) - 1).astype(np.int64)
    return tx, ty


def lonlat_to_tile(lon, lat, zoom: int):
    """lon/lat → TMS (tx, ty) at zoom: the engine's cell-encode primitive."""
    mx, my = lonlat_to_meters(lon, lat)
    px, py = meters_to_pixels(mx, my, zoom)
    return pixels_to_tile(px, py)


def lonlat_to_pixels(lon, lat, zoom: int):
    """lon/lat → global mercator pixel coords at zoom."""
    mx, my = lonlat_to_meters(lon, lat)
    return meters_to_pixels(mx, my, zoom)


def tile_bounds(tx, ty, zoom: int):
    """TMS tile → (minx, miny, maxx, maxy) mercator meters (gdal2tiles.py:266-271)."""
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    minx, miny = pixels_to_meters(tx * TILE_SIZE, ty * TILE_SIZE, zoom)
    maxx, maxy = pixels_to_meters((tx + 1) * TILE_SIZE, (ty + 1) * TILE_SIZE, zoom)
    return minx, miny, maxx, maxy


def tile_lonlat_bounds(tx, ty, zoom: int):
    """TMS tile → (minlon, minlat, maxlon, maxlat) in WGS84."""
    minx, miny, maxx, maxy = tile_bounds(tx, ty, zoom)
    minlon, minlat = meters_to_lonlat(minx, miny)
    maxlon, maxlat = meters_to_lonlat(maxx, maxy)
    return minlon, minlat, maxlon, maxlat


def google_tile(tx, ty, zoom: int):
    """TMS → Google/XYZ tile coords (gdal2tiles.py:298-302)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    return tx, (2**zoom - 1) - ty


def quadkey(tx, ty, zoom: int) -> np.ndarray:
    """TMS tile → Microsoft quadkey string (gdal2tiles.py:304-318).

    Vectorized: per-level digit arrays combined into a fixed-width string
    array.  The quadkey is the engine's cell-prefix key: quadkey at zoom z-1
    is the z-length quadkey's prefix, which is what makes prefix pruning
    equi-join-able.
    """
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    gy = (2**zoom - 1) - ty
    if zoom == 0:
        return np.full(tx.shape, "", dtype="U1")
    digits = np.zeros(tx.shape + (zoom,), dtype=np.uint8)
    for i in range(zoom, 0, -1):
        mask = np.int64(1) << (i - 1)
        d = ((tx & mask) != 0).astype(np.uint8) + 2 * ((gy & mask) != 0).astype(np.uint8)
        digits[..., zoom - i] = d + ord("0")
    return digits.view(f"S{zoom}").reshape(tx.shape).astype(f"U{zoom}")


def quadkey_to_tile(qk: str):
    """Quadkey string → (tx, ty, zoom) in TMS. Inverse of quadkey()."""
    zoom = len(qk)
    tx = 0
    gy = 0
    for ch in qk:
        d = ord(ch) - ord("0")
        tx = (tx << 1) | (d & 1)
        gy = (gy << 1) | (d >> 1)
    ty = (2**zoom - 1) - gy
    return tx, ty, zoom


def parent_tile(tx, ty):
    """Tile at zoom z → its parent at z-1 (the 4:1 pyramid reduce key,
    gdal2tiles.py:1369-1387: parent mosaics children 2tx..2tx+1, 2ty..2ty+1)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    return tx >> 1, ty >> 1


# ---------------------------------------------------------------------------
# GlobalGeodetic (gdal2tiles.py:322-418) — the unprojected profile.  Pure
# rational arithmetic (no transcendentals), so it is reproducible in ANSI SQL;
# the DuckDB oracle queries use this profile.
# ---------------------------------------------------------------------------


def geodetic_resolution(zoom: int, tmscompatible: bool = True) -> float:
    """Arc-degrees/pixel (gdal2tiles.py:357-366,389-392)."""
    res_fact = 180.0 / TILE_SIZE if tmscompatible else 360.0 / TILE_SIZE
    return res_fact / (2**zoom)


def geodetic_lonlat_to_pixels(lon, lat, zoom: int, tmscompatible: bool = True):
    """lon/lat → geodetic-pyramid pixels (gdal2tiles.py:368-374)."""
    res = geodetic_resolution(zoom, tmscompatible)
    px = (180.0 + np.asarray(lon, dtype=np.float64)) / res
    py = (90.0 + np.asarray(lat, dtype=np.float64)) / res
    return px, py


def geodetic_lonlat_to_tile(lon, lat, zoom: int, tmscompatible: bool = True):
    """lon/lat → TMS tile in the geodetic profile (gdal2tiles.py:383-387)."""
    px, py = geodetic_lonlat_to_pixels(lon, lat, zoom, tmscompatible)
    return pixels_to_tile(px, py)
