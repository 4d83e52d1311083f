"""Focal (spatial-window) raster operators, and the engine's one halo exchange.

The reference computes hillshade/slope/aspect/TRI/TPI/roughness with a 3×3
window over the grid (apps/gdaldem.cpp:37-125).  Distributed form: each
256×256 tile needs a 1-pixel halo from its 8 neighbors.

:func:`halo_apply` is the halo exchange that every neighbourhood raster
operator shares (focal here, contour, polygonize, proximity and fill
nodata): one mapInPandas ships every tile to itself plus the strips of it
that the tiles within ``ceil(halo/T)`` rings need, one shuffle co-locates
each receiving tile with its halo, and a grouped-map UDF builds the
(T+2·halo)² composite and its ``exists`` mask once, when the centre tile
is present.  Each operator then applies its own rule for missing pixels:
focal replicates the edge (gdaldem's border handling computes windows from
available cells), contour reads NaN, polygonize background, proximity and
fill nodata mask them out.  At halo 1 a tile ships itself plus 8 strips
(1×T, T×1, 1×1): the traffic is ~1.5% of the tile bytes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .raster import TILE_SIZE, TILE_SCHEMA, bytes_to_tile, tile_to_bytes


def _spans(halo: int) -> dict:
    """Every sender offset (dx, dy) (dy > 0: sender north of the receiver,
    the TMS axis) whose tile reaches a receiver's (T+2·halo)² composite →
    ((rows, cols) of the sender tile it ships, (rows, cols) where they land
    in the composite)."""
    T, h = TILE_SIZE, int(halo)

    def axis(q):
        # sender spans composite [h + q·T, +T) along one array axis (q > 0:
        # east / south); it ships what falls inside [0, T + 2h)
        lo = h + q * T
        a, b = max(lo, 0), min(lo + T, T + 2 * h)
        return (slice(a - lo, b - lo), slice(a, b)) if a < b else None

    k = -(-h // T)
    spans = {}
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            rows, cols = axis(-dy), axis(dx)  # array rows grow southward
            if rows and cols:
                spans[(dx, dy)] = ((rows[0], cols[0]), (rows[1], cols[1]))
    return spans


def _tile_key(tile_df: DataFrame) -> list:
    return ["zoom", "tx", "ty"] if "zoom" in tile_df.columns else ["tx", "ty"]


def _gather_halo(tile_df: DataFrame, halo: int) -> DataFrame:
    """Each tile → one row addressed to itself (its bytes as they are)
    plus one per receiving tile within ``ceil(halo/T)`` rings whose
    composite it reaches, carrying the strip of it that lands there.
    Columns: the receiving tile's key, (dx, dy) = the sender's tile offset
    from the receiver, data."""
    key = _tile_key(tile_df)
    spans = _spans(halo)
    schema = ("zoom int, " if "zoom" in key else "") + "tx long, ty long, dx int, dy int, data binary"

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                g = bytes_to_tile(r.data)
                z = (int(r.zoom),) if "zoom" in key else ()
                for (dx, dy), (src, _) in spans.items():
                    data = r.data if dx == dy == 0 else g[src].tobytes()
                    rows.append((*z, int(r.tx) - dx, int(r.ty) - dy, dx, dy, data))
            yield pd.DataFrame(rows, columns=[*key, "dx", "dy", "data"])

    return tile_df.select(*key, "data").mapInPandas(_emit, schema)


def halo_apply(tile_df: DataFrame, halo: int, fn, schema) -> DataFrame:
    """Run ``fn(key, composite, exists)`` → pandas DataFrame (rows of
    ``schema``) once per tile of ``tile_df``: ``key`` = the tile's
    (zoom, tx, ty), or (tx, ty) when the table has no ``zoom``;
    ``composite`` = the int64 (T+2·halo)² window centred on the tile (array
    rows grow southward), 0 where ``exists`` is False (beyond the layer).

    Plan: one halo gather (mapInPandas), one hash exchange on the receiving
    tile key, one grouped-map UDF; the explicit partition count keeps
    AQE's size-based coalesce from packing the numpy-CPU-bound kernels
    into too few tasks."""
    key = _tile_key(tile_df)
    spans = _spans(halo)
    S = TILE_SIZE + 2 * int(halo)

    def _apply(k, pdf):
        if not ((pdf["dx"] == 0) & (pdf["dy"] == 0)).any():
            return pd.DataFrame()
        comp = np.zeros((S, S), dtype=np.int64)
        exists = np.zeros((S, S), dtype=bool)
        for dx, dy, data in zip(pdf["dx"], pdf["dy"], pdf["data"]):
            dst = spans[(dx, dy)][1]
            comp[dst] = np.frombuffer(data, dtype="<i4").reshape(comp[dst].shape)
            exists[dst] = True
        return fn(k, comp, exists)

    nparts = tile_df.sparkSession.sparkContext.defaultParallelism
    return (
        _gather_halo(tile_df, halo)
        .repartition(nparts, *key)
        .groupBy(*key)
        .applyInPandas(_apply, schema)
    )


def slope_kernel(pad: np.ndarray) -> np.ndarray:
    """Horn slope in value-units per pixel ×100 (int32 output), the 3×3
    Horn stencil of gdaldem slope (apps/gdaldem.cpp: slope case)."""
    a = pad.astype(np.float64)
    dzdx = (
        (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[1:-1, :-2] + a[2:, :-2])
    ) / 8.0
    dzdy = (
        (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[:-2, 1:-1] + a[:-2, 2:])
    ) / 8.0
    return np.floor(np.sqrt(dzdx**2 + dzdy**2) * 100.0 + 0.5).astype(np.int64)


def tri_kernel(pad: np.ndarray) -> np.ndarray:
    """Terrain Ruggedness Index: mean |center − neighbor| over the 8
    neighbors, ×100 rounded (apps/gdaldem.cpp TRI)."""
    c = pad[1:-1, 1:-1].astype(np.float64)
    acc = np.zeros_like(c)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            acc += np.abs(pad[1 + dr : 1 + dr + TILE_SIZE, 1 + dc : 1 + dc + TILE_SIZE] - c)
    return np.floor(acc / 8.0 * 100.0 + 0.5).astype(np.int64)


def roughness_kernel(pad: np.ndarray) -> np.ndarray:
    """Roughness: max − min of the 3×3 window (apps/gdaldem.cpp roughness)."""
    stack = np.stack(
        [
            pad[1 + dr : 1 + dr + TILE_SIZE, 1 + dc : 1 + dc + TILE_SIZE]
            for dr in (-1, 0, 1)
            for dc in (-1, 0, 1)
        ]
    )
    return (stack.max(axis=0) - stack.min(axis=0)).astype(np.int64)


def aspect_kernel(pad: np.ndarray) -> np.ndarray:
    """Aspect in degrees ×100 (0..36000), Horn stencil (apps/gdaldem.cpp
    aspect case): atan2(dz/dy, -dz/dx) mapped to compass-ish degrees; flat
    cells (both gradients 0) → -1 like gdaldem's nodata convention."""
    a = pad.astype(np.float64)
    dzdx = (
        (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[1:-1, :-2] + a[2:, :-2])
    ) / 8.0
    dzdy = (
        (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[:-2, 1:-1] + a[:-2, 2:])
    ) / 8.0
    ang = np.degrees(np.arctan2(dzdy, -dzdx))
    ang = np.where(ang < 0, ang + 360.0, ang)
    flat = (dzdx == 0) & (dzdy == 0)
    out = np.floor(ang * 100.0 + 0.5).astype(np.int64)
    out[flat] = -1
    return out


def hillshade_kernel(pad: np.ndarray) -> np.ndarray:
    """Hillshade 0..255 (apps/gdaldem.cpp hillshade): Horn gradients,
    azimuth 315°, altitude 45°, z-factor 1."""
    a = pad.astype(np.float64)
    dzdx = (
        (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[1:-1, :-2] + a[2:, :-2])
    ) / 8.0
    dzdy = (
        (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[:-2, 1:-1] + a[:-2, 2:])
    ) / 8.0
    az = np.radians(315.0)
    alt = np.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx**2 + dzdy**2))
    aspect = np.arctan2(dzdy, -dzdx)
    shaded = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - np.pi / 2.0 - aspect)
    return np.clip(np.floor(shaded * 255.0 + 0.5), 0, 255).astype(np.int64)


def tpi_kernel(pad: np.ndarray) -> np.ndarray:
    """Topographic Position Index: center − mean of the 8 neighbors, ×100
    rounded (apps/gdaldem.cpp:37-125 TPI case) — positive on ridges,
    negative in valleys."""
    c = pad[1:-1, 1:-1].astype(np.float64)
    acc = np.zeros_like(c)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            acc += pad[1 + dr : 1 + dr + TILE_SIZE, 1 + dc : 1 + dc + TILE_SIZE]
    v = c - acc / 8.0
    return np.floor(np.abs(v) * 100.0 + 0.5).astype(np.int64) * np.sign(v).astype(np.int64)


def _horn_gradients(pad: np.ndarray):
    a = pad.astype(np.float64)
    dzdx = (
        (a[:-2, 2:] + 2 * a[1:-1, 2:] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[1:-1, :-2] + a[2:, :-2])
    ) / 8.0
    dzdy = (
        (a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:])
        - (a[:-2, :-2] + 2 * a[:-2, 1:-1] + a[:-2, 2:])
    ) / 8.0
    return dzdx, dzdy


def hillshade_combined_kernel(pad: np.ndarray) -> np.ndarray:
    """gdaldem hillshade -combined: the standard shade MULTIPLIED by the
    slope-darkening term (combined = shade · (1 − slope/(π/2)), the
    published gdaldem combined formula)."""
    dzdx, dzdy = _horn_gradients(pad)
    az = np.radians(315.0)
    alt = np.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx**2 + dzdy**2))
    aspect = np.arctan2(dzdy, -dzdx)
    shaded = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - np.pi / 2.0 - aspect)
    combined = shaded * (1.0 - slope / (np.pi / 2.0))
    return np.clip(np.floor(combined * 255.0 + 0.5), 0, 255).astype(np.int64)


def hillshade_multidirectional_kernel(pad: np.ndarray) -> np.ndarray:
    """gdaldem hillshade -multidirectional (USGS open-file report 92-422,
    the formula gdaldem documents): weighted shades from azimuths
    225/270/315/360 with weights sin²(aspect − azimuth), normalized by
    the weight sum."""
    dzdx, dzdy = _horn_gradients(pad)
    alt = np.radians(45.0)
    slope = np.arctan(np.sqrt(dzdx**2 + dzdy**2))
    aspect = np.arctan2(dzdy, -dzdx)
    num = np.zeros_like(slope)
    den = np.zeros_like(slope)
    for az_deg in (225.0, 270.0, 315.0, 360.0):
        az = np.radians(az_deg)
        w = np.sin(aspect - (az - np.pi / 2.0)) ** 2
        sh = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - np.pi / 2.0 - aspect)
        num += w * sh
        den += w
    flat = den < 1e-12  # perfectly flat: every directional shade equals sin(alt)
    shaded = np.where(flat, np.sin(alt), num / np.where(flat, 1.0, den))
    return np.clip(np.floor(shaded * 255.0 + 0.5), 0, 255).astype(np.int64)


KERNELS = {
    "slope": slope_kernel,
    "tri": tri_kernel,
    "roughness": roughness_kernel,
    "aspect": aspect_kernel,
    "hillshade": hillshade_kernel,
    "hillshade_combined": hillshade_combined_kernel,
    "hillshade_multidirectional": hillshade_multidirectional_kernel,
    "tpi": tpi_kernel,
}


def color_relief(tile_df: DataFrame, ramp: list) -> DataFrame:
    """gdaldem color-relief (apps/gdaldem.cpp GDALColorRelief /
    GDALColorReliefGetRGBA): per-pixel linear interpolation of an
    (elevation, r, g, b) ramp, GDAL's quirky ``(int)(0.45 + ...)``
    near-round included; values outside the ramp clamp to the end entries
    (COLOR_SELECTION_INTERPOLATE default).

    Pointwise (no halo): one mapInPandas over the tile table.  Output
    packs RGB into one int band (r<<16 | g<<8 | b) so the tile schema is
    unchanged — a 3-band sink splits it back out.
    """
    ramp = sorted((float(e), int(r), int(g), int(b)) for e, r, g, b in ramp)
    ev = np.array([e for e, *_ in ramp])
    chans = [np.array([c[i + 1] for c in ramp], dtype=np.float64) for i in range(3)]

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                g = bytes_to_tile(row.data).astype(np.float64)
                idx = np.clip(np.searchsorted(ev, g, side="right"), 1, len(ev) - 1)
                e0 = ev[idx - 1]
                e1 = ev[idx]
                ratio = np.clip((g - e0) / np.where(e1 != e0, e1 - e0, 1.0), 0.0, 1.0)
                rgb = []
                for ch in chans:
                    c0 = ch[idx - 1]
                    c1 = ch[idx]
                    rgb.append(np.floor(0.45 + c0 + ratio * (c1 - c0)).astype(np.int64))
                packed = (rgb[0] << 16) | (rgb[1] << 8) | rgb[2]
                out.append((int(row.tx), int(row.ty), tile_to_bytes(packed)))
            yield pd.DataFrame(out, columns=["tx", "ty", "data"])

    return tile_df.select("tx", "ty", "data").mapInPandas(_apply, "tx long, ty long, data binary")


def focal(tile_df: DataFrame, kernel: str) -> DataFrame:
    """Apply a 3×3 focal kernel to every tile of a tile table with exact
    cross-tile halo exchange (:func:`halo_apply`, halo 1); a missing
    neighbour replicates the tile's edge.  Output: same tile-table schema."""
    fn = KERNELS[kernel]

    def _apply(key, comp: np.ndarray, exists: np.ndarray) -> pd.DataFrame:
        pad = np.where(exists, comp, np.pad(comp[1:-1, 1:-1], 1, "edge"))
        z, tx, ty = key
        return pd.DataFrame({"zoom": [z], "tx": [tx], "ty": [ty], "data": [tile_to_bytes(fn(pad))]})

    return halo_apply(tile_df, 1, _apply, TILE_SCHEMA)
