"""Proximity (distance transform) + focal nodata fill over tile tables.

Reference operators:

* ``GDALComputeProximity`` (alg/gdalproximity.cpp:44-85) — per-pixel
  distance to the nearest target-valued pixel, bounded by MAXDIST; the
  reference uses a two-pass scanline propagation that *approximates*
  euclidean distance on one machine.  We compute the EXACT euclidean
  distance (pixel-center metric) with a separable transform — a documented
  strictness upgrade: the distributed result is identical to running the
  same kernel on the mosaicked raster (seam-exact), which a scanline
  approximation cannot guarantee under tiling.
* ``GDALFillNodata`` (alg/rasterfill.cpp:352-391) — nodata pixels filled by
  inverse-distance weighting of the nearest valid pixel along each of the 8
  compass directions (the reference's dfMaxSearchDist + smoothing
  iterations), then optional 3×3 average smoothing restricted to filled
  pixels.

Distributed pattern (both ops): the engine's one halo exchange
(:func:`engine.focal.halo_apply`) with halo = the kernel's support width —
each tile ships only the halo-wide strips its neighbours need (one
mapInPandas + one groupBy shuffle), the kernel runs once on the
(T+2·halo)² composite, and the centre T×T window is emitted.  Ring count =
ceil(halo/T), so radii beyond one tile (up to the 4-ring cap) gather
5×5/7×7/9×9 neighbourhoods with shuffle bytes still proportional to the
halo width — the same cost GDAL pays re-reading neighbour blocks, made
explicit as one shuffle.  Pixels beyond the layer (``exists`` False) are
never targets, sources or fill candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .focal import halo_apply
from .raster import TILE_SIZE


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def edt(targets: np.ndarray, maxdist: float) -> np.ndarray:
    """Exact euclidean distance (float64) from each cell to the nearest True
    cell, separable two-stage form: vertical nearest-target distance per
    column (two scans), then a horizontal min over offsets |dc| ≤ maxdist of
    ``V[r, c+dc]² + dc²``.  Cells farther than ``maxdist`` get +inf."""
    H, W = targets.shape
    BIG = float(H + W + 1)
    # vertical pass: distance to nearest target in the same column
    v = np.full((H, W), BIG)
    v[targets] = 0.0
    for r in range(1, H):
        np.minimum(v[r], v[r - 1] + 1.0, out=v[r])
    for r in range(H - 2, -1, -1):
        np.minimum(v[r], v[r + 1] + 1.0, out=v[r])
    v2 = v * v
    m = int(np.ceil(maxdist))
    best = v2.copy()
    for dc in range(1, m + 1):
        d2 = float(dc * dc)
        if d2 > maxdist * maxdist and dc > 1:
            break
        np.minimum(best[:, dc:], v2[:, :-dc] + d2, out=best[:, dc:])
        np.minimum(best[:, :-dc], v2[:, dc:] + d2, out=best[:, :-dc])
    out = np.sqrt(best)
    out[out > maxdist] = np.inf
    return out


_DIRS = [(-1, 0), (1, 0), (0, -1), (0, 1), (-1, -1), (-1, 1), (1, -1), (1, 1)]


def fill_kernel(grid: np.ndarray, nodata: int, maxdist: float, smoothing: int = 0,
                exists: np.ndarray | None = None) -> np.ndarray:
    """Directional IDW fill (rasterfill.cpp analog): for each nodata cell,
    the nearest valid value along each of 8 directions within ``maxdist``
    contributes with weight 1/d; unreachable cells stay nodata.  Then
    ``smoothing`` passes of 3×3 mean over the *filled* cells only.

    ``exists`` marks cells that are part of the raster (False = beyond the
    raster edge, e.g. composite padding): they are never sources, never
    filled, and never counted as smoothing neighbors — so a tiled run and a
    whole-raster run agree exactly at raster boundaries."""
    H, W = grid.shape
    if exists is None:
        exists = np.ones((H, W), dtype=bool)
    valid = (grid != nodata) & exists
    wsum = np.zeros((H, W))
    vsum = np.zeros((H, W))
    m = int(np.floor(maxdist))
    for dr, dc in _DIRS:
        step = np.hypot(dr, dc)
        # nearest valid value + distance along (-dr,-dc) looking direction,
        # propagated iteratively: value/dist arrays shifted one step at a time
        val = np.where(valid, grid.astype(np.float64), np.nan)
        dist = np.where(valid, 0.0, np.inf)
        cur_v = np.full((H, W), np.nan)
        cur_d = np.full((H, W), np.inf)
        for k in range(1, int(np.ceil(m / step)) + 1):
            # shift source arrays by k steps of (dr,dc)
            sv = np.full((H, W), np.nan)
            sd = np.full((H, W), np.inf)
            r0, r1 = max(dr * k, 0), min(H + dr * k, H)
            c0, c1 = max(dc * k, 0), min(W + dc * k, W)
            sv[r0:r1, c0:c1] = val[r0 - dr * k : r1 - dr * k, c0 - dc * k : c1 - dc * k]
            sd[r0:r1, c0:c1] = dist[r0 - dr * k : r1 - dr * k, c0 - dc * k : c1 - dc * k] + k * step
            take = (sd < cur_d) & ~np.isnan(sv)
            cur_v[take] = sv[take]
            cur_d[take] = sd[take]
            if not np.isinf(cur_d[~valid]).any():
                break
        reach = (~valid) & (cur_d <= maxdist) & ~np.isnan(cur_v)
        w = np.zeros((H, W))
        w[reach] = 1.0 / cur_d[reach]
        wsum += w
        vsum += np.where(reach, cur_v, 0.0) * w
    out = grid.astype(np.float64).copy()
    fillable = (~valid) & exists & (wsum > 0)
    out[fillable] = vsum[fillable] / wsum[fillable]
    filled = out.copy()
    for _ in range(smoothing):
        # 3×3 mean over non-nodata cells, applied to filled cells only
        # (GDALFillNodata smoothing touches only the interpolated region)
        acc = np.zeros((H, W))
        cnt = np.zeros((H, W))
        ok = (filled != nodata) & exists
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                sh = np.full((H, W), np.nan)
                r0, r1 = max(dr, 0), min(H + dr, H)
                c0, c1 = max(dc, 0), min(W + dc, W)
                sh[r0:r1, c0:c1] = np.where(ok, filled, np.nan)[r0 - dr : r1 - dr, c0 - dc : c1 - dc]
                hit = ~np.isnan(sh)
                acc[hit] += sh[hit]
                cnt[hit] += 1.0
        smoothed = np.where(cnt > 0, acc / np.maximum(cnt, 1), filled)
        filled = np.where(fillable, smoothed, filled)
    return filled


# ---------------------------------------------------------------------------
# distributed operators
# ---------------------------------------------------------------------------


def _centre_apply(tile_df: DataFrame, fn, halo: int) -> DataFrame:
    """``fn(composite, exists)`` over every tile's halo composite
    (:func:`engine.focal.halo_apply`) → (tx, ty, data) with the centre T×T
    window as float64 pixels."""
    T, h = TILE_SIZE, int(halo)

    def _apply(key, comp: np.ndarray, exists: np.ndarray) -> pd.DataFrame:
        out = fn(comp, exists)[h : h + T, h : h + T]
        return pd.DataFrame({"tx": [key[-2]], "ty": [key[-1]], "data": [out.astype("<f8").tobytes()]})

    return halo_apply(tile_df, h, _apply, "tx long, ty long, data binary")


def proximity(tile_df: DataFrame, target_values: tuple, maxdist: float, nodata: float = -1.0) -> DataFrame:
    """GDALComputeProximity analog: per-pixel exact euclidean distance (in
    pixels) to the nearest pixel whose value ∈ target_values, bounded by
    ``maxdist``; beyond it → ``nodata``.  Output tiles carry float64 pixel
    data.  The halo gather spans ceil(maxdist/T) tile rings; the practical
    cap keeps composite memory bounded."""
    if maxdist > 4 * TILE_SIZE:
        raise ValueError("maxdist > 4*TILE_SIZE: composite would exceed 9x9 tiles")
    tv = tuple(target_values)

    def _fn(comp: np.ndarray, exists: np.ndarray) -> np.ndarray:
        d = edt(np.isin(comp, tv) & exists, maxdist)
        d[np.isinf(d)] = nodata
        return d

    return _centre_apply(tile_df, _fn, int(np.ceil(maxdist)))


def fill_nodata(tile_df: DataFrame, nodata: int, maxdist: float, smoothing: int = 0) -> DataFrame:
    """GDALFillNodata analog over the tile table (float64 output)."""
    if int(np.ceil(maxdist)) + smoothing > 4 * TILE_SIZE:
        raise ValueError("halo > 4*TILE_SIZE: composite would exceed 9x9 tiles")

    def _fn(comp: np.ndarray, exists: np.ndarray) -> np.ndarray:
        return fill_kernel(comp, nodata, maxdist, smoothing, exists=exists)

    return _centre_apply(tile_df, _fn, int(np.ceil(maxdist)) + smoothing)
