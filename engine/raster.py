"""Raster/tiling operators: burns, pyramid reduce, GDAL checksum.

Re-expresses the gdal_rasterize / gdal2tiles / gdaladdo family
(SURVEY.md §2.9) as DataFrame dataflow over a tile table
``(zoom:int, tx:long, ty:long, data:binary)`` — the MBTiles layout GDAL
itself uses as a driver (frmts/mbtiles/mbtilesdataset.cpp:180-181).
``data`` is a little-endian int32 256×256 grid, row 0 = top of the tile
(raster convention; TMS ty axis points up, gdal2tiles.py:254-258).

Every producer runs one burn skeleton, as gdal_rasterize feeds every
geometry kind through the same burn callbacks (gvBurnPoint /
gvBurnScanline, alg/gdalrasterize.cpp):

* points: :func:`_pixels` encodes (tile, in-tile pixel);
  :func:`_density_batch` turns one Arrow batch into ``(tx, ty, ix, iy,
  cnt)`` partial counts; :func:`_assemble_density` sums them per pixel
  and scatters each tile, on one hash exchange on (tx, ty).  The
  shuffle carries at most 65536 rows per tile no matter how many input
  rows: the engine's answer to the reference's Y-chunked burn loop
  (alg/gdalrasterize.cpp:626-660).
* geometries: :func:`_tile_cover` explodes each bbox to the world tiles
  it covers by the cell operators' one window rule
  (:func:`joins._window_tiles`); :func:`_burn_tiles` burns each covered
  tile in one grouped-map task and drops a tile that burned nothing;
  :func:`_pixel_centres` and :func:`_centre_fill` are the centre rule,
  :func:`_walk_burn` the line and ALL_TOUCHED ring walks.

Producers:

* :func:`burn_base_tiles` — MERGE_ALG=ADD point burn
  (alg/gdalrasterize.cpp:485-498): each point adds 1 to its pixel.
* :func:`burn_base_tiles_pip` — the same, each point counted once per
  polygon that contains it.
* :func:`burn_points` — point burn with values, Z and replace/add.
* :func:`rasterize_polygons`, :func:`rasterize_invert`,
  :func:`rasterize_lines` — polygon, inverted-polygon and line burns.
* :func:`with_pixel` — the per-row pixel encoder for callers that keep
  attributes.
* :func:`pyramid_reduce` — one 4:1 AVERAGE level
  (gcore/overview.cpp:1582-1590 AVERAGE; child mosaic gdal2tiles.py:1369-1387).
  Integer average = floor(sum/4 + 0.5) (round half up).
* :func:`gdal_checksum` / :func:`tile_checksums` — the 16-bit rolling
  prime-modulo checksum (alg/gdalchecksum.cpp:57-171), the golden-output
  function for all tile parity tests.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import geom, tiles
from .joins import _append_lonlat_columns, _broadcast_index, _explode_windows, _finite, _window_tiles

TILE_SIZE = tiles.TILE_SIZE
_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
# GDALChecksumImage's prime for each pixel of a tile, in raster order
_TILE_PRIMES = np.resize(_PRIMES, TILE_SIZE * TILE_SIZE).astype(np.int32)

TILE_SCHEMA = StructType(
    [
        StructField("zoom", IntegerType()),
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("data", BinaryType()),
    ]
)

# (tile, in-tile pixel, count) rows: the point burns' partial counts
_PARTIAL_SCHEMA = StructType(
    [
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("ix", IntegerType()),
        StructField("iy", IntegerType()),
        StructField("cnt", LongType()),
    ]
)


def tile_to_bytes(grid: np.ndarray) -> bytes:
    return np.ascontiguousarray(grid, dtype="<i4").tobytes()


def bytes_to_tile(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<i4").reshape(TILE_SIZE, TILE_SIZE)


def gdal_checksum(grid: np.ndarray) -> int:
    """Vectorized GDALChecksumImage, integer path (alg/gdalchecksum.cpp:146-165).

    C ``%`` truncates toward zero → ``np.fmod``; the running ``&= 0xffff``
    commutes with addition mod 2^16, so one masked sum is exact.
    """
    flat = np.asarray(grid, dtype=np.int64).ravel()
    return int(np.fmod(flat, _primes(flat.shape[0])).sum()) & 0xFFFF


def gdal_checksum_float(grid: np.ndarray) -> int:
    """Float path (alg/gdalchecksum.cpp:97-127): +0.5, clamp ±2147483647,
    floor, NaN/Inf → int(0x80000000) = -2147483648."""
    flat = np.asarray(grid, dtype=np.float64).ravel()
    bad = ~np.isfinite(flat)
    v = flat + 0.5
    nval = np.empty(flat.shape, dtype=np.int64)
    nval[~bad] = np.floor(np.clip(v[~bad], -2147483647.0, 2147483647.0)).astype(np.int64)
    nval[bad] = -2147483648
    return int(np.fmod(nval, _primes(flat.shape[0])).sum()) & 0xFFFF


def _primes(n: int) -> np.ndarray:
    """The checksum's prime for each of ``n`` pixels in raster order."""
    return _TILE_PRIMES[:n] if n <= _TILE_PRIMES.size else np.resize(_PRIMES, n)


def tile_stats(buf) -> tuple:
    """(GDAL checksum, pixel sum) of one encoded tile, decoded once."""
    px = np.frombuffer(buf, dtype="<i4")
    return int(np.fmod(px, _primes(px.size)).sum()) & 0xFFFF, int(px.sum())


def _tile_frame(zoom: int, tx, ty, grid: np.ndarray) -> pd.DataFrame:
    """One tile table row holding ``grid``."""
    return pd.DataFrame({"zoom": [np.int32(zoom)], "tx": [tx], "ty": [ty], "data": [tile_to_bytes(grid)]})


def _pixels(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """(tx, ty, ix, iy) int64 of each point: tile + in-tile pixel.

    Pixel index = floor(global px) − tx·256, clamped to [0,255] (points on a
    tile's max edge burn into its last pixel, matching the oracle and the
    inverse-geotransform floor of apps/gdallocationinfo.cpp:379-384);
    iy is flipped to raster (top-origin) rows.
    """
    px, py = tiles.lonlat_to_pixels(lon, lat, zoom)
    tx, ty = tiles.pixels_to_tile(px, py)
    ix = np.clip(np.floor(px).astype(np.int64) - tx * TILE_SIZE, 0, TILE_SIZE - 1)
    iy = TILE_SIZE - 1 - np.clip(np.floor(py).astype(np.int64) - ty * TILE_SIZE, 0, TILE_SIZE - 1)
    return tx, ty, ix, iy


def _pixel_arrays(tx, ty, ix, iy) -> list:
    """(tx, ty, ix, iy) as Arrow arrays of :data:`_PARTIAL_SCHEMA`'s types."""
    import pyarrow as pa

    return [
        pa.array(tx, type=pa.int64()),
        pa.array(ty, type=pa.int64()),
        pa.array(ix.astype(np.int32), type=pa.int32()),
        pa.array(iy.astype(np.int32), type=pa.int32()),
    ]


def with_pixel(points: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append (tx, ty, ix, iy): tile + in-tile pixel (raster row from top),
    encoded by :func:`_pixels`; all four null for a NaN, infinite or null
    coordinate."""

    def encode(lon, lat):
        return _pixel_arrays(*_pixels(lon, lat, zoom))

    return _append_lonlat_columns(points, lon_col, lat_col, _PARTIAL_SCHEMA.fields[:4], _finite(encode))


def _density_batch(lon: np.ndarray, lat: np.ndarray, zoom: int) -> "pa.RecordBatch":
    """Points → their (tx, ty, ix, iy, cnt) partial counts: one ``np.unique``
    over the pixel key packed into an int64 (tx, ty < 2^20 and ix, iy < 2^9,
    so zoom ≤ 20).  A point with a NaN, infinite or null coordinate burns
    nowhere: its tile would pack into another tile's key."""
    import pyarrow as pa

    ok = np.isfinite(lon) & np.isfinite(lat)
    tx, ty, ix, iy = _pixels(lon[ok], lat[ok], zoom)
    uk, cnt = np.unique((tx << 38) | (ty << 18) | (ix << 9) | iy, return_counts=True)
    return pa.RecordBatch.from_arrays(
        _pixel_arrays(uk >> 38, (uk >> 18) & 0xFFFFF, (uk >> 9) & 0x1FF, uk & 0x1FF)
        + [pa.array(cnt.astype(np.int64), type=pa.int64())],
        names=_PARTIAL_SCHEMA.names,
    )


def _burn_density(points: DataFrame, zoom: int, lon_col: str, lat_col: str, index=None) -> DataFrame:
    """Points → density tile table: one Arrow pass over (lon, lat) that
    partially counts each batch (:func:`_density_batch`), then
    :func:`_assemble_density`.  With ``index`` (a callable that gives a
    worker its :class:`geom.VectorPIPIndex`), each point counts once per
    polygon that contains it."""

    def _kern(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        pip = index() if index is not None else None
        for batch in batches:
            lon = batch.column(0).to_numpy(zero_copy_only=False)
            lat = batch.column(1).to_numpy(zero_copy_only=False)
            if pip is not None:
                idx, _ = pip.query(lon, lat)
                lon, lat = lon[idx], lat[idx]
            if lon.shape[0]:
                yield _density_batch(lon, lat, zoom)

    return _assemble_density(points.select(lon_col, lat_col).mapInArrow(_kern, _PARTIAL_SCHEMA), zoom)


def burn_base_tiles(points: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Points → base-zoom density tile table (MERGE_ALG=ADD).

    Plan: one mapInArrow pass that pixel-encodes AND partially counts each
    batch below the Arrow boundary (per-batch ``np.unique`` over a packed
    (tx,ty,ix,iy) int64 key — the map-side combine the JVM hash aggregate
    would do anyway, moved to where it shrinks the IPC stream itself) →
    :func:`_assemble_density`.  Tiles equal those of :func:`with_pixel` →
    per-pixel count → :func:`_assemble_density` (pinned by the
    composed-vs-fused identity test); above zoom 20, where the packed key
    does not fit, that composed plan is what runs.  Both drop a point with
    a NaN, infinite or null coordinate.
    """
    if not 0 <= zoom <= 20:
        # packed-key width: tx,ty < 2^20, ix,iy < 2^9
        partial = (
            with_pixel(points.select(lon_col, lat_col), zoom, lon_col, lat_col)
            .where(F.col("tx").isNotNull())
            .select("tx", "ty", "ix", "iy", F.lit(1).cast("long").alias("cnt"))
        )
        return _assemble_density(partial, zoom)
    return _burn_density(points, zoom, lon_col, lat_col)


def _assemble_density(partial: DataFrame, zoom: int) -> DataFrame:
    """(tx, ty, ix, iy, cnt) partial counts → tile table: sum each pixel's
    counts, then scatter each tile's ≤65536 pixel counts into the 256×256
    grid (one grouped-map task per tile).  The partials are hash-partitioned
    on (tx, ty) before the per-pixel sum, so the sum and the grouped
    assembly both run on that one exchange.  Every assembled tile is kept,
    also one whose counts sum to 0."""

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.int64)
        np.add.at(grid, (pdf["iy"].to_numpy(), pdf["ix"].to_numpy()), pdf["cnt"].to_numpy())
        return _tile_frame(zoom, pdf["tx"].iat[0], pdf["ty"].iat[0], grid)

    nparts = partial.sparkSession.sparkContext.defaultParallelism
    counts = partial.repartition(nparts, "tx", "ty").groupBy("tx", "ty", "ix", "iy").agg(F.sum("cnt").alias("cnt"))
    return counts.groupBy("tx", "ty").applyInPandas(_assemble, TILE_SCHEMA)


def burn_base_tiles_pip(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    zoom: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Fused PIP-filter → pixel-encode → partial-count → density tile table.

    Result-identical to
    ``burn_base_tiles(joins.pip_join_broadcast(pts, polys, keep_cols=()), zoom)``
    — each point contributes one count per matching polygon (overlaps →
    multiple) — but the whole per-point path runs in ONE Arrow pass:

    - one python boundary instead of two (the composed plan chains two
      mapInArrow stages, so every task runs TWO python workers and every
      point crosses JVM→py→JVM→py→JVM; fused, half the IPC and half the
      concurrent worker processes), and
    - per-batch ``np.unique`` partial aggregation, so a 262144-point batch
      ships only its distinct-pixel rows — the map-side combine the JVM hash
      aggregate would do anyway, moved BELOW the Arrow boundary where it
      shrinks the IPC stream itself (clustered web-corpus input: ~10-50×
      fewer rows across the boundary, measured).

    The polygons are broadcast and indexed as by
    :func:`joins.pip_join_broadcast` (one index per worker).  The composed
    operators remain the general API (arbitrary keep_cols / merge algs);
    this is the count-density fast path the flagship pipeline uses.  Pixel
    semantics are :func:`_pixels`'s (floor, edge clamp, top-origin row
    flip).
    """
    if not 0 <= zoom <= 20:
        raise ValueError("burn_base_tiles_pip supports zoom 0..20 (packed-key width)")
    return _burn_density(points, zoom, lon_col, lat_col, _broadcast_index(points.sparkSession, polygons_pdf))


def burn_points(
    points: DataFrame,
    zoom: int,
    value_col: str | None = None,
    merge_alg: str = "add",
    id_col: str | None = None,
    z_col: str | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """gdal_rasterize for POINT layers with the full option surface
    (GDALdllImagePoint, alg/llrasterize.cpp:251-271 + gvBurnPoint):
    per-point burn value = ``value_col`` (default 1) plus ``z_col`` when
    given (BURN_VALUE_FROM=Z for points takes the point's own Z,
    gdalrasterize.cpp:196-209), truncated to int like the reference's
    integer-buffer cast.  ``merge_alg='add'`` sums co-located burns;
    ``'replace'`` keeps the LAST feature in ``id_col`` order (the
    reference's feature-order overwrite — ``id_col`` required since a
    distributed scan has no implicit order).

    Entirely declarative: pixel-encode → ONE JVM hash aggregate
    (sum / max_by) with map-side combine → :func:`_assemble_density`
    (after ``max_by`` a pixel has one row, so its sum is that value) —
    no per-point Python beyond the shared vectorized pixel encoder.
    A point with a NaN, infinite or null coordinate burns nowhere.
    :func:`burn_base_tiles` remains the count fast path.
    """
    if merge_alg not in ("replace", "add"):
        raise ValueError("merge_alg must be 'replace' or 'add'")
    if merge_alg == "replace" and id_col is None:
        raise ValueError("merge_alg='replace' needs id_col (feature burn order)")
    val = F.col(value_col).cast("double") if value_col else F.lit(1.0)
    if z_col is not None:
        val = val + F.col(z_col).cast("double")
    burn = val.cast("long")  # int-buffer truncation, like the Byte path
    cols = [lon_col, lat_col] + [c for c in (id_col, value_col, z_col) if c]
    px = with_pixel(points.select(*cols), zoom, lon_col, lat_col).where(F.col("tx").isNotNull())
    merged = F.sum(burn) if merge_alg == "add" else F.max_by(burn, F.col(id_col))
    return _assemble_density(px.groupBy("tx", "ty", "ix", "iy").agg(merged.alias("cnt")), zoom)


def _tile_cover(df: DataFrame, wkb_col: str, zoom: int, pad: int) -> DataFrame:
    """``df`` plus (tx, ty): one row per world tile at ``zoom`` of the
    bbox of ``wkb_col`` grown by ``pad`` tiles (:func:`joins._window_tiles`,
    one Arrow pass), so a geometry ships to exactly the tiles it can
    touch."""
    import pyarrow as pa

    i = df.columns.index(wkb_col)

    def windows(batch):
        env = np.array([geom.envelope(b) for b in batch.column(i).to_pylist()], dtype=np.float64).reshape(-1, 4)
        _, (row, tx, ty) = _window_tiles(*env.T, zoom, pad)
        return row, [pa.array(tx, type=pa.int64()), pa.array(ty, type=pa.int64())]

    fields = [StructField("tx", LongType()), StructField("ty", LongType())]
    return _explode_windows(df, len(df.columns), fields, windows)


def _burn_tiles(cover: DataFrame, zoom: int, burn) -> DataFrame:
    """One grouped-map task per (tx, ty) of ``cover`` (:func:`_tile_cover`):
    ``burn(tx, ty, pdf)`` returns the tile's int64 grid.  A tile whose grid
    burned nothing gives no row: the cover reached it, the geometry did
    not."""

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iat[0]), int(pdf["ty"].iat[0])
        grid = burn(tx, ty, pdf)
        if not grid.any():
            return pd.DataFrame(columns=TILE_SCHEMA.names)
        return _tile_frame(zoom, tx, ty, grid)

    nparts = cover.sparkSession.sparkContext.defaultParallelism
    return cover.repartition(nparts, "tx", "ty").groupBy("tx", "ty").applyInPandas(_tile, TILE_SCHEMA)


def _pixel_centres(tx: int, ty: int, zoom: int):
    """(lon of each pixel column, lat of each pixel row) of the pixel
    centres of tile (tx, ty); row 0 = top."""
    k = np.arange(TILE_SIZE) + 0.5
    mx, my = tiles.pixels_to_meters(tx * TILE_SIZE + k, (ty + 1) * TILE_SIZE - k, zoom)
    return tiles.meters_to_lonlat(mx, my)


def _centre_fill(grid: np.ndarray, lon, lat, table, slot: int, v: int, add: bool) -> None:
    """Centre rule (gdal_rasterize's default): every pixel of ``grid``
    whose centre (``lon`` per column, ``lat`` per row) polygon ``slot`` of
    the :class:`geom.EdgeTable` contains takes ``v`` (``add``: gains ``v``).
    Only the centres inside the polygon's bbox are tested."""
    ci = np.nonzero((lon >= table.minx[slot]) & (lon <= table.maxx[slot]))[0]
    ri = np.nonzero((lat >= table.miny[slot]) & (lat <= table.maxy[slot]))[0]
    if ci.size and ri.size:
        lg, tg = np.meshgrid(lon[ci], lat[ri])
        inside = table.contains(np.full(lg.size, slot), lg.ravel(), tg.ravel()).reshape(ri.size, ci.size)
        sub = grid[np.ix_(ri, ci)]
        grid[np.ix_(ri, ci)] = np.where(inside, sub + v if add else v, sub)


def rasterize_polygons(
    polys: DataFrame,
    zoom: int,
    value_col: str | None = None,
    merge_alg: str = "replace",
    id_col: str | None = None,
    wkb_col: str = "geom_wkb",
    all_touched: bool = False,
    burn_value_from_z: bool = False,
) -> DataFrame:
    """gdal_rasterize polygon burn (alg/gdalrasterize.cpp): every mercator
    pixel whose CENTER falls inside a polygon takes its burn value (the
    default center rule).  Features burn in feature-id order — on overlap
    the LAST feature wins (``replace``, the reference default) or values
    sum (``add``, MERGE_ALG=ADD).

    ``all_touched=True`` (ALL_TOUCHED, alg/gdalrasterize.cpp:411-447):
    after the center-rule fill, every ring of the polygon — exterior AND
    holes — is walked with GDALdllImageLineAllTouched so each boundary-
    touched pixel burns too; per the reference, boundary burns apply per
    visit ON TOP of the fill (in ``add`` mode a boundary pixel counts the
    fill plus each walk visit).

    ``burn_value_from_z=True`` (BURN_VALUE_FROM=Z, :466-481): burn value =
    ``value + z`` where z is the FIRST collected vertex's Z for the whole
    polygon — both the scanline fill (llrasterize.cpp:209 uses
    dfVariant[0]) and the ALL_TOUCHED boundary (the :421-434 variant
    revert) use that single value; truncated to int like the reference's
    integer-buffer cast.  2D WKB burns z = 0.

    Input: (id, geom_wkb[, value]); burn value = ``value_col`` or 1.
    Output: (zoom, tx, ty, data) tile table at ``zoom``.

    Plan (scales like warp): :func:`_tile_cover` (padded by one tile when
    ALL_TOUCHED, since a boundary coordinate exactly on a tile edge floors
    into the neighbor) → :func:`_burn_tiles`: per tile, one
    :class:`geom.EdgeTable` of its polygons and a PIP test of the
    pixel-center subgrid of each polygon's bbox, all vectorized numpy.  No
    driver geometry, no per-pixel Python in the fill.
    """
    if merge_alg not in ("replace", "add"):
        raise ValueError("merge_alg must be 'replace' or 'add'")
    pid = id_col or polys.columns[0]
    val = F.col(value_col).cast("long") if value_col else F.lit(1).cast("long")
    src = polys.select(
        F.col(pid).cast("long").alias("_pid"), val.alias("_val"), F.col(wkb_col).alias("_wkb")
    )
    add_mode = merge_alg == "add"

    def _burn(tx: int, ty: int, pdf: pd.DataFrame) -> np.ndarray:
        lon, lat = _pixel_centres(tx, ty, zoom)
        wkbs = [bytes(b) for b in pdf["_wkb"]]
        table = geom.EdgeTable(wkbs)
        grid = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.int64)
        for i in np.argsort(pdf["_pid"].to_numpy(), kind="stable"):
            v = int(pdf["_val"].iat[i])
            rings = None
            if all_touched or burn_value_from_z:
                _, rings = geom.collect_parts_z(wkbs[i])
            if burn_value_from_z and rings:
                # the whole polygon burns value + FIRST vertex Z: the
                # scanline fill uses dfVariant[0] (llrasterize.cpp:209,240)
                # and the ALL_TOUCHED pass reverts every variant to
                # aPointVariant[0] (gdalrasterize.cpp:421-447)
                v = int(v + rings[0][0, 2])
            _centre_fill(grid, lon, lat, table, i, v, add_mode)
            if all_touched and rings:
                # every ring (exterior and holes) walks all-touched, burning
                # per visit on top of the fill — the reference's order
                _walk_burn(grid, rings, v, tx, ty, zoom, True, False, add_mode)
        return grid

    return _burn_tiles(_tile_cover(src, "_wkb", zoom, 1 if all_touched else 0), zoom, _burn)


def _all_touched_segment(x0, y0, x1, y1, v0, v1, nx, ny, use_z):
    """Every pixel touched by the segment, with linearly interpolated
    variant — transcription of GDALdllImageLineAllTouched
    (alg/llrasterize.cpp:388-606): off-region skip, left-to-right swap,
    vertical / horizontal inclusive floor runs, then the boundary-crossing
    float walk with the reference's 1e-9 step guards.  Coordinates are
    continuous global pixels; yields (ix, iy, variant)."""
    import math

    if (y0 < 0 and y1 < 0) or (y0 > ny and y1 > ny) \
            or (x0 < 0 and x1 < 0) or (x0 > nx and x1 > nx):
        return
    if not use_z:
        v0 = v1 = 0.0
    if x0 > x1:
        x0, x1, y0, y1, v0, v1 = x1, x0, y1, y0, v1, v0
    if math.floor(x0) == math.floor(x1):  # vertical
        if y1 < y0:
            y0, y1, v0, v1 = y1, y0, v1, v0
        ix = int(math.floor(x0))
        iy = int(math.floor(y0))
        iy_end = int(math.floor(y1))
        if ix >= nx:
            return
        dvar = (v1 - v0) / (y1 - y0) if (y1 - y0) > 0 else 0.0
        if iy < 0:
            iy = 0
        if iy_end >= ny:
            iy_end = ny - 1
        v = v0 + dvar * (iy - y0)
        while iy <= iy_end:
            if ix >= 0:
                yield ix, iy, v
            iy += 1
            v += dvar
        return
    dvar = (v1 - v0) / (x1 - x0)
    if math.floor(y0) == math.floor(y1):  # horizontal (x already increasing)
        ix = int(math.floor(x0))
        iy = int(math.floor(y0))
        ix_end = int(math.floor(x1))
        if iy >= ny or iy < 0:
            return
        if ix < 0:
            ix = 0
        if ix_end >= nx:
            ix_end = nx - 1
        v = v0 + dvar * (ix - x0)
        while ix <= ix_end:
            yield ix, iy, v
            ix += 1
            v += dvar
        return
    # general left-to-right sloped case.  NOTE: the y-overflow clips below
    # transcribe the reference's own arithmetic VERBATIM, including its
    # x1 += (y1-ny)/slope overshoot for rising segments (llrasterize.cpp:539
    # moves the endpoint the wrong way) — harmless because every overshoot
    # pixel fails the bounds guard, exactly as in the reference
    slope = (y1 - y0) / (x1 - x0)
    if x1 > nx:
        y1 -= (x1 - nx) * slope
        x1 = float(nx)
    if x0 < 0:
        y0 += (0 - x0) * slope
        v0 += dvar * (0.0 - x0)
        x0 = 0.0
    if y1 > y0:
        if y0 < 0:
            dx = (0 - y0) / slope
            x0 += dx
            v0 += dvar * dx
            y0 = 0.0
        if y1 >= ny:
            x1 += (y1 - ny) / slope
            y1 = float(ny)
    else:
        if y0 >= ny:
            dx = (ny - y0) / slope
            x0 += dx
            v0 += dvar * dx
            y0 = float(ny)
        if y1 < 0:
            x1 -= (y1 - 0) / slope
            y1 = 0.0
    x, y, v = x0, y0, v0
    while x < x1:
        ix = int(math.floor(x))
        iy = int(math.floor(y))
        if 0 <= iy < ny and 0 <= ix < nx:
            yield ix, iy, v
        step_x = math.floor(x + 1.0) - x
        step_y = step_x * slope
        if int(math.floor(y + step_y)) == iy:
            x += step_x
            y += step_y
            v += dvar * step_x
        elif slope < 0:
            step_y = iy - y
            if step_y > -1e-9:
                step_y = -1e-9
            step_x = step_y / slope
            x += step_x
            y += step_y
            v += dvar * step_x
        else:
            step_y = (iy + 1) - y
            if step_y < 1e-9:
                step_y = 1e-9
            step_x = step_y / slope
            x += step_x
            y += step_y
            v += dvar * step_x



def rasterize_invert(
    polys: DataFrame,
    zoom: int,
    extent: tuple,
    value_col: str | None = None,
    merge_alg: str = "replace",
    wkb_col: str = "geom_wkb",
) -> DataFrame:
    """gdal_rasterize ``-i`` (apps/gdal_rasterize.cpp InvertGeometries:75-135):
    burn the COMPLEMENT — one "universe" ring two pixels beyond the dataset
    extent is prepended and every input polygon's rings become additional
    rings of one combined geometry, so the even-odd fill covers exactly the
    extent MINUS the inputs (with the reference's even-odd quirks: a hole
    re-burns, a 2-polygon overlap re-burns).

    ``extent`` = (minlon, minlat, maxlon, maxlat) of the dataset (the
    reference derives it from the destination raster, which this tile-table
    engine has no implicit notion of).  A constant burn value (``value_col``
    is read from the FIRST feature, else 1) matches the reference's
    single-collection burn.

    DISTRIBUTED even-odd (no driver geometry): the reference builds the
    combined ring collection in memory on one machine; here each input
    polygon is exploded into its rings executor-side and every ring ships
    ONLY to the mercator tiles its bbox covers.  This is exact because
    even-odd parity is additive per ring and a closed ring contributes even
    parity (i.e. nothing) to any point outside its own bbox — so per tile,
    parity over {universe ring} ∪ {bbox-intersecting rings} equals parity
    over the full collection, pixel for pixel (the same
    :class:`geom.EdgeTable` centre fill as the forward burn).
    """
    if merge_alg not in ("replace", "add"):
        raise ValueError("merge_alg must be 'replace' or 'add'")
    spark = polys.sparkSession
    minlon, minlat, maxlon, maxlat = (float(v) for v in extent)
    # two pixels beyond the extent, like the -2/+2 geotransform offsets
    px0, py0 = tiles.lonlat_to_pixels(np.array([minlon]), np.array([minlat]), zoom)
    px1, py1 = tiles.lonlat_to_pixels(np.array([maxlon]), np.array([maxlat]), zoom)
    lo0, la0 = tiles.meters_to_lonlat(*tiles.pixels_to_meters(px0 - 2.0, py0 - 2.0, zoom))
    lo1, la1 = tiles.meters_to_lonlat(*tiles.pixels_to_meters(px1 + 2.0, py1 + 2.0, zoom))
    universe = [
        (float(lo0[0]), float(la0[0])), (float(lo1[0]), float(la0[0])),
        (float(lo1[0]), float(la1[0])), (float(lo0[0]), float(la1[0])),
    ]
    universe_wkb = geom.wkb_polygon([universe])
    if value_col:
        first = polys.select(value_col).limit(1).collect()  # ONE row: burn constant
        v = int(first[0][0]) if first else 1
    else:
        v = 1

    @F.pandas_udf("array<binary>")
    def _rings_udf(wkb: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [geom.wkb_polygon([rg.tolist()]) for rg in geom.polygon_rings(bytes(b))]
                for b in wkb
            ]
        )

    rings = polys.select(F.explode(_rings_udf(F.col(wkb_col))).alias("_rwkb"))
    allr = rings.unionByName(spark.createDataFrame(pd.DataFrame({"_rwkb": [universe_wkb]})))

    def _burn(tx: int, ty: int, pdf: pd.DataFrame) -> np.ndarray:
        combined = []
        for b in pdf["_rwkb"]:
            combined.extend(rg.tolist() for rg in geom.polygon_rings(bytes(b)))
        grid = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.int64)
        table = geom.EdgeTable([geom.wkb_polygon(combined)])
        _centre_fill(grid, *_pixel_centres(tx, ty, zoom), table, 0, v, False)
        return grid

    return _burn_tiles(_tile_cover(allr, "_rwkb", zoom, 0), zoom, _burn)


def _bresenham(ix0: int, iy0: int, ix1: int, iy1: int):
    """Integer Bresenham pixel walk between endpoint pixels — the
    reference's line burner (alg/llrasterize.cpp GDALdllImageLine).
    Yields (ix, iy) inclusive of both endpoints."""
    dx = abs(ix1 - ix0)
    dy = abs(iy1 - iy0)
    sx = 1 if ix0 < ix1 else -1
    sy = 1 if iy0 < iy1 else -1
    err = dx - dy
    x, y = ix0, iy0
    while True:
        yield x, y
        if x == ix1 and y == iy1:
            return
        e2 = 2 * err
        if e2 > -dy:
            err -= dy
            x += sx
        if e2 < dx:
            err += dx
            y += sy


def _walk_burn(grid: np.ndarray, parts: list, v: int, tx: int, ty: int, zoom: int,
               all_touched: bool, use_z: bool, add: bool) -> None:
    """Burn the segments of one feature's ``parts`` ((N, 3) lon/lat/z
    vertex runs) into ``grid``, tile (tx, ty).  ``all_touched``: the
    ALL_TOUCHED walk, burning per visit like gvBurnPoint; else the
    Bresenham chain, each pixel once per feature (first visit wins).
    ``use_z``: the burn value is ``v`` plus the Z interpolated along the
    segment (BURN_VALUE_FROM=Z).  The walk runs in global pixels and
    keeps only this tile's."""
    world = TILE_SIZE * (2 ** zoom)
    gx0, gy0 = tx * TILE_SIZE, ty * TILE_SIZE
    gx1, gy1 = gx0 + TILE_SIZE, gy0 + TILE_SIZE
    seen: set = set()
    for pts in parts:
        px, py = tiles.lonlat_to_pixels(pts[:, 0], pts[:, 1], zoom)
        pz = pts[:, 2]
        for s in range(px.shape[0] - 1):
            # skip segments that cannot touch this tile (without it a
            # T-tile geometry walks its whole boundary in EVERY tile)
            if max(px[s], px[s + 1]) < gx0 - 1 or min(px[s], px[s + 1]) > gx1 + 1:
                continue
            if max(py[s], py[s + 1]) < gy0 - 1 or min(py[s], py[s + 1]) > gy1 + 1:
                continue
            if all_touched:
                walk = _all_touched_segment(
                    float(px[s]), float(py[s]), float(px[s + 1]), float(py[s + 1]),
                    float(pz[s]), float(pz[s + 1]), world, world, use_z,
                )
            else:
                # Bresenham chain + the reference's per-major-axis variant
                # interpolation (GDALdllImageLine :299-360) at pixel
                # granularity
                ix0, iy0 = int(np.floor(px[s])), int(np.floor(py[s]))
                ix1, iy1 = int(np.floor(px[s + 1])), int(np.floor(py[s + 1]))
                z0, z1 = float(pz[s]), float(pz[s + 1])
                major_dx, major_dy = ix1 - ix0, iy1 - iy0

                def _w():
                    for cx, cy in _bresenham(ix0, iy0, ix1, iy1):
                        if abs(major_dx) >= abs(major_dy):
                            t = (cx - ix0) / major_dx if major_dx else 0.0
                        else:
                            t = (cy - iy0) / major_dy if major_dy else 0.0
                        yield cx, cy, z0 + (z1 - z0) * t

                walk = _w()
            for cx, cy, var in walk:
                if not (gx0 <= cx < gx1 and gy0 <= cy < gy1):
                    continue
                if not all_touched:
                    if (cx, cy) in seen:
                        continue
                    seen.add((cx, cy))
                bv = int(v + var) if use_z else v
                r = TILE_SIZE - 1 - (cy - gy0)
                c = cx - gx0
                grid[r, c] = grid[r, c] + bv if add else bv


def rasterize_lines(
    lines: DataFrame,
    zoom: int,
    value_col: str | None = None,
    merge_alg: str = "replace",
    id_col: str | None = None,
    wkb_col: str = "geom_wkb",
    all_touched: bool = False,
    burn_value_from_z: bool = False,
) -> DataFrame:
    """gdal_rasterize for line layers: integer Bresenham between the
    endpoint pixels of every segment (alg/llrasterize.cpp
    GDALdllImageLine), features burning in id order with last-wins
    (``replace``) or summing (``add``) overlap semantics.

    ``all_touched=True`` switches to the ALL_TOUCHED walk
    (GDALdllImageLineAllTouched, alg/llrasterize.cpp:388): every pixel the
    continuous segment touches burns, not just the Bresenham chain; burns
    apply per VISIT exactly as the reference's gvBurnPoint does (a vertex
    pixel shared by two segments burns twice in ``add`` mode).  The default
    Bresenham path keeps this engine's documented per-feature pixel dedup.

    ``burn_value_from_z=True`` is BURN_VALUE_FROM=Z
    (alg/gdalrasterize.cpp:466-481): the burn value becomes
    ``value + z`` with z linearly interpolated along each segment from the
    geometry's vertex Z (2.5D WKB; 0 for 2D inputs), truncated to int like
    the reference's integer-buffer cast.

    Seam-exact by construction: each covering tile re-runs the SAME
    global-pixel walk for its candidate segments and keeps only its own
    pixels, so walk state never depends on tile boundaries.  A segment
    ships only to the tiles its bbox covers.
    """
    if merge_alg not in ("replace", "add"):
        raise ValueError("merge_alg must be 'replace' or 'add'")
    pid = id_col or lines.columns[0]
    val = F.col(value_col).cast("long") if value_col else F.lit(1).cast("long")
    src = lines.select(
        F.col(pid).cast("long").alias("_pid"), val.alias("_val"), F.col(wkb_col).alias("_wkb")
    )
    add_mode = merge_alg == "add"

    def _burn(tx: int, ty: int, pdf: pd.DataFrame) -> np.ndarray:
        from . import lineclip as lcmod

        gx0, gx1 = tx * TILE_SIZE, (tx + 1) * TILE_SIZE
        gy0, gy1 = ty * TILE_SIZE, (ty + 1) * TILE_SIZE
        grid = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.int64)
        order = np.argsort(pdf["_pid"].to_numpy(), kind="stable")
        for i in order:
            v = int(pdf["_val"].iat[i])
            if all_touched or burn_value_from_z:
                _, parts = geom.collect_parts_z(bytes(pdf["_wkb"].iat[i]))
                _walk_burn(grid, parts, v, tx, ty, zoom, all_touched, burn_value_from_z, add_mode)
                continue
            # default path: per-feature pixel dedup (documented contract)
            # track burned pixels per FEATURE so 'add' counts a feature
            # once per pixel even when consecutive segments share a vertex
            seen = set()
            for pts in lcmod.line_points(bytes(pdf["_wkb"].iat[i])):
                px, py = tiles.lonlat_to_pixels(pts[:, 0], pts[:, 1], zoom)
                ix = np.floor(px).astype(np.int64)
                iy = np.floor(py).astype(np.int64)
                for s in range(ix.shape[0] - 1):
                    # skip segments that cannot touch this tile
                    if max(ix[s], ix[s + 1]) < gx0 - 1 or min(ix[s], ix[s + 1]) > gx1:
                        continue
                    if max(iy[s], iy[s + 1]) < gy0 - 1 or min(iy[s], iy[s + 1]) > gy1:
                        continue
                    for cx, cy in _bresenham(int(ix[s]), int(iy[s]), int(ix[s + 1]), int(iy[s + 1])):
                        if gx0 <= cx < gx1 and gy0 <= cy < gy1 and (cx, cy) not in seen:
                            seen.add((cx, cy))
                            r = TILE_SIZE - 1 - (cy - gy0)
                            c = cx - gx0
                            grid[r, c] = grid[r, c] + v if add_mode else v
        return grid

    # pad 1: the Bresenham walk indexes pixels by floor(), which maps an
    # exactly-on-boundary coordinate to the NEXT tile while the ceil-1
    # cover rule maps it to the previous one
    return _burn_tiles(_tile_cover(src, "_wkb", zoom, 1), zoom, _burn)


def translate(
    tile_df: DataFrame,
    scale: tuple | None = None,
    out_range: tuple | None = None,
    window_px: tuple | None = None,
    round_half_up: bool = True,
) -> DataFrame:
    """gdal_translate analog (apps/gdal_translate.cpp): optional
    ``-srcwin``-style crop + ``-scale`` linear rescale + ``-ot`` output
    clamp, all per-tile vectorized (no shuffle — a pure map over the tile
    table, exactly the reference's per-block copy loop re-expressed).

    * ``scale`` = (src_min, src_max, dst_min, dst_max): v' = dst_min +
      (v − src_min)·(dst_max−dst_min)/(src_max−src_min) (the -scale
      formula), rounded half-up to int like the Byte/Int paths.
    * ``out_range`` = (lo, hi): clamp after scaling (the -ot Byte
      saturation, gcore round/clamp semantics).
    * ``window_px`` = (gx0, gy0, gx1, gy1) GLOBAL pixel rect (x right,
      y up — TMS): pixels outside become 0 and tiles fully outside are
      dropped (the -srcwin crop on the tile layout).
    """
    if scale is None and out_range is None and window_px is None:
        return tile_df

    def _tr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                tx, ty = int(r.tx), int(r.ty)
                if window_px is not None:
                    gx0, gy0, gx1, gy1 = window_px
                    if (tx + 1) * TILE_SIZE <= gx0 or tx * TILE_SIZE >= gx1:
                        continue
                    if (ty + 1) * TILE_SIZE <= gy0 or ty * TILE_SIZE >= gy1:
                        continue
                g = bytes_to_tile(r.data).astype(np.float64)
                if window_px is not None:
                    cols = tx * TILE_SIZE + np.arange(TILE_SIZE)
                    rows_g = (ty + 1) * TILE_SIZE - 1 - np.arange(TILE_SIZE)  # row 0 = top
                    keep = ((cols >= gx0) & (cols < gx1))[None, :] & (
                        (rows_g >= gy0) & (rows_g < gy1)
                    )[:, None]
                    g = np.where(keep, g, 0.0)
                if scale is not None:
                    s0, s1, d0, d1 = (float(v) for v in scale)
                    g = d0 + (g - s0) * ((d1 - d0) / (s1 - s0))
                if round_half_up:
                    g = np.floor(g + 0.5)
                if out_range is not None:
                    g = np.clip(g, float(out_range[0]), float(out_range[1]))
                rows.append((int(r.zoom), tx, ty, tile_to_bytes(g.astype(np.int64))))
            yield pd.DataFrame(rows, columns=["zoom", "tx", "ty", "data"])

    return tile_df.select("zoom", "tx", "ty", "data").mapInPandas(_tr, TILE_SCHEMA)


def pyramid_reduce(tile_df: DataFrame, method: str = "average") -> DataFrame:
    """Tile table at zoom z → zoom z−1 by 2×2 reduce; ``method`` ∈
    average / nearest / mode / gauss / cubic (gcore/overview.cpp:1582-1590
    resampling set; AVERAGE_MAGPHASE is the complex-band variant —
    :func:`pyramid_reduce_magphase`).

    Each parent mosaics its ≤4 children (missing child = zeros,
    gdal2tiles.py:1369-1387) and downsamples 2×.  AVERAGE:
    floor(sum/4 + 0.5); NEAREST: top-left pixel of each 2×2 block; MODE:
    most frequent of the 4 (ties → smallest value, GDAL's first-bin rule);
    GAUSS: 3×3 [1 2 1;2 4 2;1 2 1]/16 kernel centered on each even pixel
    (edge-clamped), the GRA Gauss overview; CUBIC: separable 4-tap cubic
    convolution (A=−0.5) at the 2×2 block center — taps land at distances
    {1.5, 0.5, 0.5, 1.5} giving fixed weights [−1, 9, 9, −1]/16,
    edge-clamped (GDALResampleChunk32R_Cubic at exact 2:1).  Child
    (cx,cy): cy=1 (higher ty = north) lands in the TOP half of the parent
    raster.
    """
    if method not in ("average", "nearest", "mode", "gauss", "cubic"):
        raise ValueError(f"unknown pyramid method {method!r}")

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        zoom = int(pdf["zoom"].iat[0]) - 1
        big = np.zeros((2 * TILE_SIZE, 2 * TILE_SIZE), dtype=np.int64)
        ptx = int(pdf["tx"].iat[0]) >> 1
        pty = int(pdf["ty"].iat[0]) >> 1
        for r in pdf.itertuples():
            cx, cy = int(r.tx) & 1, int(r.ty) & 1
            r0 = (1 - cy) * TILE_SIZE
            c0 = cx * TILE_SIZE
            big[r0 : r0 + TILE_SIZE, c0 : c0 + TILE_SIZE] = bytes_to_tile(r.data)
        a = big[0::2, 0::2]
        b = big[0::2, 1::2]
        c = big[1::2, 0::2]
        d = big[1::2, 1::2]
        if method == "average":
            out = (a + b + c + d + 2) // 4  # floor(s/4 + 0.5)
        elif method == "nearest":
            out = a
        elif method == "mode":
            # most frequent of 4; ties → smallest value.  Two-step select
            # (max count, then min value among max-count candidates) stays
            # correct for the full int32 value range
            stack = np.stack([a, b, c, d])
            counts = (stack[:, None, :, :] == stack[None, :, :, :]).sum(axis=0)
            maxc = counts.max(axis=0)
            out = np.where(counts == maxc[None, :, :], stack, np.iinfo(np.int64).max).min(axis=0)
        elif method == "gauss":
            pad = np.pad(big, 1, mode="edge").astype(np.float64)
            k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64)
            acc = np.zeros_like(a, dtype=np.float64)
            for dr in range(3):
                for dc in range(3):
                    acc += k[dr, dc] * pad[dr : dr + 2 * TILE_SIZE : 2, dc : dc + 2 * TILE_SIZE : 2]
            out = np.floor(acc / 16.0 + 0.5).astype(np.int64)
        else:  # cubic: separable [-1, 9, 9, -1]/16 over rows then cols
            pad = np.pad(big, ((1, 2), (1, 2)), mode="edge").astype(np.float64)
            w = (-1.0, 9.0, 9.0, -1.0)
            rows = np.zeros((TILE_SIZE, 2 * TILE_SIZE + 3), dtype=np.float64)
            for t in range(4):
                rows += w[t] * pad[t : t + 2 * TILE_SIZE : 2, :]
            acc = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.float64)
            for t in range(4):
                acc += w[t] * rows[:, t : t + 2 * TILE_SIZE : 2]
            out = np.floor(acc / 256.0 + 0.5).astype(np.int64)
        return pd.DataFrame(
            {"zoom": [np.int32(zoom)], "tx": [ptx], "ty": [pty], "data": [tile_to_bytes(out)]}
        )

    nparts = tile_df.sparkSession.sparkContext.defaultParallelism
    return (
        tile_df.repartition(nparts, F.shiftright("tx", 1), F.shiftright("ty", 1))
        .groupBy(F.shiftright("tx", 1), F.shiftright("ty", 1))
        .applyInPandas(_reduce, TILE_SCHEMA)
    )


def pyramid_reduce_magphase(tile_df: DataFrame) -> DataFrame:
    """AVERAGE_MAGPHASE overview for complex bands (gcore/overview.cpp
    GDALResampleChunkC32R): the 2×2 complex average is rescaled so its
    MAGNITUDE equals the average of the four magnitudes (phase from the
    vector average, magnitude from the scalar average).

    Input/output schema: (zoom, tx, ty, data_re, data_im) with the two
    int-band payloads; components round to int via floor(x+0.5) with the
    sign of the value (matching the scalar bands' storage convention)."""

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        zoom = int(pdf["zoom"].iat[0]) - 1
        T = TILE_SIZE
        re = np.zeros((2 * T, 2 * T), dtype=np.float64)
        im = np.zeros((2 * T, 2 * T), dtype=np.float64)
        ptx = int(pdf["tx"].iat[0]) >> 1
        pty = int(pdf["ty"].iat[0]) >> 1
        for r in pdf.itertuples():
            cx, cy = int(r.tx) & 1, int(r.ty) & 1
            r0 = (1 - cy) * T
            c0 = cx * T
            re[r0 : r0 + T, c0 : c0 + T] = bytes_to_tile(r.data_re)
            im[r0 : r0 + T, c0 : c0 + T] = bytes_to_tile(r.data_im)
        quads_re = [re[0::2, 0::2], re[0::2, 1::2], re[1::2, 0::2], re[1::2, 1::2]]
        quads_im = [im[0::2, 0::2], im[0::2, 1::2], im[1::2, 0::2], im[1::2, 1::2]]
        avg_re = sum(quads_re) / 4.0
        avg_im = sum(quads_im) / 4.0
        avg_mag = sum(np.hypot(r_, i_) for r_, i_ in zip(quads_re, quads_im)) / 4.0
        m = np.hypot(avg_re, avg_im)
        ratio = np.where(m > 0, avg_mag / np.where(m > 0, m, 1.0), 0.0)
        out_re = avg_re * ratio
        out_im = avg_im * ratio
        rnd = lambda x: (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
        return pd.DataFrame(
            {
                "zoom": [np.int32(zoom)], "tx": [ptx], "ty": [pty],
                "data_re": [tile_to_bytes(rnd(out_re))],
                "data_im": [tile_to_bytes(rnd(out_im))],
            }
        )

    nparts = tile_df.sparkSession.sparkContext.defaultParallelism
    return (
        tile_df.repartition(nparts, F.shiftright("tx", 1), F.shiftright("ty", 1))
        .groupBy(F.shiftright("tx", 1), F.shiftright("ty", 1))
        .applyInPandas(_reduce, "zoom int, tx long, ty long, data_re binary, data_im binary")
    )


def tile_checksums(tile_df: DataFrame) -> DataFrame:
    """(zoom, tx, ty) → GDAL 16-bit checksum — the golden-output verifier."""
    out_schema = StructType(
        [
            StructField("zoom", IntegerType()),
            StructField("tx", LongType()),
            StructField("ty", LongType()),
            StructField("checksum", IntegerType()),
            StructField("page_count", LongType()),
        ]
    )

    def _ck(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # page_count only meaningful at base zoom (pre-average); at upper
            # levels it is the sum of averaged pixels, still a useful invariant
            stats = np.array([tile_stats(b) for b in pdf["data"]], dtype=np.int64).reshape(-1, 2)
            yield pd.DataFrame(
                {
                    "zoom": pdf["zoom"],
                    "tx": pdf["tx"],
                    "ty": pdf["ty"],
                    "checksum": stats[:, 0].astype(np.int32),
                    "page_count": stats[:, 1],
                }
            )

    return tile_df.mapInPandas(_ck, out_schema)


def raster_statistics(tile_df: DataFrame) -> DataFrame:
    """ComputeStatistics analog (gcore/gdalrasterband.cpp:3477): per zoom,
    (min, max, mean, count, n_nonzero) over all pixel values.

    Per-tile partial stats in one vectorized pass (mapInPandas), then a tiny
    JVM agg — the distributed form of the reference's single-pass loop.
    Mean is exact: integer pixel sums, one final division.
    """
    out_schema = (
        "zoom int, n_pixels long, n_nonzero long, sum_val long, min_val long, max_val long"
    )

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, b in zip(pdf["zoom"], pdf["data"]):
                g = bytes_to_tile(b)
                rows.append(
                    (int(z), g.size, int((g != 0).sum()), int(g.sum()), int(g.min()), int(g.max()))
                )
            yield pd.DataFrame(
                rows, columns=["zoom", "n_pixels", "n_nonzero", "sum_val", "min_val", "max_val"]
            )

    partial = tile_df.mapInPandas(_partial, out_schema)
    return partial.groupBy("zoom").agg(
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("n_nonzero").alias("n_nonzero"),
        F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        (F.sum("sum_val").cast("double") / F.sum("n_pixels").cast("double")).alias("mean_val"),
    )


def raster_histogram(tile_df: DataFrame, n_buckets: int = 16, lo: int = 0, hi: int = 256) -> DataFrame:
    """GetHistogram analog (gcore/gdalrasterband.cpp:2703): bucket counts of
    pixel values per zoom; equal-width buckets over [lo, hi), out-of-range
    clamped to edge buckets (GDAL's bApproxOK=FALSE exact path)."""
    out_schema = "zoom int, bucket int, pix_count long"

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        edges = np.linspace(lo, hi, n_buckets + 1)
        for pdf in batches:
            acc: dict = {}
            for z, b in zip(pdf["zoom"], pdf["data"]):
                g = bytes_to_tile(b).ravel()
                idx = np.clip(np.searchsorted(edges, g, side="right") - 1, 0, n_buckets - 1)
                binc = np.bincount(idx, minlength=n_buckets)
                key = int(z)
                acc[key] = acc.get(key, 0) + binc
            rows = [
                (z, i, int(c)) for z, binc in acc.items() for i, c in enumerate(binc)
            ]
            yield pd.DataFrame(rows, columns=["zoom", "bucket", "pix_count"])

    return (
        tile_df.mapInPandas(_hist, out_schema)
        .groupBy("zoom", "bucket")
        .agg(F.sum("pix_count").alias("pix_count"))
    )


def mosaic(tile_dfs: list, order: str = "last") -> DataFrame:
    """gdal_merge / gdalbuildvrt analog (swig/python/scripts/gdal_merge.py:
    109-121): union N tile tables; where tiles overlap, later-listed input
    wins ("last", copy-into-canvas order) — per-pixel nonzero-wins within the
    winning priority is NOT applied (GDAL copies whole blocks).  Pure
    DataFrame: unionByName + row_number over (zoom, tx, ty) by priority."""
    from pyspark.sql import Window

    parts = []
    for i, df in enumerate(tile_dfs):
        parts.append(df.withColumn("_prio", F.lit(i)))
    all_t = parts[0]
    for p in parts[1:]:
        all_t = all_t.unionByName(p)
    direction = F.col("_prio").desc() if order == "last" else F.col("_prio").asc()
    w = Window.partitionBy("zoom", "tx", "ty").orderBy(direction)
    return (
        all_t.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )


def point_raster_lookup(
    queries: DataFrame, tile_df: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    """gdallocationinfo against a MATERIALIZED tile table
    (apps/gdallocationinfo.cpp:355-384): query point → (tile, pixel) via the
    inverse tile transform → equi-join to the tile table → in-UDF pixel
    read.  Points with no tile row → value NULL (outside coverage)."""
    q = with_pixel(queries, zoom, lon_col, lat_col)
    joined = q.join(tile_df.where(F.col("zoom") == zoom), on=["tx", "ty"], how="left")
    out_cols = [f.name for f in q.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in q.schema.fields
    ) + ", value long"

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            for b, ix, iy in zip(pdf["data"], pdf["ix"], pdf["iy"]):
                if b is None:
                    vals.append(None)
                else:
                    vals.append(int(bytes_to_tile(b)[int(iy), int(ix)]))
            out = pdf[out_cols].copy()
            out["value"] = pd.Series(vals, dtype="object")
            yield out

    return joined.mapInPandas(_read, out_schema)


def equalize(tile_df: DataFrame, hist_bins: int = 256, lut_bins: int = 256) -> DataFrame:
    """gdalenhance -equalize analog (apps/gdalenhance.cpp:477-560
    ComputeEqualizationLUTs + :571 EnhancerCallback): per-zoom histogram
    equalization to ``lut_bins`` output levels.

    Three bounded stages, all scan-proportional: (1) per-zoom min/max
    (:func:`raster_statistics` partials), (2) per-zoom histogram over
    [min, max] with ``hist_bins`` equal-width bins (map-combined groupBy),
    (3) the reference's LUT rule on the driver — extreme bins zeroed,
    cumulative with half-bin midpoint, ``LUT[i] = clamp(cum[(i*H)/L]*L /
    total)`` — broadcast back and applied as one shuffle-free tile map.
    The collected state is zooms × ``hist_bins`` rows, never
    pixel-proportional.
    """
    stats = {
        int(r.zoom): (float(r.min_val), float(r.max_val))
        for r in raster_statistics(tile_df).collect()
    }
    out_schema = "zoom int, bucket int, pix_count long"

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict = {}
            for z, b in zip(pdf["zoom"], pdf["data"]):
                lo, hi = stats[int(z)]
                g = bytes_to_tile(b).ravel().astype(np.float64)
                scale = hist_bins / (hi - lo) if hi > lo else 0.0
                idx = np.clip(((g - lo) * scale).astype(np.int64), 0, hist_bins - 1)
                binc = np.bincount(idx, minlength=hist_bins)
                key = int(z)
                acc[key] = acc.get(key, 0) + binc
            yield pd.DataFrame(
                [(z, i, int(c)) for z, bc in acc.items() for i, c in enumerate(bc)],
                columns=["zoom", "bucket", "pix_count"],
            )

    hist_rows = (
        tile_df.mapInPandas(_hist, out_schema)
        .groupBy("zoom", "bucket")
        .agg(F.sum("pix_count").alias("pix_count"))
        .collect()
    )
    luts: dict = {}
    for z in stats:
        hist = np.zeros(hist_bins, dtype=np.int64)
        for r in hist_rows:
            if int(r.zoom) == z:
                hist[int(r.bucket)] = int(r.pix_count)
        hist[0] = 0          # zero out extremes (nodata etc), gdalenhance.cpp:522
        hist[-1] = 0
        cum = np.cumsum(hist) - hist + hist // 2   # total-so-far + bin/2 (:534)
        total = max(int(hist.sum()), 1)
        ih = (np.arange(lut_bins, dtype=np.int64) * hist_bins) // lut_bins
        luts[z] = np.clip((cum[ih] * lut_bins) // total, 0, lut_bins - 1).astype(np.int64)

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b, z in zip(pdf["data"], pdf["zoom"]):
                lo, hi = stats[int(z)]
                g = bytes_to_tile(b).astype(np.float64)
                scale = lut_bins / (hi - lo) if hi > lo else 0.0
                bins = np.clip(((g - lo) * scale).astype(np.int64), 0, lut_bins - 1)
                out.append(tile_to_bytes(luts[int(z)][bins]))
            pdf = pdf.copy()
            pdf["data"] = out
            yield pdf

    return tile_df.mapInPandas(_apply, tile_df.schema)


def flatten_mask(
    data_tiles: DataFrame,
    mask_tiles: DataFrame,
    set_alpha: bool = False,
    nodata: int = 0,
) -> DataFrame:
    """gdalflattenmask analog (apps/gdalflattenmask.c): merge a dataset's
    mask band into its data band for consumers without mask support.

    ``set_alpha=False`` (the default mode): data pixels where the mask is
    zero become ``nodata`` (the -a_nodata value).  ``set_alpha=True``: the
    data passes through untouched and an ``alpha`` tile column is added with
    mask 0 → 0, nonzero → 255 (the utility's 8-bit alpha band).

    One co-partitioned equi-join on the tile key + a vectorized per-tile
    numpy map; tiles missing a mask row keep their data (all-valid mask, the
    reference's GMF_ALL_VALID default).  Multi-level pyramid tables join on
    (zoom, tx, ty) when both sides carry a ``zoom`` column — the same
    (tx, ty) exists at EVERY level, so a key without zoom would cross-match
    levels and emit duplicate tiles.
    """
    keys = ["tx", "ty"]
    if "zoom" in data_tiles.columns and "zoom" in mask_tiles.columns:
        keys = ["zoom", "tx", "ty"]
    elif "zoom" in data_tiles.columns or "zoom" in mask_tiles.columns:
        raise ValueError(
            "flatten_mask: one side has a 'zoom' column and the other does "
            "not — joining multi-level tiles against single-level masks is "
            "ambiguous; align the schemas first"
        )
    a = data_tiles.select(*keys, F.col("data").alias("dat"))
    b = mask_tiles.select(*keys, F.col("data").alias("msk"))
    joined = a.join(b, on=keys, how="left")
    zoom_sql = "zoom int, " if "zoom" in keys else ""
    out_schema = f"{zoom_sql}tx long, ty long, data binary" + (
        ", alpha binary" if set_alpha else ""
    )

    with_zoom = "zoom" in keys

    def _flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                g = bytes_to_tile(r.dat)
                m = bytes_to_tile(r.msk) if r.msk is not None else None
                key = (int(r.zoom), int(r.tx), int(r.ty)) if with_zoom else (
                    int(r.tx), int(r.ty))
                if set_alpha:
                    if m is None:
                        alpha = np.full_like(g, 255)
                    else:
                        alpha = np.where(m != 0, 255, 0)
                    rows.append((*key, bytes(r.dat), alpha.astype("<i4").tobytes()))
                else:
                    if m is not None:
                        g = np.where(m != 0, g, nodata)
                    rows.append((*key, g.astype("<i4").tobytes()))
            cols = list(keys) + ["data"] + (["alpha"] if set_alpha else [])
            yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(_flat, out_schema)


def to_ogr_points(tile_df: DataFrame, skip_zero: bool = False) -> DataFrame:
    """gdal2ogr analog (apps/gdal2ogr.c): band samples → point FEATURES —
    :func:`to_xyz`'s (lon, lat, value) rows plus a point geometry column,
    ready for any vector sink.  Multi-band sources are multiple tile
    tables joined on (tx, ty) upstream, one value column each."""
    @F.pandas_udf("binary")
    def _pt(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            [geom.wkb_point(float(x), float(y)) for x, y in zip(lon, lat)]
        )

    return to_xyz(tile_df, skip_zero).withColumn("geom_wkb", _pt("lon", "lat"))


def to_xyz(tile_df: DataFrame, skip_zero: bool = False) -> DataFrame:
    """gdal2xyz analog (swig/python/scripts/gdal2xyz.py): explode a
    mercator tile table to one (lon, lat, value) row per pixel center —
    shuffle-free mapInPandas, row count = pixel count by design."""
    from . import tiles as tmod

    out_schema = "lon double, lat double, value long"

    def _xyz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for z, tx, ty, b in zip(pdf["zoom"], pdf["tx"], pdf["ty"], pdf["data"]):
                g = bytes_to_tile(b)
                t = g.shape[0]
                px = int(tx) * t + np.arange(t) + 0.5
                py = int(ty) * t + np.arange(t) + 0.5
                gx, gy = np.meshgrid(px, py)
                mx, my = tmod.pixels_to_meters(gx.ravel(), gy.ravel(), int(z))
                lon, lat = tmod.meters_to_lonlat(mx, my)
                v = g.ravel()
                if skip_zero:
                    keep = v != 0
                    lon, lat, v = lon[keep], lat[keep], v[keep]
                yield pd.DataFrame({"lon": lon, "lat": lat, "value": v})

    return tile_df.mapInPandas(_xyz, out_schema)


def compare_tiles(golden: DataFrame, new: DataFrame) -> DataFrame:
    """gdalcompare analog (swig/python/scripts/gdalcompare.py): per-tile
    pixel comparison of two tile tables — full outer join on (zoom, tx,
    ty); rows report pixels_differing, max_abs_diff and checksum equality;
    tiles present on one side only report NULL on the missing side's
    checksum.  One co-partitioned join, per-tile numpy diff, no collect."""
    a = golden.select("zoom", "tx", "ty", F.col("data").alias("_da"))
    b = new.select("zoom", "tx", "ty", F.col("data").alias("_db"))
    joined = a.join(b, on=["zoom", "tx", "ty"], how="full_outer")
    out_schema = (
        "zoom int, tx int, ty int, pixels_differing long, max_abs_diff long, "
        "checksum_golden long, checksum_new long, match boolean"
    )

    def _cmp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, da, db in zip(
                pdf["zoom"], pdf["tx"], pdf["ty"], pdf["_da"], pdf["_db"]
            ):
                ga = bytes_to_tile(da) if da is not None else None
                gb = bytes_to_tile(db) if db is not None else None
                cka = int(gdal_checksum(ga)) if ga is not None else None
                ckb = int(gdal_checksum(gb)) if gb is not None else None
                if ga is not None and gb is not None:
                    d = np.abs(ga - gb)
                    nd, mx = int((d != 0).sum()), int(d.max())
                else:
                    miss = ga if ga is not None else gb
                    nd, mx = int(miss.size), int(np.abs(miss).max())
                rows.append((int(z), int(tx), int(ty), nd, mx, cka, ckb, nd == 0))
            yield pd.DataFrame(
                rows,
                columns=[
                    "zoom", "tx", "ty", "pixels_differing", "max_abs_diff",
                    "checksum_golden", "checksum_new", "match",
                ],
            )

    return joined.mapInPandas(_cmp, out_schema)


def raster_info(tile_df: DataFrame) -> DataFrame:
    """gdalinfo analog (apps/gdalinfo.c): per zoom level, the summary the
    reference prints — raster size (from the tile-cover bounding box),
    tile/block counts, value statistics, and the xor of per-tile
    GDALChecksumImage checksums (the driver-manifest integrity field).
    One scan for cover+checksums plus the existing stats pass."""
    cover = tile_df.groupBy("zoom").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.min("tx").alias("tx0"), F.max("tx").alias("tx1"),
        F.min("ty").alias("ty0"), F.max("ty").alias("ty1"),
    ).select(
        "zoom", "n_tiles",
        ((F.col("tx1") - F.col("tx0") + 1) * TILE_SIZE).cast("long").alias("x_size"),
        ((F.col("ty1") - F.col("ty0") + 1) * TILE_SIZE).cast("long").alias("y_size"),
        "tx0", "ty0",
    )
    cks = tile_checksums(tile_df).groupBy("zoom").agg(
        F.aggregate(F.collect_list("checksum"), F.lit(0).cast("long"),
                    lambda acc, c: acc.bitwiseXOR(c.cast("long"))).alias("checksum_xor")
    )
    stats = raster_statistics(tile_df)
    return cover.join(cks, on="zoom").join(stats, on="zoom")


def add_tiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """Pixelwise SUM of two density tile tables (MERGE_ALG=ADD across
    tables): full outer join on (zoom, tx, ty), missing side = zeros.
    One co-partitioned join; per-tile numpy add; no collect."""
    ja = a.select("zoom", "tx", "ty", F.col("data").alias("_da"))
    jb = b.select("zoom", "tx", "ty", F.col("data").alias("_db"))
    joined = ja.join(jb, on=["zoom", "tx", "ty"], how="full_outer")

    def _add(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, da, db in zip(
                pdf["zoom"], pdf["tx"], pdf["ty"], pdf["_da"], pdf["_db"]
            ):
                if da is None:
                    buf = bytes(db)
                elif db is None:
                    buf = bytes(da)
                else:
                    buf = tile_to_bytes(bytes_to_tile(da) + bytes_to_tile(db))
                rows.append((int(z), int(tx), int(ty), buf))
            yield pd.DataFrame(rows, columns=["zoom", "tx", "ty", "data"])

    return joined.mapInPandas(_add, "zoom int, tx int, ty int, data binary")


def pyramid_delta_update(
    existing: dict, delta_base: DataFrame, method: str = "average"
):
    """Incremental pyramid maintenance (the Iceberg-partition update story
    at crawl scale): given the persisted pyramid levels
    ``existing[zoom] -> tile table`` and a DELTA of newly burned base
    tiles, produce updated levels recomputing ONLY tiles that are
    ancestors of a changed base tile — every untouched tile at every
    level is reused as-is.

    Work per level is proportional to the DELTA's tile count, not the
    pyramid's: for a daily crawl increment touching T of N base tiles,
    the update costs O(T log N) tile reduces instead of O(N).

    Returns (levels, changed): updated ``{zoom: DataFrame}`` and
    ``{zoom: DataFrame(tx, ty)}`` of recomputed keys per level (the test
    hook proving partial recomputation).
    """
    zooms = sorted(existing, reverse=True)
    base_zoom = zooms[0]
    levels = {base_zoom: add_tiles(existing[base_zoom], delta_base)}
    changed_keys = {base_zoom: delta_base.select("tx", "ty").distinct()}
    for z in zooms[1:]:
        child = levels[z + 1]
        parents = (
            changed_keys[z + 1]
            .select(
                F.floor(F.col("tx") / 2).cast("int").alias("tx"),
                F.floor(F.col("ty") / 2).cast("int").alias("ty"),
            )
            .distinct()
        )
        affected_children = child.join(
            parents.withColumnRenamed("tx", "_ptx").withColumnRenamed("ty", "_pty"),
            on=[
                F.floor(child["tx"] / 2).cast("int") == F.col("_ptx"),
                F.floor(child["ty"] / 2).cast("int") == F.col("_pty"),
            ],
        ).select(child["zoom"], child["tx"], child["ty"], child["data"])
        rebuilt = pyramid_reduce(affected_children, method)
        untouched = existing[z].join(parents, on=["tx", "ty"], how="left_anti")
        levels[z] = untouched.select("zoom", "tx", "ty", "data").unionByName(
            rebuilt.select("zoom", "tx", "ty", "data")
        )
        changed_keys[z] = parents
    return levels, changed_keys
