"""Median-cut quantization + dither, nearblack collar removal, warp cutline."""

import numpy as np
import pandas as pd
import pytest

from engine import geom, nearblack, quantize, raster

T = raster.TILE_SIZE


def _rgb_df(spark, tiles_rgb: dict):
    rows = []
    for (tx, ty), (r, g, b) in tiles_rgb.items():
        rows.append(
            (tx, ty, raster.tile_to_bytes(r), raster.tile_to_bytes(g), raster.tile_to_bytes(b))
        )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["tx", "ty", "data_r", "data_g", "data_b"])
    )


def test_median_cut_separates_clusters(spark):
    # two pure color clusters → a 2-color palette lands near both
    r = np.zeros((T, T), dtype=np.int64)
    g = np.zeros((T, T), dtype=np.int64)
    b = np.zeros((T, T), dtype=np.int64)
    r[:, : T // 2] = 250  # left half red
    b[:, T // 2 :] = 250  # right half blue
    rgb = _rgb_df(spark, {(0, 0): (r, g, b)})
    pal = quantize.compute_median_cut_pct(rgb, n_colors=2)
    assert pal.shape == (2, 3)
    pals = sorted(map(tuple, pal.tolist()))
    # one entry dominated by blue, one by red (5-bit quantized centers)
    assert pals[0][2] > 200 and pals[0][0] < 50
    assert pals[1][0] > 200 and pals[1][2] < 50


def test_histogram_counts_preserved(spark):
    rng = np.random.default_rng(5)
    r = rng.integers(0, 256, (T, T)).astype(np.int64)
    g = rng.integers(0, 256, (T, T)).astype(np.int64)
    b = rng.integers(0, 256, (T, T)).astype(np.int64)
    rgb = _rgb_df(spark, {(0, 0): (r, g, b), (1, 0): (g, b, r)})
    hist = quantize.color_histogram(rgb).collect()
    assert sum(x.pixel_count for x in hist) == 2 * T * T


def test_apply_palette_nearest_and_dither(spark):
    r = np.full((T, T), 100, dtype=np.int64)
    g = np.full((T, T), 100, dtype=np.int64)
    b = np.full((T, T), 100, dtype=np.int64)
    rgb = _rgb_df(spark, {(0, 0): (r, g, b)})
    pal = np.array([[0, 0, 0], [90, 90, 90], [255, 255, 255]], dtype=np.uint8)
    out = quantize.apply_palette(rgb, pal, dither=False).collect()
    idx = raster.bytes_to_tile(out[0].data)
    assert (idx == 1).all()  # nearest to (90,90,90)
    # dithered: mixture of palette entries whose average ≈ input brightness
    dit = quantize.apply_palette(rgb, pal, dither=True).collect()
    di = raster.bytes_to_tile(dit[0].data)
    mean = pal[di].astype(float).mean()
    assert abs(mean - 100.0) < 2.0
    assert set(np.unique(di)) <= {0, 1, 2}


def test_nearblack_collar(spark):
    # raster of 2 tiles side by side; west collar: tile0 rows fully dark for
    # rows 0..9 plus 10 px into tile1; east collar 5 px; interior dark run
    # must survive
    a = np.full((T, T), 200, dtype=np.int64)
    b = np.full((T, T), 200, dtype=np.int64)
    a[0:10, :] = 3          # rows 0..9 of tile a fully dark
    b[0:10, 0:10] = 3       # continue 10 px into tile b
    b[:, T - 5 :] = 2       # east collar, all rows
    a[50, 100:120] = 0      # interior dark run (must stay)
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(a), raster.tile_to_bytes(b)]}
        )
    )
    out = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in nearblack.nearblack(tiles_df, threshold=10, nodata=-1).collect()}
    na, nb = out[(0, 0)], out[(1, 0)]
    # west collar rows 0..9: all of tile a + 10 px of tile b → -1
    assert (na[0:10, :] == -1).all()
    assert (nb[0:10, 0:10] == -1).all()
    assert (nb[0:10, 10 : T - 5] == 200).all()
    # east collar: 5 px on every row of tile b
    assert (nb[:, T - 5 :] == -1).all()
    # interior dark run untouched
    assert (na[50, 100:120] == 0).all()
    # bright pixels untouched
    assert (na[20, :] == 200).all()


def _nearblack_reference(img: np.ndarray, threshold: int, nodata: int) -> np.ndarray:
    """Scanline-by-scanline collar removal on the whole raster."""
    out = img.copy()
    for y in range(img.shape[0]):
        dark = img[y] <= threshold
        lead = int(dark.cumprod().sum())
        trail = int(dark[::-1].cumprod().sum())
        out[y, :lead] = nodata
        out[y, img.shape[1] - trail :] = nodata
    return out


def test_nearblack_collar_many_tile_rows(spark):
    # 3 tiles wide × 4 tile rows (ty = -1..2, so scanline gy spans both
    # signs); collars of random depth, some crossing whole tiles, a few
    # all-dark scanlines, and dark interior pixels that must survive
    rng = np.random.default_rng(17)
    nx, tys = 3, [-1, 0, 1, 2]
    img = rng.integers(11, 256, (len(tys) * T, nx * T)).astype(np.int64)
    img[rng.random(img.shape) < 0.02] = 0
    for y in range(img.shape[0]):
        img[y, : rng.integers(0, 2 * T + 20)] = rng.integers(0, 11)
        img[y, img.shape[1] - rng.integers(0, T + 20) :] = rng.integers(0, 11)
    img[[5, T + 3, 3 * T - 1]] = 4
    tiles = {}
    for r, ty in enumerate(tys):
        for tx in range(nx):
            tiles[(tx, ty)] = img[r * T : (r + 1) * T, tx * T : (tx + 1) * T]
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"tx": [k[0] for k in tiles], "ty": [k[1] for k in tiles],
             "data": [raster.tile_to_bytes(v) for v in tiles.values()]}
        )
    )
    want = _nearblack_reference(img, threshold=10, nodata=-1)
    got = {(r.tx, r.ty): r.data
           for r in nearblack.nearblack(tiles_df, threshold=10, nodata=-1).collect()}
    assert sorted(got) == sorted(tiles)
    for r, ty in enumerate(tys):
        for tx in range(nx):
            w = want[r * T : (r + 1) * T, tx * T : (tx + 1) * T]
            assert got[(tx, ty)] == raster.tile_to_bytes(w), (tx, ty)


def test_warp_cutline_mask(spark):
    from engine import warp

    rows = []
    for tx in range(10, 14):
        for ty in range(18, 22):
            rows.append((5, tx, ty, raster.tile_to_bytes(np.full((T, T), 7, dtype=np.int64))))
    src = spark.createDataFrame(pd.DataFrame(rows, columns=["zoom", "tx", "ty", "data"]))
    # cutline: lon/lat rectangle; outside must be 0, inside 7
    cut = geom.wkb_polygon([[(-70.0, 20.0), (-50.0, 20.0), (-50.0, 40.0), (-70.0, 40.0)]])
    out = warp.warp_mercator_to_geodetic(spark, src, 5, 4, cutline_wkb=cut)
    from engine import tiles as tmod

    res = tmod.geodetic_resolution(4)
    total_in = total_out = 0
    for r in out.collect():
        grid = raster.bytes_to_tile(r.data)
        cols = np.arange(T)
        lon = (r.tx * T + cols + 0.5) * res - 180.0
        rws = np.arange(T)
        lat = ((r.ty + 1) * T - rws - 0.5) * res - 90.0
        lon_g, lat_g = np.meshgrid(lon, lat)
        inside = (lon_g >= -70) & (lon_g <= -50) & (lat_g >= 20) & (lat_g <= 40)
        assert (grid[~inside] == 0).all()
        total_out += (~inside).sum()
        if inside.any():
            total_in += (grid[inside] == 7).sum()
    assert total_in > 0 and total_out > 0


def test_warp_cutline_blend_distance(spark):
    """CUTLINE_BLEND_DIST feather (alg/gdalcutline.cpp BlendMaskGenerator):
    a constant-100 raster cut by a rectangle with a blend band — expected
    values computed by an independent single-process point-to-edge distance
    + ratio oracle, exactly matching per pixel."""
    from engine import warp
    from engine import tiles as tmod

    rows = []
    for tx in range(10, 14):
        for ty in range(18, 22):
            rows.append((5, tx, ty, raster.tile_to_bytes(np.full((T, T), 100, dtype=np.int64))))
    src = spark.createDataFrame(pd.DataFrame(rows, columns=["zoom", "tx", "ty", "data"]))
    x0, y0, x1, y1 = -70.0, 20.0, -50.0, 40.0
    cut = geom.wkb_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
    blend = 6.0  # destination pixels
    out = warp.warp_mercator_to_geodetic(
        spark, src, 5, 4, cutline_wkb=cut, cutline_blend_dist=blend
    )
    base_tiles = {
        (r.tx, r.ty): raster.bytes_to_tile(r.data)
        for r in warp.warp_mercator_to_geodetic(spark, src, 5, 4).collect()
    }
    res = tmod.geodetic_resolution(4)

    def rect_edge_dist_px(lon_g, lat_g):
        # independent oracle: exact distance to an axis-aligned rectangle
        # boundary, in pixel units (clamped-projection onto each edge)
        px = (180.0 + lon_g) / res
        py = (90.0 + lat_g) / res
        ex0, ey0 = (180.0 + x0) / res, (90.0 + y0) / res
        ex1, ey1 = (180.0 + x1) / res, (90.0 + y1) / res
        d = np.full(px.shape, np.inf)
        for (ax, ay, bx, by) in [
            (ex0, ey0, ex1, ey0), (ex1, ey0, ex1, ey1),
            (ex1, ey1, ex0, ey1), (ex0, ey1, ex0, ey0),
        ]:
            abx, aby = bx - ax, by - ay
            t = np.clip(((px - ax) * abx + (py - ay) * aby) / (abx * abx + aby * aby), 0, 1)
            d = np.minimum(d, np.hypot(px - (ax + t * abx), py - (ay + t * aby)))
        return d

    checked_band = 0
    for r in out.collect():
        grid = raster.bytes_to_tile(r.data)
        cols = np.arange(T)
        lon = (r.tx * T + cols + 0.5) * res - 180.0
        lat = ((r.ty + 1) * T - np.arange(T) - 0.5) * res - 90.0
        lon_g, lat_g = np.meshgrid(lon, lat)
        inside = (lon_g >= x0) & (lon_g <= x1) & (lat_g >= y0) & (lat_g <= y1)
        base = base_tiles.get((r.tx, r.ty), np.zeros((T, T), dtype=np.int64))
        dist = rect_edge_dist_px(lon_g, lat_g)
        far = dist > blend
        ramp = np.where(inside, 0.5 + dist / blend * 0.5, 0.5 - dist / blend * 0.5)
        ratio = np.where(far, inside.astype(float), ramp)
        exp = np.floor(base.astype(float) * ratio + 0.5).astype(np.int64)
        assert np.array_equal(grid, exp), (r.tx, r.ty)
        # the feather band on real data is strictly between 0 and full value
        band = ~far & (dist > 0) & (base == 100)
        checked_band += int(band.sum())
        if band.any():
            assert (grid[band] > 0).all() and (grid[band] < 100).all()
    assert checked_band > 100  # the blend band was actually exercised
