"""Raster statistics / histogram / mosaic / point lookup / focal kernels —
verified against single-process numpy on collected tiles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import focal, raster
from engine.fixtures import make_gazetteer, make_pages
from engine.geotag import geotag_first


@pytest.fixture(scope="module")
def tile_table(spark):
    gaz = make_gazetteer(n=300, n_countries=30)
    pages = make_pages(n=1500, gazetteer=gaz, seed=55)
    tagged = geotag_first(spark.createDataFrame(pages), spark.createDataFrame(gaz))
    base = raster.burn_base_tiles(tagged, 4).cache()
    base.count()
    return base


def _collect_grids(df):
    return {(r.zoom, r.tx, r.ty): raster.bytes_to_tile(r.data) for r in df.collect()}


def test_raster_statistics(spark, tile_table):
    stats = {r.zoom: r for r in raster.raster_statistics(tile_table).collect()}
    grids = _collect_grids(tile_table)
    alls = np.concatenate([g.ravel() for g in grids.values()])
    s = stats[4]
    assert s.n_pixels == alls.size
    assert s.n_nonzero == int((alls != 0).sum())
    assert s.sum_val == int(alls.sum())
    assert s.min_val == int(alls.min()) and s.max_val == int(alls.max())
    assert s.mean_val == alls.sum() / alls.size


def test_raster_histogram(spark, tile_table):
    hist = {
        (r.zoom, r.bucket): r.pix_count
        for r in raster.raster_histogram(tile_table, n_buckets=8, lo=0, hi=8).collect()
    }
    grids = _collect_grids(tile_table)
    alls = np.concatenate([g.ravel() for g in grids.values()])
    edges = np.linspace(0, 8, 9)
    idx = np.clip(np.searchsorted(edges, alls, side="right") - 1, 0, 7)
    binc = np.bincount(idx, minlength=8)
    for b in range(8):
        assert hist.get((4, b), 0) == int(binc[b])


def test_mosaic_last_wins(spark, tile_table):
    # overlay: one overlapping tile with distinct content + one new tile
    some = tile_table.limit(1).collect()[0]
    marker = np.full((256, 256), 7, dtype=np.int64)
    overlay = spark.createDataFrame(
        pd.DataFrame(
            {
                "zoom": [some.zoom, some.zoom],
                "tx": [some.tx, some.tx + 1000],
                "ty": [some.ty, some.ty],
                "data": [raster.tile_to_bytes(marker)] * 2,
            }
        )
    )
    out = _collect_grids(raster.mosaic([tile_table, overlay], order="last"))
    n_base = tile_table.count()
    assert len(out) == n_base + 1  # one overlap replaced, one added
    assert np.array_equal(out[(some.zoom, some.tx, some.ty)], marker)
    # "first" order keeps the original
    out_first = _collect_grids(raster.mosaic([tile_table, overlay], order="first"))
    assert np.array_equal(
        out_first[(some.zoom, some.tx, some.ty)], raster.bytes_to_tile(some.data)
    )


def test_point_raster_lookup(spark, tile_table):
    grids = _collect_grids(tile_table)
    (z, tx, ty) = next(iter(grids))
    g = grids[(z, tx, ty)]
    nz = np.argwhere(g > 0)
    r0, c0 = (int(x) for x in nz[0])
    # a query point inside that pixel: invert the pixel→lonlat mapping
    from engine import tiles as T

    gpx = tx * 256 + c0 + 0.5
    gpy = ty * 256 + (255 - r0) + 0.5
    mx, my = T.pixels_to_meters(gpx, gpy, z)
    lon, lat = T.meters_to_lonlat(mx, my)
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": [1, 2], "lon": [float(lon), 179.99], "lat": [float(lat), 84.9]})
    )
    out = {r.qid: r.value for r in raster.point_raster_lookup(queries, tile_table, z).collect()}
    assert out[1] == int(g[r0, c0])
    # point outside coverage → NULL
    if (z, *T.lonlat_to_tile(np.array([179.99]), np.array([84.9]), z)) not in [
        (k[0], np.int64(k[1]), np.int64(k[2])) for k in grids
    ]:
        assert out[2] is None


@pytest.mark.parametrize("kernel", ["slope", "tri", "roughness", "aspect", "hillshade", "tpi", "hillshade_combined", "hillshade_multidirectional",])
def test_focal_matches_numpy(spark, tile_table, kernel):
    """Distributed halo-exchange focal == single-process numpy on the
    mosaicked full grid (cross-tile seams must be exact)."""
    grids = _collect_grids(tile_table)
    got = _collect_grids(focal.focal(tile_table, kernel))
    assert set(got) == set(grids)

    # single-process oracle: assemble one big array covering all tiles,
    # pad edges by replication, run kernel, compare each tile's window
    txs = sorted({k[1] for k in grids})
    tys = sorted({k[2] for k in grids})
    tx0, ty0 = min(txs), min(tys)
    W = (max(txs) - tx0 + 1) * 256
    H = (max(tys) - ty0 + 1) * 256
    big = np.zeros((H, W), dtype=np.int64)
    present = np.zeros((H, W), dtype=bool)
    for (z, tx, ty), g in grids.items():
        r0 = (max(tys) - ty) * 256
        c0 = (tx - tx0) * 256
        big[r0 : r0 + 256, c0 : c0 + 256] = g
        present[r0 : r0 + 256, c0 : c0 + 256] = True

    fn = focal.KERNELS[kernel]
    for (z, tx, ty), g in grids.items():
        r0 = (max(tys) - ty) * 256
        c0 = (tx - tx0) * 256
        # build this tile's padded window from the big array, replicating
        # edges where the NEIGHBOR TILE is absent (matches engine halo rule:
        # missing neighbor = edge replication, even if other tiles exist
        # farther away)
        pad = np.empty((258, 258), dtype=np.int64)
        pad[1:-1, 1:-1] = g
        def nb(dr, dc):
            rr, cc = r0 + dr * 256, c0 + dc * 256
            return (
                0 <= rr < H and 0 <= cc < W and present[rr, cc]
            )
        pad[1:-1, 0] = big[r0 : r0 + 256, c0 - 1] if nb(0, -1) else g[:, 0]
        pad[1:-1, -1] = big[r0 : r0 + 256, c0 + 256] if nb(0, 1) else g[:, -1]
        pad[0, 1:-1] = big[r0 - 1, c0 : c0 + 256] if nb(-1, 0) else g[0, :]
        pad[-1, 1:-1] = big[r0 + 256, c0 : c0 + 256] if nb(1, 0) else g[-1, :]
        pad[0, 0] = big[r0 - 1, c0 - 1] if nb(-1, -1) else pad[1, 1]
        pad[0, -1] = big[r0 - 1, c0 + 256] if nb(-1, 1) else pad[1, 256]
        pad[-1, 0] = big[r0 + 256, c0 - 1] if nb(1, -1) else pad[256, 1]
        pad[-1, -1] = big[r0 + 256, c0 + 256] if nb(1, 1) else pad[256, 256]
        expect = fn(pad)
        assert np.array_equal(got[(z, tx, ty)], expect), f"{kernel} tile {(tx, ty)} seam mismatch"


def test_halo_gather_ships_centre_and_eight_strips(spark, tile_table):
    """At halo 1 the halo exchange's gather ships each tile to itself and
    one strip to each of its 8 neighbours (T×1 and 1×T sides, 1×1
    corners): the sender's side that faces the receiver."""
    T = raster.TILE_SIZE
    grids = _collect_grids(tile_table)
    rows = focal._gather_halo(tile_table, 1).collect()
    assert len(rows) == 9 * len(grids)
    # (dx, dy) = the sender's tile offset from the receiver, dy > 0 north
    facing_rows = {1: slice(T - 1, T), 0: slice(None), -1: slice(0, 1)}
    facing_cols = {1: slice(0, 1), 0: slice(None), -1: slice(T - 1, T)}
    sent = {}
    for r in rows:
        sender = (r.zoom, r.tx + r.dx, r.ty + r.dy)
        sent.setdefault(sender, set()).add((r.dx, r.dy))
        expect = grids[sender][facing_rows[r.dy], facing_cols[r.dx]]
        assert np.array_equal(np.frombuffer(r.data, dtype="<i4"), expect.ravel()), (sender, r.dx, r.dy)
    assert all(len(offsets) == 9 for offsets in sent.values()) and set(sent) == set(grids)


def test_pyramid_methods(spark):
    import pandas as pd

    from engine import raster

    T = raster.TILE_SIZE
    g = np.zeros((T, T), dtype=np.int64)
    g[0:2, 0:2] = [[5, 5], [5, 9]]   # mode 5; average floor(24/4+.5)=6; nearest 5
    g[0:2, 2:4] = [[1, 2], [2, 1]]   # tie 1 vs 2 -> mode 1 (smallest)
    df = spark.createDataFrame(
        pd.DataFrame({"zoom": [4], "tx": [2], "ty": [2], "data": [raster.tile_to_bytes(g)]})
    )
    by = {}
    for m in ("average", "nearest", "mode", "gauss"):
        out = raster.pyramid_reduce(df, method=m).collect()[0]
        by[m] = raster.bytes_to_tile(out.data)
        assert (out.tx, out.ty, out.zoom) == (1, 1, 3)
    # child (2,2) has cx=0, cy=0 -> lands in BOTTOM-left quadrant (cy=0 = south)
    r0 = T // 2
    assert by["average"][r0, 0] == 6 and by["average"][r0, 1] == 2  # floor(6/4+.5)
    assert by["nearest"][r0, 0] == 5 and by["nearest"][r0, 1] == 1
    assert by["mode"][r0, 0] == 5 and by["mode"][r0, 1] == 1
    # gauss at block (r0,0): kernel over edge-clamped neighborhood of big[2i,2j]
    big = np.zeros((2 * T, 2 * T), dtype=np.int64)
    big[r0 * 2 : r0 * 2 + T, 0:T] = g  # child (cx=0, cy=0) = bottom-left quadrant
    # direct oracle: replicate the kernel computation on the mosaic
    pad = np.pad(big, 1, mode="edge").astype(float)
    k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], float)
    acc = sum(
        k[dr, dc] * pad[dr : dr + 2 * T : 2, dc : dc + 2 * T : 2]
        for dr in range(3)
        for dc in range(3)
    )
    exp = np.floor(acc / 16.0 + 0.5).astype(np.int64)
    assert (by["gauss"] == exp).all()


def test_color_relief_matches_gdal_formula(spark):
    import pandas as pd

    rng = np.random.default_rng(3)
    g = rng.integers(0, 1000, (256, 256)).astype(np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"zoom": [4], "tx": [2], "ty": [3], "data": [raster.tile_to_bytes(g)]})
    )
    ramp = [(0, 0, 0, 255), (500, 0, 255, 0), (1000, 255, 0, 0)]
    out = focal.color_relief(df, ramp).collect()
    assert len(out) == 1
    packed = raster.bytes_to_tile(out[0].data)
    # direct formula: GDAL's (int)(0.45 + c0 + ratio*(c1-c0)) per channel
    def expect_px(v):
        if v <= 500:
            lo, hi, r = (0, 0, 255), (0, 255, 0), (v - 0) / 500.0
        else:
            lo, hi, r = (0, 255, 0), (255, 0, 0), (v - 500) / 500.0
        return tuple(int(np.floor(0.45 + a + r * (b - a))) for a, b in zip(lo, hi))
    for (rr, cc) in [(0, 0), (10, 200), (255, 255), (128, 17)]:
        er, eg, eb = expect_px(float(g[rr, cc]))
        got = int(packed[rr, cc])
        assert (got >> 16, (got >> 8) & 255, got & 255) == (er, eg, eb)
    # clamping below/above the ramp
    g2 = np.full((256, 256), -50, dtype=np.int64)
    g2[0, 0] = 2000
    df2 = spark.createDataFrame(
        pd.DataFrame({"zoom": [4], "tx": [0], "ty": [0], "data": [raster.tile_to_bytes(g2)]})
    )
    p2 = raster.bytes_to_tile(focal.color_relief(df2, ramp).collect()[0].data)
    assert p2[1, 1] == 255          # clamp to first entry (0,0,255)
    assert p2[0, 0] == (255 << 16)  # clamp to last entry (255,0,0)


def test_pyramid_cubic_and_magphase(spark):
    import pandas as pd

    from engine import raster

    T = raster.TILE_SIZE
    rng = np.random.default_rng(9)
    g = rng.integers(0, 100, (T, T)).astype(np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"zoom": [4], "tx": [2], "ty": [2], "data": [raster.tile_to_bytes(g)]})
    )
    out = raster.pyramid_reduce(df, method="cubic").collect()[0]
    got = raster.bytes_to_tile(out.data)
    # oracle: separable [-1,9,9,-1]/16 over the edge-clamped 2x mosaic
    big = np.zeros((2 * T, 2 * T), dtype=np.int64)
    big[T:, :T] = g  # child (cx=0, cy=0) -> bottom-left quadrant
    pad = np.pad(big, ((1, 2), (1, 2)), mode="edge").astype(float)
    w = (-1.0, 9.0, 9.0, -1.0)
    rows = sum(w[t] * pad[t : t + 2 * T : 2, :] for t in range(4))
    acc = sum(w[t] * rows[:, t : t + 2 * T : 2] for t in range(4))
    exp = np.floor(acc / 256.0 + 0.5).astype(np.int64)
    assert np.array_equal(got, exp)

    # magphase: magnitude of output == average of input magnitudes
    re = rng.integers(-50, 50, (T, T)).astype(np.int64)
    im = rng.integers(-50, 50, (T, T)).astype(np.int64)
    cdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "zoom": [4], "tx": [0], "ty": [0],
                "data_re": [raster.tile_to_bytes(re)],
                "data_im": [raster.tile_to_bytes(im)],
            }
        )
    )
    row = raster.pyramid_reduce_magphase(cdf).collect()[0]
    gre = raster.bytes_to_tile(row.data_re).astype(float)
    gim = raster.bytes_to_tile(row.data_im).astype(float)
    # child (0,0) -> bottom-left quadrant of the parent
    h = T // 2
    qre = [re[0::2, 0::2], re[0::2, 1::2], re[1::2, 0::2], re[1::2, 1::2]]
    qim = [im[0::2, 0::2], im[0::2, 1::2], im[1::2, 0::2], im[1::2, 1::2]]
    avg_mag = sum(np.hypot(a.astype(float), b.astype(float)) for a, b in zip(qre, qim)) / 4.0
    got_mag = np.hypot(gre[h:, :h], gim[h:, :h])
    # zero vector average → unscalable → 0 output (the GDAL m==0 branch)
    vec_m = np.hypot(sum(qre) / 4.0, sum(qim) / 4.0)
    ok = vec_m > 0
    assert np.abs(got_mag - avg_mag)[ok].max() < 1.0
    assert (got_mag[~ok] == 0).all()


# -- polygon rasterization (gdal_rasterize analog, round 3) -----------------


def _pixel_centers(tx, ty, zoom):
    from engine import raster, tiles

    T = raster.TILE_SIZE
    px = tx * T + np.arange(T) + 0.5
    py = (ty + 1) * T - np.arange(T) - 0.5
    mx, _ = tiles.pixels_to_meters(px, np.zeros_like(px), zoom)
    _, my = tiles.pixels_to_meters(np.zeros_like(py), py, zoom)
    lon, _ = tiles.meters_to_lonlat(mx, np.zeros_like(mx))
    _, lat = tiles.meters_to_lonlat(np.zeros_like(my), my)
    return lon, lat


def test_rasterize_polygons_rect_matches_bruteforce(spark):
    import pandas as pd

    from engine import geom, raster

    x0, y0, x1, y1 = -10.0, -5.0, 25.0, 20.0  # spans several z3 tiles
    rect = geom.wkb_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])
    polys = spark.createDataFrame(pd.DataFrame({"pid": [0], "geom_wkb": [rect]}))
    out = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in raster.rasterize_polygons(polys, zoom=3).collect()}
    assert out
    total = 0
    for (tx, ty), grid in out.items():
        lon, lat = _pixel_centers(tx, ty, 3)
        exp = ((lon[None, :] >= x0) & (lon[None, :] <= x1)
               & (lat[:, None] >= y0) & (lat[:, None] <= y1)).astype(np.int64)
        assert np.array_equal(grid, exp), (tx, ty)
        total += int(exp.sum())
    assert total > 1000  # non-vacuous


def test_rasterize_polygons_overlap_semantics(spark):
    import pandas as pd

    from engine import geom, raster

    a = geom.wkb_polygon([[(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0)]])
    b = geom.wkb_polygon([[(10.0, 10.0), (30.0, 10.0), (30.0, 30.0), (10.0, 30.0)]])
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "geom_wkb": [a, b], "v": [5, 9]})
    )
    rep = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in raster.rasterize_polygons(polys, 3, value_col="v").collect()}
    add = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in raster.rasterize_polygons(polys, 3, value_col="v", merge_alg="add").collect()}
    vals_rep = set()
    vals_add = set()
    for (tx, ty), grid in rep.items():
        lon, lat = _pixel_centers(tx, ty, 3)
        in_a = (lon[None, :] >= 0) & (lon[None, :] <= 20) & (lat[:, None] >= 0) & (lat[:, None] <= 20)
        in_b = (lon[None, :] >= 10) & (lon[None, :] <= 30) & (lat[:, None] >= 10) & (lat[:, None] <= 30)
        exp_rep = np.where(in_b, 9, np.where(in_a, 5, 0))
        exp_add = np.where(in_b, 9, 0) + np.where(in_a, 5, 0)
        assert np.array_equal(grid, exp_rep), (tx, ty)
        assert np.array_equal(add[(tx, ty)], exp_add), (tx, ty)
        vals_rep.update(np.unique(grid).tolist())
        vals_add.update(np.unique(add[(tx, ty)]).tolist())
    assert 14 in vals_add   # overlap sums
    assert 14 not in vals_rep  # replace keeps the later feature's value


def test_rasterize_polygon_with_hole(spark):
    import pandas as pd

    from engine import geom, raster

    ring = [(0.0, 0.0), (30.0, 0.0), (30.0, 30.0), (0.0, 30.0)]
    hole = [(10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0)]
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "geom_wkb": [geom.wkb_polygon([ring, hole])]})
    )
    for r in raster.rasterize_polygons(polys, 3).collect():
        grid = raster.bytes_to_tile(r.data)
        lon, lat = _pixel_centers(r.tx, r.ty, 3)
        in_ext = (lon[None, :] >= 0) & (lon[None, :] <= 30) & (lat[:, None] >= 0) & (lat[:, None] <= 30)
        in_hole = (lon[None, :] > 10) & (lon[None, :] < 20) & (lat[:, None] > 10) & (lat[:, None] < 20)
        exp = (in_ext & ~in_hole).astype(np.int64)
        assert np.array_equal(grid, exp), (r.tx, r.ty)


def test_rasterize_lines_bresenham_oracle(spark):
    """Line burn equals a single-process Bresenham walk of the same
    global pixel endpoints — incl. a seam-crossing segment burned across
    two tiles with the same error-accumulator state."""
    import pandas as pd

    from engine import geom, raster, tiles

    zoom = 3
    rows = [
        (0, geom.wkb_linestring([(-30.0, 5.0), (10.0, 5.0)])),    # horizontal, crosses tiles
        (1, geom.wkb_linestring([(2.0, 2.0), (18.0, 14.0)])),      # oblique
        (2, geom.wkb_linestring([(50.0, -10.0), (50.0, 25.0)])),   # vertical
    ]
    lines = spark.createDataFrame(pd.DataFrame(rows, columns=["lid", "geom_wkb"]))
    got = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in raster.rasterize_lines(lines, zoom).collect()}

    exp: dict = {}
    for _, wkb in rows:
        _, pts = geom.wkb_loads(wkb)
        arr = np.asarray(pts)
        px, py = tiles.lonlat_to_pixels(arr[:, 0], arr[:, 1], zoom)
        ix = np.floor(px).astype(np.int64)
        iy = np.floor(py).astype(np.int64)
        seen = set()
        for s in range(len(ix) - 1):
            for cx, cy in raster._bresenham(int(ix[s]), int(iy[s]), int(ix[s + 1]), int(iy[s + 1])):
                if (cx, cy) in seen:
                    continue
                seen.add((cx, cy))
                tx, ty = cx // 256, cy // 256
                g = exp.setdefault((tx, ty), np.zeros((256, 256), dtype=np.int64))
                g[256 - 1 - (cy - ty * 256), cx - tx * 256] = 1
    assert set(exp) <= set(got)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k
    for k in set(got) - set(exp):  # padded cover tiles burn nothing
        assert not got[k].any(), k
    # the horizontal line's row really spans a tile seam
    assert len({k[0] for k in exp}) >= 2


def test_rasterize_lines_add_counts_features_once(spark):
    import pandas as pd

    from engine import geom, raster

    # two features over the same horizontal path; a multi-vertex polyline
    # revisiting its midpoint must count once per feature
    l1 = geom.wkb_linestring([(0.0, 0.0), (5.0, 0.0)])
    l2 = geom.wkb_linestring([(0.0, 0.0), (2.5, 0.0), (5.0, 0.0)])
    lines = spark.createDataFrame(
        pd.DataFrame({"lid": [1, 2], "geom_wkb": [l1, l2], "v": [3, 4]})
    )
    out = raster.rasterize_lines(lines, 3, value_col="v", merge_alg="add").collect()
    vals = set()
    for r in out:
        vals.update(np.unique(raster.bytes_to_tile(r.data)).tolist())
    assert vals == {0, 7}  # every burned pixel = 3 + 4, never 3+4+4


def test_translate_scale_clamp_window(spark):
    """gdal_translate analog: -scale linear map + -ot Byte clamp + -srcwin
    crop, all against closed-form numpy."""
    import pandas as pd

    from engine import raster

    T = raster.TILE_SIZE
    g0 = (np.arange(T * T, dtype=np.int64) % 1000).reshape(T, T)
    g1 = g0 + 7
    tiles_df = spark.createDataFrame(
        pd.DataFrame({"zoom": [3, 3], "tx": [2, 3], "ty": [1, 1],
                      "data": [raster.tile_to_bytes(g0), raster.tile_to_bytes(g1)]})
    )
    # scale [0,1000] -> [0,255], clamp byte
    out = {(r.tx, r.ty): raster.bytes_to_tile(r.data)
           for r in raster.translate(tiles_df, scale=(0, 1000, 0, 255), out_range=(0, 255)).collect()}
    for (tx, ty), g in (((2, 1), g0), ((3, 1), g1)):
        exp = np.clip(np.floor(g * (255.0 / 1000.0) + 0.5), 0, 255).astype(np.int64)
        assert np.array_equal(out[(tx, ty)], exp), (tx, ty)
    # srcwin keeping only tile (2,1)'s right half: global x in [2.5T, 3T)
    w = raster.translate(tiles_df, window_px=(int(2.5 * T), T, 3 * T, 2 * T)).collect()
    got = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in w}
    assert set(got) == {(2, 1)}  # tile (3,1) fully outside -> dropped
    half = got[(2, 1)]
    assert not half[:, : T // 2].any()
    assert np.array_equal(half[:, T // 2 :], g0[:, T // 2 :])
    # identity short-circuit
    assert raster.translate(tiles_df) is tiles_df


def test_hillshade_variants(spark):
    """gdaldem -combined and -multidirectional variant properties (seam
    exactness is covered by the parametrized focal test): flat terrain
    shades to round(sin(45°)·255) in every variant, and the combined
    form never exceeds the plain shade (slope darkening)."""
    from engine import focal

    T = 256
    flat = np.full((T + 2, T + 2), 7.0)
    v = int(np.floor(np.sin(np.radians(45.0)) * 255.0 + 0.5))
    assert (focal.hillshade_multidirectional_kernel(flat) == v).all()
    assert (focal.hillshade_combined_kernel(flat) == v).all()
    rng = np.random.default_rng(6)
    pad2 = np.pad(rng.integers(0, 50, (T, T)).astype(np.int64), 1, mode="edge")
    assert (focal.hillshade_combined_kernel(pad2) <= focal.hillshade_kernel(pad2)).all()


def test_equalize_matches_reference_lut(spark, tile_table):
    """gdalenhance -equalize: the distributed LUT must match a direct
    single-process implementation of apps/gdalenhance.cpp:477-560 (extreme
    bins zeroed, half-bin-midpoint cumulative, integer LUT rule) applied
    per pixel."""
    H = L = 256
    grids = _collect_grids(tile_table)
    allv = np.concatenate([g.ravel() for g in grids.values()]).astype(np.float64)
    lo, hi = allv.min(), allv.max()
    scale = H / (hi - lo)
    idx = np.clip(((allv - lo) * scale).astype(np.int64), 0, H - 1)
    hist = np.bincount(idx, minlength=H)
    hist[0] = 0
    hist[-1] = 0
    cum = np.cumsum(hist) - hist + hist // 2
    total = max(int(hist.sum()), 1)
    lut = np.clip((cum[(np.arange(L) * H) // L] * L) // total, 0, L - 1)
    out = _collect_grids(raster.equalize(tile_table))
    assert set(out) == set(grids)
    for k, g in grids.items():
        bins = np.clip(((g.astype(np.float64) - lo) * (L / (hi - lo))).astype(np.int64), 0, L - 1)
        assert np.array_equal(out[k], lut[bins]), k


def test_to_xyz_pixel_centers(spark, tile_table):
    from engine import tiles as tmod

    one = tile_table.limit(1)
    r = one.collect()[0]
    g = raster.bytes_to_tile(r.data)
    rows = raster.to_xyz(one).collect()
    assert len(rows) == g.size
    # nonzero filter drops exactly the zero pixels
    assert len(raster.to_xyz(one, skip_zero=True).collect()) == int((g != 0).sum())
    # a known pixel center round-trips through the tile math
    got = {(round(x.lon, 9), round(x.lat, 9)): x.value for x in rows}
    t = g.shape[0]
    for py_, px_ in [(0, 0), (t - 1, t - 1), (t // 2, 3)]:
        mx, my = tmod.pixels_to_meters(
            np.array([r.tx * t + px_ + 0.5]), np.array([r.ty * t + py_ + 0.5]), r.zoom
        )
        lon, lat = tmod.meters_to_lonlat(mx, my)
        assert got[(round(float(lon[0]), 9), round(float(lat[0]), 9))] == g[py_, px_]


def test_compare_tiles(spark, tile_table):
    same = raster.compare_tiles(tile_table, tile_table)
    assert same.where("NOT match").count() == 0
    # perturb one tile and drop another
    rows = tile_table.collect()
    pert = []
    bumped_key, dropped_key = None, None
    for i, r in enumerate(rows):
        if i == 0:
            g = raster.bytes_to_tile(r.data).copy()
            g[5, 7] += 3
            g[9, 2] += 1
            pert.append((r.zoom, r.tx, r.ty, raster.tile_to_bytes(g)))
            bumped_key = (r.zoom, r.tx, r.ty)
        elif i == 1:
            dropped_key = (r.zoom, r.tx, r.ty)
        else:
            pert.append((r.zoom, r.tx, r.ty, r.data))
    newdf = spark.createDataFrame(pd.DataFrame(pert, columns=["zoom", "tx", "ty", "data"]))
    cmp_rows = {
        (r.zoom, r.tx, r.ty): r for r in raster.compare_tiles(tile_table, newdf).collect()
    }
    assert len(cmp_rows) == len(rows)
    bad = cmp_rows[bumped_key]
    assert not bad.match and bad.pixels_differing == 2 and bad.max_abs_diff == 3
    miss = cmp_rows[dropped_key]
    assert not miss.match and miss.checksum_new is None and miss.checksum_golden is not None
    assert sum(1 for r in cmp_rows.values() if r.match) == len(rows) - 2


def test_pct2rgb_roundtrip(spark, tile_table):
    """apply_palette → pct2rgb is the identity on in-palette pixels
    (pct2rgb.py semantics: pure LUT expand)."""
    from engine import quantize

    rgb = tile_table.selectExpr(
        "zoom", "tx", "ty",
        "data as data_r", "data as data_g", "data as data_b"
    )
    pal = quantize.compute_median_cut_pct(rgb, n_colors=16)
    pct = quantize.apply_palette(rgb, pal)
    back = quantize.pct2rgb(pct, pal)
    got = {(r.tx, r.ty): r for r in back.collect()}
    for r in pct.collect():
        idx = np.frombuffer(bytes(r.data), dtype="<i4").astype(np.int64)
        side = int(round(np.sqrt(idx.size)))
        idx = idx.reshape(side, side)
        o = got[(r.tx, r.ty)]
        assert np.array_equal(raster.bytes_to_tile(o.data_r), pal[idx, 0])
        assert np.array_equal(raster.bytes_to_tile(o.data_g), pal[idx, 1])
        assert np.array_equal(raster.bytes_to_tile(o.data_b), pal[idx, 2])


def test_info_analogs(spark):
    """ogrinfo/gdalinfo summary analogs: field inventory + extent for
    layers; size/tile-count/stats/checksum-xor per zoom for rasters."""
    import numpy as np
    from engine.raster import TILE_SIZE, gdal_checksum, raster_info, tile_to_bytes
    from engine.vector import layer_info

    pts = spark.createDataFrame(
        [(i, float(i), float(2 * i), f"u{i}") for i in range(10)],
        "fid long, lon double, lat double, url string",
    )
    li = layer_info(pts).collect()[0]
    assert li["feature_count"] == 10 and li["n_fields"] == 4
    assert li["minx"] == 0.0 and li["maxx"] == 9.0 and li["maxy"] == 18.0
    assert "lon: double" in li["fields"] and "url: string" in li["fields"]

    g0 = np.arange(TILE_SIZE * TILE_SIZE, dtype=np.int64).reshape(TILE_SIZE, TILE_SIZE) % 7
    g1 = (g0 * 3) % 11
    tiles = spark.createDataFrame(
        [(3, 1, 2, tile_to_bytes(g0)), (3, 2, 2, tile_to_bytes(g1))],
        "zoom int, tx long, ty long, data binary",
    )
    ri = raster_info(tiles).collect()[0]
    assert ri["n_tiles"] == 2 and ri["x_size"] == 2 * TILE_SIZE and ri["y_size"] == TILE_SIZE
    assert ri["checksum_xor"] == (gdal_checksum(g0.astype(np.int32)) ^ gdal_checksum(g1.astype(np.int32)))
    assert ri["min_val"] == 0 and ri["max_val"] == 9
    assert ri["n_pixels"] == 2 * TILE_SIZE * TILE_SIZE


# -- ALL_TOUCHED + BURN_VALUE_FROM=Z (gdal_rasterize options, round 4) -------


def _dense_touch_pixels(p0, p1, zoom, n=40000):
    """Independent all-touched oracle: densely sample the continuous segment
    IN GLOBAL PIXEL SPACE (the rasterizer, like the reference, walks raster
    coordinates — mercator py is nonlinear in latitude, so sampling lon/lat
    would trace a different curve) and floor — converges to the set of
    pixels whose interior the segment passes through (generic,
    non-boundary-degenerate coordinates assumed)."""
    from engine import tiles

    ex, ey = tiles.lonlat_to_pixels(
        np.array([p0[0], p1[0]]), np.array([p0[1], p1[1]]), zoom
    )
    t = np.linspace(0.0, 1.0, n)
    px = ex[0] + (ex[1] - ex[0]) * t
    py = ey[0] + (ey[1] - ey[0]) * t
    return set(zip(np.floor(px).astype(int).tolist(), np.floor(py).astype(int).tolist()))


def _collect_burned(rows):
    from engine import raster

    burned = {}
    for r in rows:
        grid = raster.bytes_to_tile(r.data)
        ys, xs = np.nonzero(grid)
        for y, x in zip(ys.tolist(), xs.tolist()):
            cx = r.tx * 256 + x
            cy = r.ty * 256 + (256 - 1 - y)
            burned[(cx, cy)] = int(grid[y, x])
    return burned


def test_rasterize_lines_all_touched_matches_dense_sampling(spark):
    """ALL_TOUCHED burns exactly the pixels the continuous segment touches
    (GDALdllImageLineAllTouched semantics), verified against an independent
    dense-sampling oracle — including tile-seam crossings."""
    import pandas as pd

    from engine import geom, raster

    zoom = 3
    segs = [
        ((-31.7, 4.3), (11.9, 6.8)),    # shallow oblique, crosses tiles
        ((2.3, 1.7), (17.6, 14.9)),     # steep-ish oblique
        ((50.3, -9.7), (50.3, 24.6)),   # vertical
        ((-4.9, 40.2), (23.8, 40.2)),   # horizontal
        ((10.1, 30.5), (-20.7, 8.3)),   # right-to-left (swap path)
    ]
    rows = [(i, geom.wkb_linestring([a, b])) for i, (a, b) in enumerate(segs)]
    lines = spark.createDataFrame(pd.DataFrame(rows, columns=["lid", "geom_wkb"]))
    burned = _collect_burned(
        raster.rasterize_lines(lines, zoom, all_touched=True).collect()
    )
    exp = set()
    for a, b in segs:
        exp |= _dense_touch_pixels(a, b, zoom)
    assert set(burned) == exp
    # all-touched strictly widens the Bresenham chain on oblique segments
    chain = _collect_burned(raster.rasterize_lines(lines, zoom).collect())
    assert len(burned) > len(chain)


def test_rasterize_lines_all_touched_z_interpolation(spark):
    """BURN_VALUE_FROM=Z on an all-touched horizontal segment: per-pixel
    value follows the reference's per-unit-iX linear interpolation
    (llrasterize.cpp:475-505), truncated to int."""
    import math

    import pandas as pd

    from engine import geom, raster, tiles

    zoom = 3
    (x0, y0, z0), (x1, y1, z1) = (-4.9, 40.2, 100.0), (23.8, 40.2, 400.0)
    wkb = geom.wkb_linestring_z([(x0, y0, z0), (x1, y1, z1)])
    lines = spark.createDataFrame(pd.DataFrame({"lid": [0], "geom_wkb": [wkb]}))
    burned = _collect_burned(
        raster.rasterize_lines(
            lines, zoom, all_touched=True, burn_value_from_z=True
        ).collect()
    )
    px, py = tiles.lonlat_to_pixels(np.array([x0, x1]), np.array([y0, y1]), zoom)
    iy = int(math.floor(py[0]))
    dvar = (z1 - z0) / (px[1] - px[0])
    ix0, ix1 = int(math.floor(px[0])), int(math.floor(px[1]))
    exp = {}
    v = z0 + dvar * (ix0 - px[0])
    for ix in range(ix0, ix1 + 1):
        exp[(ix, iy)] = int(1 + v)  # burn value 1 + interpolated z, truncated
        v += dvar
    assert burned == exp


def test_rasterize_polygons_all_touched(spark):
    """ALL_TOUCHED polygons: center-rule fill PLUS every ring-touched pixel
    — including the HOLE boundary, which burns even though the hole
    interior does not (gdalrasterize.cpp:411-447 walks every ring)."""
    import pandas as pd

    from engine import geom, raster

    zoom = 3
    ext = [(0.3, 0.4), (30.2, 0.4), (30.2, 29.7), (0.3, 29.7)]
    hole = [(10.2, 10.3), (19.8, 10.3), (19.8, 19.6), (10.2, 19.6)]
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "geom_wkb": [geom.wkb_polygon([ext, hole])]})
    )
    burned = set(
        _collect_burned(
            raster.rasterize_polygons(polys, zoom, all_touched=True).collect()
        )
    )
    fill = set(
        _collect_burned(raster.rasterize_polygons(polys, zoom).collect())
    )
    ring_touch = set()
    for ring in (ext, hole):
        closed = ring + ring[:1]
        for s in range(len(closed) - 1):
            ring_touch |= _dense_touch_pixels(closed[s], closed[s + 1], zoom)
    assert burned == fill | ring_touch
    # the hole boundary burned pixels the fill did not
    assert not (ring_touch <= fill)


def test_rasterize_polygons_burn_value_from_z(spark):
    """BURN_VALUE_FROM=Z uses the FIRST vertex's Z for the whole polygon
    (fill and boundary both use dfVariant[0] — llrasterize.cpp:209, the
    gdalrasterize.cpp:421-434 revert)."""
    import pandas as pd

    from engine import geom, raster

    ring = [(0.3, 0.4, 7.0), (30.2, 0.4, 99.0), (30.2, 29.7, -3.0), (0.3, 29.7, 55.0)]
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "geom_wkb": [geom.wkb_polygon_z([ring])], "v": [2]})
    )
    burned = _collect_burned(
        raster.rasterize_polygons(
            polys, 3, value_col="v", all_touched=True, burn_value_from_z=True
        ).collect()
    )
    assert burned
    assert set(burned.values()) == {9}  # 2 + first-vertex z (7), everywhere


def test_rasterize_all_touched_add_burns_per_visit(spark):
    """In ADD mode the all-touched walk burns per VISIT like gvBurnPoint:
    a polygon's boundary pixels accumulate the fill burn plus each ring
    visit, so their value exceeds the interior's."""
    import pandas as pd

    from engine import geom, raster

    ring = [(0.3, 0.4), (30.2, 0.4), (30.2, 29.7), (0.3, 29.7)]
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "geom_wkb": [geom.wkb_polygon([ring])], "v": [5]})
    )
    burned = _collect_burned(
        raster.rasterize_polygons(
            polys, 3, value_col="v", merge_alg="add", all_touched=True
        ).collect()
    )
    vals = set(burned.values())
    assert 5 in vals           # interior: fill only
    assert max(vals) >= 10     # boundary: fill + at least one ring visit


def test_burn_points_value_z_and_replace(spark):
    """Point rasterization with values, Z source, and both merge
    semantics, against a brute-force pixel dict."""
    import pandas as pd

    from engine import raster, tiles

    rows = [
        # (pid, lon, lat, v, z) — two points share a pixel
        (1, 10.02, 10.02, 5, 100.0),
        (2, 10.021, 10.021, 7, 200.0),
        (3, -40.0, -12.0, 2, 50.0),
    ]
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["pid", "lon", "lat", "v", "z"])
    )
    zoom = 3

    def pix(lon, lat):
        import numpy as np

        px, py = tiles.lonlat_to_pixels(np.array([lon]), np.array([lat]), zoom)
        tx, ty = tiles.pixels_to_tile(px, py)
        ix = int(np.floor(px[0])) - int(tx[0]) * 256
        iy = int(np.floor(py[0])) - int(ty[0]) * 256
        return int(tx[0]), int(ty[0]), ix, 255 - iy

    assert pix(*rows[0][1:3]) == pix(*rows[1][1:3])  # really co-located

    def grids(df):
        return {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in df.collect()}

    add = grids(raster.burn_points(pts, zoom, value_col="v"))
    t, y, x, r = pix(10.02, 10.02)
    assert add[(t, y)][r, x] == 12  # 5 + 7 summed
    rep = grids(raster.burn_points(pts, zoom, value_col="v", merge_alg="replace", id_col="pid"))
    assert rep[(t, y)][r, x] == 7   # last feature (pid 2) wins
    zb = grids(raster.burn_points(pts, zoom, value_col="v", z_col="z",
                                  merge_alg="replace", id_col="pid"))
    assert zb[(t, y)][r, x] == 207  # 7 + z 200
    t3, y3, x3, r3 = pix(-40.0, -12.0)
    assert zb[(t3, y3)][r3, x3] == 52
    # default burn value 1 == density fast path
    dens = grids(raster.burn_points(pts, zoom))
    base = grids(raster.burn_base_tiles(pts, zoom))
    assert set(dens) == set(base)
    for k in base:
        import numpy as np

        assert np.array_equal(dens[k], base[k])
    import pytest

    with pytest.raises(ValueError):
        raster.burn_points(pts, zoom, merge_alg="replace")


def test_rasterize_invert(spark):
    """gdal_rasterize -i: the inverted burn covers exactly extent-minus-
    inputs (even-odd: a HOLE re-burns), verified pixel-for-pixel as the
    complement of the forward burn within the universe cover."""
    import pandas as pd

    from engine import geom, raster

    zoom = 3
    ext = (-40.0, -20.0, 40.0, 30.0)
    ring = [(0.3, 0.4), (30.2, 0.4), (30.2, 29.7), (0.3, 29.7)]
    hole = [(10.2, 10.3), (19.8, 10.3), (19.8, 19.6), (10.2, 19.6)]
    polys = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "geom_wkb": [geom.wkb_polygon([ring, hole])]})
    )
    inv = _collect_burned(raster.rasterize_invert(polys, zoom, ext).collect())
    fwd = set(_collect_burned(raster.rasterize_polygons(polys, zoom).collect()))
    # universe pixel set: the forward burn of the padded extent rectangle
    from engine import tiles as _t
    import numpy as np

    px0, py0 = _t.lonlat_to_pixels(np.array([ext[0]]), np.array([ext[1]]), zoom)
    px1, py1 = _t.lonlat_to_pixels(np.array([ext[2]]), np.array([ext[3]]), zoom)
    mx0, my0 = _t.pixels_to_meters(px0 - 2.0, py0 - 2.0, zoom)
    mx1, my1 = _t.pixels_to_meters(px1 + 2.0, py1 + 2.0, zoom)
    lo0, la0 = _t.meters_to_lonlat(mx0, my0)
    lo1, la1 = _t.meters_to_lonlat(mx1, my1)
    uni_poly = spark.createDataFrame(pd.DataFrame({
        "pid": [0],
        "geom_wkb": [geom.wkb_polygon([[(float(lo0[0]), float(la0[0])),
                                        (float(lo1[0]), float(la0[0])),
                                        (float(lo1[0]), float(la1[0])),
                                        (float(lo0[0]), float(la1[0]))]])],
    }))
    universe = set(_collect_burned(raster.rasterize_polygons(uni_poly, zoom).collect()))
    assert set(inv) == universe - fwd
    # even-odd: the hole's interior is NOT in the forward burn, so it IS in
    # the inverted burn
    # pick a pixel well inside the hole
    pxh, pyh = _t.lonlat_to_pixels(np.array([15.0]), np.array([15.0]), zoom)
    hp = (int(np.floor(pxh[0])), int(np.floor(pyh[0])))
    assert hp in inv and hp not in fwd


def test_rasterize_invert_distributed_no_driver_collect(spark):
    """-i at scale: 10k polygons through the DISTRIBUTED invert — the burn
    must not collect the inputs to the driver (at most ONE 1-row collect for
    the burn constant), and the result must be the exact per-pixel complement
    of the forward burn within the universe cover."""
    import pandas as pd

    from engine import geom, raster
    from engine import tiles as _t

    zoom = 6
    ext = (-40.05, -20.05, 40.05, 30.05)
    # 10k small squares scattered inside the extent, deterministic layout
    n = 10_000
    ii = np.arange(n)
    lon0 = -39.0 + (ii % 125) * 0.62
    lat0 = -19.0 + (ii // 125) * 0.59
    rows = [
        (int(i), 7, geom.wkb_polygon([[(x, y), (x + 0.25, y), (x + 0.25, y + 0.25), (x, y + 0.25)]]))
        for i, x, y in zip(ii.tolist(), lon0.tolist(), lat0.tolist())
    ]
    polys = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "val", "geom_wkb"]))

    import pyspark.sql.classic.dataframe as _cdf

    calls = []
    orig = _cdf.DataFrame.collect

    def spy(self):
        out = orig(self)
        calls.append(len(out))
        return out

    _cdf.DataFrame.collect = spy
    try:
        inv_rows = raster.rasterize_invert(polys, zoom, ext, value_col="val").collect()
        fwd_rows = raster.rasterize_polygons(polys, zoom).collect()
    finally:
        _cdf.DataFrame.collect = orig
    # collects: the 1-row burn-constant lookup + the two result collects —
    # NEVER the 10k input polygons
    assert len(calls) == 3, calls
    assert calls[0] <= 1, f"driver-side input collect detected: {calls}"

    # exact complement per tile, vectorized: inv == universe & ~fwd
    px0, py0 = _t.lonlat_to_pixels(np.array([ext[0]]), np.array([ext[1]]), zoom)
    px1, py1 = _t.lonlat_to_pixels(np.array([ext[2]]), np.array([ext[3]]), zoom)
    mx0, my0 = _t.pixels_to_meters(px0 - 2.0, py0 - 2.0, zoom)
    mx1, my1 = _t.pixels_to_meters(px1 + 2.0, py1 + 2.0, zoom)
    lo0, la0 = _t.meters_to_lonlat(mx0, my0)
    lo1, la1 = _t.meters_to_lonlat(mx1, my1)

    fwd = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in fwd_rows}
    inv = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in inv_rows}
    seen_any = False
    keys = set(inv) | set(fwd)
    for (tx, ty) in keys:
        cols = np.arange(256)
        px = tx * 256 + cols + 0.5
        py = (ty + 1) * 256 - np.arange(256) - 0.5
        mx, _ = _t.pixels_to_meters(px, np.zeros_like(px), zoom)
        _, my = _t.pixels_to_meters(np.zeros_like(py), py, zoom)
        lon, _ = _t.meters_to_lonlat(mx, np.zeros_like(mx))
        _, lat = _t.meters_to_lonlat(np.zeros_like(my), my)
        uni = (
            (lon[None, :] >= lo0[0]) & (lon[None, :] <= lo1[0])
            & (lat[:, None] >= la0[0]) & (lat[:, None] <= la1[0])
        )
        f = fwd.get((tx, ty), np.zeros((256, 256), dtype=np.int64)) != 0
        i = inv.get((tx, ty), np.zeros((256, 256), dtype=np.int64)) != 0
        assert np.array_equal(i, uni & ~f), (tx, ty)
        seen_any = seen_any or i.any()
    assert seen_any


def test_rasterize_drops_covered_tiles_it_did_not_burn(spark):
    """The three geometry burns keep only tiles they burned: a tile their
    bbox cover (padded under ALL_TOUCHED and for lines) reaches but the
    geometry misses gives no row, at zoom 3 (tiles 45° wide, tile row 4 =
    lat 0..40.98, row 5 = 40.98..66.51), also for geometries wholly beyond
    ±180°."""
    import pandas as pd

    from engine import geom, raster

    def burned(df):
        got = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in df.collect()}
        assert all(g.any() for g in got.values())
        return set(got)

    # the hypotenuse crosses lon 45 at lat 30: tile (5, 5) of the 2×2
    # bbox cover stays empty
    tri = geom.wkb_polygon([[(1.0, 1.0), (89.0, 1.0), (1.0, 60.0)]])
    polys = spark.createDataFrame(pd.DataFrame({"pid": [0], "geom_wkb": [tri]}))
    assert burned(raster.rasterize_polygons(polys, 3)) == {(4, 4), (5, 4), (4, 5)}
    assert burned(raster.rasterize_polygons(polys, 3, all_touched=True)) == {(4, 4), (5, 4), (4, 5)}
    # the same diagonal as a line: through (5, 4), not (4, 5)
    line = geom.wkb_linestring([(1.0, 60.0), (89.0, 1.0)])
    lines = spark.createDataFrame(pd.DataFrame({"lid": [0], "geom_wkb": [line]}))
    assert burned(raster.rasterize_lines(lines, 3)) == {(4, 5), (4, 4), (5, 4)}
    # wholly beyond ±180°: the one-tile pad lands after the world clip, so
    # each padded cover reaches 2 tile columns × 3 tile rows at its world
    # edge, but no pixel centre or walked pixel lies in them
    far = [[(190.0, 10.0), (200.0, 10.0), (200.0, 20.0)], [(-200.0, 10.0), (-190.0, 10.0), (-190.0, 20.0)]]
    fars = spark.createDataFrame(pd.DataFrame({"pid": [0, 1], "geom_wkb": [geom.wkb_polygon([r]) for r in far]}))
    cover = raster._tile_cover(fars, "geom_wkb", 3, 1).collect()
    assert sorted((r.pid, r.tx, r.ty) for r in cover) == [
        (p, x, y) for p, xs in ((0, (6, 7)), (1, (0, 1))) for x in xs for y in (3, 4, 5)
    ]
    assert burned(raster.rasterize_polygons(fars, 3, all_touched=True)) == set()
    far_lines = spark.createDataFrame(pd.DataFrame({"lid": [0, 1], "geom_wkb": [geom.wkb_linestring(r) for r in far]}))
    assert burned(raster.rasterize_lines(far_lines, 3)) == set()
    # a box over all of tile (3, 4): the universe ring and the box both
    # contain every pixel centre there, so even-odd burns nothing in it
    box = geom.wkb_polygon([[(-50.0, -5.0), (5.0, -5.0), (5.0, 45.0), (-50.0, 45.0)]])
    boxes = spark.createDataFrame(pd.DataFrame({"pid": [0], "geom_wkb": [box]}))
    inv = burned(raster.rasterize_invert(boxes, 3, (-100.0, -50.0, 100.0, 60.0)))
    assert (3, 4) not in inv and {(2, 4), (4, 4), (3, 5), (3, 3)} <= inv
