"""Contour marching squares (distributed == mosaic; analytic linear field)
and linear referencing (project/interpolate/substring vs brute force)."""

import numpy as np
import pandas as pd
import pytest

from engine import contour, lineref, raster

T = raster.TILE_SIZE


def _tile_table(spark, grids: dict):
    pdf = pd.DataFrame(
        {
            "zoom": [3] * len(grids),
            "tx": [k[0] for k in grids],
            "ty": [k[1] for k in grids],
            "data": [raster.tile_to_bytes(g) for g in grids.values()],
        }
    )
    return spark.createDataFrame(pdf)


def test_cell_segments_linear_field():
    # v = col + row → level k+0.5 crosses cells on two anti-diagonals, each
    # crossing cell contributes one sqrt(0.5) segment
    g = np.add.outer(np.arange(8), np.arange(8)).astype(float)
    segs = contour.cell_segments(g, [4.5])
    # cells with TL sum s: n(4) + n(3); grid of 7x7 cells: n(s) = #{(r,c): r+c=s, 0<=r,c<=6}
    n = lambda s: sum(1 for r in range(7) for c in range(7) if r + c == s)
    assert len(segs) == n(4) + n(3)
    for _, x1, y1, x2, y2 in segs:
        assert abs(np.hypot(x2 - x1, y2 - y1) - np.sqrt(0.5)) < 1e-12


def test_cell_segments_closed_circle():
    # radial field: contour at r=10.3 around center → closed ring, total
    # length ≈ 2π·10.3 (marching squares chord approximation, within 2%);
    # non-integer level keeps the ring off grid points (no degenerate hits)
    yy, xx = np.mgrid[0:64, 0:64]
    v = np.hypot(xx - 32, yy - 32)
    segs = contour.cell_segments(v, [10.3])
    L = sum(np.hypot(x2 - x1, y2 - y1) for _, x1, y1, x2, y2 in segs)
    assert abs(L - 2 * np.pi * 10.3) / (2 * np.pi * 10.3) < 0.02
    # endpoints must chain: every crossing point appears exactly twice
    from collections import Counter

    cnt = Counter()
    for _, x1, y1, x2, y2 in segs:
        cnt[(round(x1, 9), round(y1, 9))] += 1
        cnt[(round(x2, 9), round(y2, 9))] += 1
    assert all(v == 2 for v in cnt.values())


def test_contour_distributed_matches_mosaic(spark):
    rng = np.random.default_rng(11)
    # smooth-ish random field over 2x2 tiles
    base = rng.integers(0, 50, (2 * T // 32 + 2, 2 * T // 32 + 2)).astype(float)
    big = np.kron(base, np.ones((32, 32)))[: 2 * T, : 2 * T]
    # add gradients so contours cross seams
    big = big + np.add.outer(np.arange(2 * T) * 0.1, np.arange(2 * T) * 0.07)
    big = np.floor(big).astype(np.int64)
    levels = [10.5, 30.5, 55.5]
    # the full 2x2 layout, and an L of 3 tiles whose south-east tile (1, 0)
    # is absent: tile (0, 1) then lacks its south-east neighbour, (1, 1) its
    # south one and (0, 0) its east one
    for layout in ([(0, 0), (0, 1), (1, 0), (1, 1)], [(0, 0), (0, 1), (1, 1)]):
        grids = {}
        mosaic = np.full((2 * T, 2 * T), np.nan)
        for tx, ty in layout:
            r0 = (1 - ty) * T
            grids[(tx, ty)] = big[r0 : r0 + T, tx * T : (tx + 1) * T]
            mosaic[r0 : r0 + T, tx * T : (tx + 1) * T] = grids[(tx, ty)]
        segs = contour.contour_segments(_tile_table(spark, grids), levels).collect()
        got = sorted(
            (r.level, round(r.x1, 9), round(r.y1, 9), round(r.x2, 9), round(r.y2, 9)) for r in segs
        )
        # mosaic oracle: same kernel once over the full array, NaN where a
        # tile is absent; tile (tx,ty=1) top row is mosaic row 0 → global y
        # offset = -1*T (ty=1 topmost)
        exp = sorted(
            (l, round(x1, 9), round(y1, 9), round(x2, 9), round(y2, 9))
            for (l, x1, y1, x2, y2) in contour.cell_segments(mosaic, levels, x0=0.0, y0=float(-1 * T))
        )
        assert got == exp, layout


def test_contour_polylines_loop_spanning_four_tiles(spark):
    # radial field centered on the 2×2-tile corner: the r=80.3 contour is a
    # closed loop crossing all four tiles — must assemble into ONE closed
    # polyline from the per-tile chains (round-2 distributed stitch)
    big = np.hypot(*np.mgrid[0 : 2 * T, 0 : 2 * T] - float(T)).astype(np.int64)
    grids = {
        (0, 1): big[:T, :T], (1, 1): big[:T, T:],
        (0, 0): big[T:, :T], (1, 0): big[T:, T:],
    }
    out = contour.contour_polylines(_tile_table(spark, grids), [80.3]).collect()
    assert len(out) == 1
    row = out[0]
    assert row.closed
    # exact parity with the single-process mosaic stitch (the int-quantized
    # field makes the loop jagged, so only exact comparison is meaningful)
    segs = [
        (x1, y1, x2, y2)
        for _, x1, y1, x2, y2 in contour.cell_segments(big.astype(float), [80.3], x0=0.0, y0=-256.0)
    ]
    lines = contour.stitch_segments(sorted(segs))
    assert len(lines) == 1
    L = np.hypot(*np.diff(lines[0], axis=0).T).sum()
    assert abs(row.length - L) < 1e-9
    assert row.n_points == lines[0].shape[0]
    from engine import geom

    kind, body = geom.wkb_loads(row.geom_wkb)
    assert kind == "LineString" and body.shape[0] == row.n_points
    assert np.array_equal(body[0], body[-1])


def test_polyline_project_matches_bruteforce():
    rng = np.random.default_rng(3)
    pts = [(0, 0), (10, 0), (10, 5), (22, 9), (22, 30)]
    pl = lineref.Polyline(pts)
    px = rng.uniform(-5, 30, 500)
    py = rng.uniform(-5, 35, 500)
    m, d = pl.project(px, py)
    # brute force: dense sampling along the line
    ms = np.linspace(0, pl.length, 200001)
    sx, sy = pl.interpolate(ms)
    for i in range(0, 500, 25):
        dd = np.hypot(sx - px[i], sy - py[i])
        j = int(np.argmin(dd))
        assert abs(d[i] - dd[j]) < 1e-3
        assert abs(m[i] - ms[j]) < 5e-3 or abs(d[i] - dd[j]) < 1e-6


def test_polyline_interpolate_substring_mileposts():
    pl = lineref.Polyline([(0, 0), (3, 4), (3, 14)])  # seglens 5, 10
    x, y = pl.interpolate(np.array([2.5, 5.0, 10.0]))
    assert np.allclose(x, [1.5, 3.0, 3.0]) and np.allclose(y, [2.0, 4.0, 9.0])
    sub = pl.substring(2.5, 10.0)
    assert np.allclose(sub, [[1.5, 2.0], [3.0, 4.0], [3.0, 9.0]])
    mp = pl.mileposts(5.0)
    assert mp.shape == (4, 3) and np.allclose(mp[:, 0], [0, 5, 10, 15])


def test_locate_points_distributed(spark):
    pts = [(0.0, 0.0), (10.0, 0.0)]
    pdf = pd.DataFrame({"pid": [0, 1, 2], "lon": [2.0, 5.0, 11.0], "lat": [3.0, -1.0, 1.0]})
    out = lineref.locate_points(spark.createDataFrame(pdf), pts).collect()
    rows = {r.pid: (r.measure, r.offset) for r in out}
    assert rows[0] == (2.0, 3.0)
    assert rows[1] == (5.0, 1.0)
    assert rows[2] == (10.0, np.hypot(1.0, 1.0))


def test_stitch_segments_circle_closed_loop():
    yy, xx = np.mgrid[0:64, 0:64]
    v = np.hypot(xx - 32, yy - 32)
    segs = [(x1, y1, x2, y2) for _, x1, y1, x2, y2 in contour.cell_segments(v, [10.3])]
    lines = contour.stitch_segments(sorted(segs))
    assert len(lines) == 1
    line = lines[0]
    assert np.array_equal(line[0], line[-1])  # closed
    assert line.shape[0] == len(segs) + 1
    L = np.hypot(*np.diff(line, axis=0).T).sum()
    assert abs(L - 2 * np.pi * 10.3) / (2 * np.pi * 10.3) < 0.02


def test_contour_polylines_distributed(spark):
    # linear field over 2 tiles: each level = one open diagonal chain
    grids = {}
    for tx in (0, 1):
        c = np.arange(T)[None, :] + tx * T
        r = np.arange(T)[:, None]
        grids[(tx, 0)] = (c + r).astype(np.int64)
    lv = [100.5, 300.5]
    out = contour.contour_polylines(_tile_table(spark, grids), lv).collect()
    by_level = {}
    for row in out:
        by_level.setdefault(row.level, []).append(row)
    for level in lv:
        rows = by_level[level]
        assert len(rows) == 1  # one continuous open chain per level
        row = rows[0]
        assert not row.closed
        # chain length == sum of per-segment lengths from the aggregate op
        agg = {r.level: r.total_length for r in contour.contour_lengths(_tile_table(spark, grids), lv).collect()}
        assert abs(row.length - agg[level]) < 1e-9
        # WKB round-trips and is chained (consecutive points distinct)
        from engine import geom

        kind, body = geom.wkb_loads(row.geom_wkb)
        assert kind == "LineString" and body.shape[0] == row.n_points
        assert (np.abs(np.diff(body, axis=0)).sum(axis=1) > 0).all()
