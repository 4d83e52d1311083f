"""Geometry kernel: WKB round-trip, envelope, vectorized PIP vs scalar oracle."""

import numpy as np

from engine import geom
from engine.oracle import point_in_polygon

SQUARE = [[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]]
CONCAVE = [[(0, 0), (10, 0), (10, 4), (4, 4), (4, 6), (10, 6), (10, 10), (0, 10)]]
HOLED = [
    [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
    [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)],
]


def _close(rings):
    return [list(r) + [r[0]] for r in rings]


def test_wkb_point_roundtrip():
    kind, (x, y) = geom.wkb_loads(geom.wkb_point(1.5, -2.25))
    assert kind == "Point" and (x, y) == (1.5, -2.25)


def test_wkb_polygon_roundtrip():
    buf = geom.wkb_polygon(HOLED)
    kind, rings = geom.wkb_loads(buf)
    assert kind == "Polygon" and len(rings) == 2
    assert rings[0].shape == (5, 2)  # auto-closed
    assert tuple(rings[0][0]) == tuple(rings[0][-1])


def test_wkb_multipolygon():
    buf = geom.wkb_multipolygon([SQUARE, [[(20, 20), (30, 20), (30, 30), (20, 30)]]])
    kind, parts = geom.wkb_loads(buf)
    assert kind == "MultiPolygon" and len(parts) == 2
    rings = geom.polygon_rings(buf)
    assert len(rings) == 2


def test_wkb_big_endian():
    import struct

    # big-endian point
    buf = struct.pack(">BIdd", 0, 1, 3.0, 4.0)
    kind, (x, y) = geom.wkb_loads(buf)
    assert kind == "Point" and (x, y) == (3.0, 4.0)


def test_envelope():
    assert geom.envelope(geom.wkb_polygon(CONCAVE)) == (0, 0, 10, 10)
    assert geom.envelope(geom.wkb_point(5, -3)) == (5, -3, 5, -3)


def _check_against_oracle(rings, pts):
    prep = geom.PreparedPolygon(geom.wkb_polygon(rings))
    px = np.array([p[0] for p in pts], dtype=np.float64)
    py = np.array([p[1] for p in pts], dtype=np.float64)
    got = prep.contains(px, py)
    closed = _close(rings)
    for i, (x, y) in enumerate(pts):
        assert got[i] == point_in_polygon(x, y, closed), f"mismatch at {(x, y)}"


def test_pip_square():
    pts = [(5, 5), (0, 0), (10, 10), (5, 0), (0, 5), (10.001, 5), (-0.001, 5), (5, 10), (5, -0.1)]
    _check_against_oracle(SQUARE, pts)
    prep = geom.PreparedPolygon(geom.wkb_polygon(SQUARE))
    # boundary counts as match (GEOS Intersects rule, ogrlayer.cpp:1394-1401)
    assert prep.contains(np.array([0.0]), np.array([0.0]))[0]
    assert prep.contains(np.array([5.0]), np.array([10.0]))[0]
    assert not prep.contains(np.array([10.000001]), np.array([5.0]))[0]


def test_pip_concave_and_holes():
    rng = np.random.default_rng(5)
    pts = list(zip(rng.uniform(-2, 12, 400), rng.uniform(-2, 12, 400)))
    _check_against_oracle(CONCAVE, pts)
    _check_against_oracle(HOLED, pts)
    prep = geom.PreparedPolygon(geom.wkb_polygon(HOLED))
    assert not prep.contains(np.array([5.0]), np.array([5.0]))[0]  # inside hole
    assert prep.contains(np.array([4.0]), np.array([5.0]))[0]  # hole boundary
    assert prep.contains(np.array([2.0]), np.array([2.0]))[0]


def test_pip_random_polygon_mass():
    rng = np.random.default_rng(9)
    # random star-shaped polygon
    ang = np.sort(rng.uniform(0, 2 * np.pi, 17))
    rad = rng.uniform(2, 8, 17)
    ring = list(zip(50 + rad * np.cos(ang), 50 + rad * np.sin(ang)))
    pts = list(zip(rng.uniform(40, 60, 1000), rng.uniform(40, 60, 1000)))
    _check_against_oracle([ring], pts)


def test_multipolygon_pip():
    buf = geom.wkb_multipolygon([SQUARE, [[(20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0)]]])
    prep = geom.PreparedPolygon(buf)
    got = prep.contains(np.array([5.0, 25.0, 15.0]), np.array([5.0, 25.0, 15.0]))
    assert list(got) == [True, True, False]


def test_rectangle_fast_path_flag_and_parity():
    """The exact-rectangle shortcut: flag set only for true axis-aligned
    rectangles, and contains() is bit-identical to the ray-cast (forced via
    _test) on interior / boundary / corner / outside points."""
    rect = geom.PreparedPolygon(geom.wkb_polygon(SQUARE))
    assert rect.is_rect
    # diamond: 4 edges, none axis-parallel -> not a rect
    diamond = geom.PreparedPolygon(
        geom.wkb_polygon([[(5.0, 0.0), (10.0, 5.0), (5.0, 10.0), (0.0, 5.0)]])
    )
    assert not diamond.is_rect
    # rect WITH a hole: >4 edges -> not flagged (bbox test would be wrong)
    assert not geom.PreparedPolygon(geom.wkb_polygon(HOLED)).is_rect
    # multipolygon of two squares: 8 edges -> not flagged
    assert not geom.PreparedPolygon(
        geom.wkb_multipolygon([SQUARE, [[(20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0)]]])
    ).is_rect
    rng = np.random.default_rng(13)
    px = np.concatenate([rng.uniform(-2, 12, 3000), np.array([0.0, 10.0, 5.0, 0.0, 10.0, -1e-12])])
    py = np.concatenate([rng.uniform(-2, 12, 3000), np.array([0.0, 10.0, 0.0, 5.0, 10.0, 5.0])])
    fast = rect.contains(px, py)
    exact = rect._test(px, py)
    assert np.array_equal(fast, exact)
    # zero-area degenerate (a segment) also flags and equals its bbox test
    seg = geom.PreparedPolygon(geom.wkb_polygon([[(0.0, 0.0), (10.0, 0.0)]]))
    if seg.is_rect:
        assert np.array_equal(
            seg.contains(px, py), seg._test(px, py)
        )


def _kernel_layer():
    """Polygons covering every EdgeTable path: rectangles (is_rect), a
    concave ring, a hole, a MultiPolygon, overlapping polygons, a diamond
    and a 100-edge star (> EdgeTable.EMAX edges: the per-polygon fallback)."""
    k = np.arange(100)
    ang = k * (2 * np.pi / 100)
    rad = np.where(k % 2 == 0, 8.0, 4.0)
    star = list(zip(15 + rad * np.cos(ang), 15 + rad * np.sin(ang)))
    return [
        geom.wkb_polygon(SQUARE),
        geom.wkb_polygon(CONCAVE),
        geom.wkb_polygon(HOLED),
        geom.wkb_multipolygon([SQUARE, [[(20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0)]]]),
        geom.wkb_polygon([[(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)]]),
        geom.wkb_polygon([[(5.0, 0.0), (10.0, 5.0), (5.0, 10.0), (0.0, 5.0)]]),
        geom.wkb_polygon([star]),
    ]


def _kernel_points(wkbs):
    """Every vertex, every edge midpoint, random points and NaN points."""
    rng = np.random.default_rng(17)
    xs, ys = [rng.uniform(-2, 32, 600)], [rng.uniform(-2, 32, 600)]
    for w in wkbs:
        for ring in geom.polygon_rings(w):
            xs += [ring[:, 0], (ring[:-1, 0] + ring[1:, 0]) / 2]
            ys += [ring[:, 1], (ring[:-1, 1] + ring[1:, 1]) / 2]
    xs.append(np.array([np.nan, 5.0, np.nan]))
    ys.append(np.array([5.0, np.nan, np.nan]))
    return np.concatenate(xs), np.concatenate(ys)


def test_edge_table_matches_prepared_polygon():
    """The shared pair kernel gives PreparedPolygon.contains's answer on
    every (polygon, point) pair, through the rectangle, dense and fallback
    paths, and an empty pair list gives an empty answer."""
    wkbs = _kernel_layer()
    table = geom.EdgeTable(wkbs)
    assert table.n_edges[-1] > geom.EdgeTable.EMAX
    assert table.is_rect.tolist() == [True, False, False, False, True, False, False]
    px, py = _kernel_points(wkbs)
    slot = np.repeat(np.arange(len(wkbs)), px.size)
    got = table.contains(slot, np.tile(px, len(wkbs)), np.tile(py, len(wkbs))).reshape(len(wkbs), -1)
    for i, w in enumerate(wkbs):
        want = geom.PreparedPolygon(w).contains(px, py)
        assert np.array_equal(got[i], want), i
    # every polygon contains its own vertices (the boundary counts)
    assert got.sum() > len(wkbs) * 4
    # pairs in any order, including repeats, give the same answers
    perm = np.random.default_rng(3).permutation(slot.size)
    again = table.contains(slot[perm], np.tile(px, len(wkbs))[perm], np.tile(py, len(wkbs))[perm])
    assert np.array_equal(again, got.ravel()[perm])
    empty = table.contains(np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0))
    assert empty.dtype == bool and empty.shape == (0,)


def test_edge_table_rect_flags_match_prepared_polygon():
    """EdgeTable flags exactly the rectangles PreparedPolygon flags: the
    shoelace area is rounded, so another summation order flags others."""
    from engine.fixtures import make_polygons, subdivide_polygons

    wkbs = subdivide_polygons(make_polygons(500), 10)["geom_wkb"].tolist()
    table = geom.EdgeTable(wkbs)
    want = np.array([geom.PreparedPolygon(w).is_rect for w in wkbs])
    assert want.any() and np.array_equal(table.is_rect, want)


def test_vector_index_matches_prepared_polygon():
    """VectorPIPIndex (grid candidates → shared kernel) returns exactly the
    brute-force PreparedPolygon pairs, with more than eight polygons
    stacked in one grid cell, points outside the world, and a call with
    more points than one slice of EdgeTable.CHUNK."""
    wkbs = _kernel_layer() + [
        geom.wkb_polygon([[(x, x), (x + 3.0, x), (x + 3.0, x + 3.0), (x, x + 3.0)]]) for x in np.arange(0.5, 5.0, 0.5)
    ]
    pid_wkb = list(zip(range(100, 100 + len(wkbs)), wkbs))
    index = geom.VectorPIPIndex(pid_wkb)
    px, py = _kernel_points(wkbs)
    px = np.concatenate([px, [200.0, -190.0, 10.0]])
    py = np.concatenate([py, [5.0, 5.0, 95.0]])
    pt, pid = index.query(px, py)
    got = sorted(zip(pt.tolist(), pid.tolist()))
    want = sorted(
        (int(i), p) for p, w in pid_wkb for i in np.nonzero(geom.PreparedPolygon(w).contains(px, py))[0]
    )
    assert got == want and len(got) > 0
    reps = geom.EdgeTable.CHUNK // px.size + 2
    pt, pid = index.query(np.tile(px, reps), np.tile(py, reps))
    got = sorted(zip(pt.tolist(), pid.tolist()))
    assert got == sorted((i + r * px.size, p) for r in range(reps) for i, p in want)
