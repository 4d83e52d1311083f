"""Pure-numpy geometry kernel: WKB codec + vectorized point-in-polygon.

Replaces the reference's GEOS-backed predicates for the subset this engine
needs (shapely is unavailable in the target runtime, SURVEY.md §7 risk (e)):

* WKB encode/decode for Point / LineString / Polygon / MultiPolygon
  (``ogr/ogrgeometryfactory.cpp:77`` createFromWkb — same ISO WKB layout).
* Envelope computation (``OGRGeometry::getEnvelope``) → the bbox sidecar
  columns used for the two-phase spatial filter.
* Vectorized many-points × one-polygon intersects test replicating the
  FilterGeometry cascade (``ogr/ogrsf_frmts/generic/ogrlayer.cpp:1296-1405``):
  bbox reject → even-odd ray cast with exact on-boundary detection
  (boundary counts as a match = GEOS Intersects, :1394-1401).

All kernels operate on numpy float64 arrays and are called from Arrow- or
pandas-batched UDFs; Python iterates only to parse each polygon's WKB, never
over points or (point, polygon) pairs.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7

_BO = {0: ">", 1: "<"}


# ---------------------------------------------------------------------------
# WKB codec
# ---------------------------------------------------------------------------


def _read_header(buf: bytes, off: int):
    bo = _BO[buf[off]]
    (gtype,) = struct.unpack_from(bo + "I", buf, off + 1)
    # wkbFlatten (ogr_core.h:347): strip the 2.5D flag but REMEMBER it —
    # a Z geometry carries 3 doubles per vertex that the 2D readers must skip
    has_z = bool(gtype & 0x80000000)
    return bo, gtype & 0xFF, has_z, off + 5


def _read_ring(buf: bytes, off: int, bo: str, has_z: bool = False):
    (n,) = struct.unpack_from(bo + "I", buf, off)
    off += 4
    dims = 3 if has_z else 2
    pts = np.frombuffer(buf, dtype=np.dtype(np.float64).newbyteorder(bo), count=dims * n, offset=off)
    pts = pts.reshape(n, dims)[:, :2]
    return pts.astype(np.float64), off + 8 * dims * n


def _parse(buf: bytes, off: int):
    bo, gtype, has_z, off = _read_header(buf, off)
    if gtype == WKB_POINT:
        x, y = struct.unpack_from(bo + "dd", buf, off)
        return ("Point", (x, y)), off + (24 if has_z else 16)
    if gtype == WKB_LINESTRING:
        ring, off = _read_ring(buf, off, bo, has_z)
        return ("LineString", ring), off
    if gtype == WKB_POLYGON:
        (nrings,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_ring(buf, off, bo, has_z)
            rings.append(ring)
        return ("Polygon", rings), off
    if gtype in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON, WKB_GEOMETRYCOLLECTION):
        (nparts,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        parts = []
        for _ in range(nparts):
            part, off = _parse(buf, off)
            parts.append(part)
        names = {
            WKB_MULTIPOINT: "MultiPoint",
            WKB_MULTILINESTRING: "MultiLineString",
            WKB_MULTIPOLYGON: "MultiPolygon",
            WKB_GEOMETRYCOLLECTION: "GeometryCollection",
        }
        return (names[gtype], parts), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_loads(buf: bytes):
    """Parse WKB → ("Point",(x,y)) | ("Polygon",[rings]) | ("MultiPolygon",[parts]) ..."""
    geom, _ = _parse(bytes(buf), 0)
    return geom


# -- 2.5D (Z) support: the wkb25DBit flag (ogr_core.h:347) ------------------

_WKB_25D = 0x80000000


def _read_pts_z(buf: bytes, off: int, bo: str, has_z: bool):
    """Read a vertex run as (N,3) float64; z = 0 when the geometry is 2D."""
    (n,) = struct.unpack_from(bo + "I", buf, off)
    off += 4
    dims = 3 if has_z else 2
    pts = np.frombuffer(
        buf, dtype=np.dtype(np.float64).newbyteorder(bo), count=dims * n, offset=off
    ).reshape(n, dims)
    if not has_z:
        pts = np.column_stack([pts, np.zeros(n)])
    return pts.astype(np.float64), off + 8 * dims * n


def _collect_parts_z(buf: bytes, off: int, parts: list):
    """Recursive part collector mirroring GDALCollectRingsFromGeometry
    (alg/gdalrasterize.cpp:176-283): points → 1-vertex parts, linestrings →
    one part each, polygons → one part PER RING (exterior first), multis
    recurse in order.  Returns (flat geometry kind of the outermost
    geometry, next offset); appends (N,3) arrays to ``parts``."""
    bo = _BO[buf[off]]
    (raw,) = struct.unpack_from(bo + "I", buf, off + 1)
    has_z = bool(raw & _WKB_25D)
    gtype = raw & 0xFF
    off += 5
    if gtype == WKB_POINT:
        dims = 3 if has_z else 2
        vals = struct.unpack_from(bo + "d" * dims, buf, off)
        parts.append(np.array([[vals[0], vals[1], vals[2] if has_z else 0.0]]))
        return "Point", off + 8 * dims
    if gtype == WKB_LINESTRING:
        pts, off = _read_pts_z(buf, off, bo, has_z)
        parts.append(pts)
        return "LineString", off
    if gtype == WKB_POLYGON:
        (nrings,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        for _ in range(nrings):
            ring, off = _read_pts_z(buf, off, bo, has_z)
            parts.append(ring)
        return "Polygon", off
    if gtype in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON, WKB_GEOMETRYCOLLECTION):
        (nparts,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        kind = "GeometryCollection"
        inner = None
        for _ in range(nparts):
            inner, off = _collect_parts_z(buf, off, parts)
        names = {
            WKB_MULTIPOINT: "MultiPoint",
            WKB_MULTILINESTRING: "MultiLineString",
            WKB_MULTIPOLYGON: "MultiPolygon",
            WKB_GEOMETRYCOLLECTION: "GeometryCollection",
        }
        return names[gtype], off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def collect_parts_z(buf: bytes):
    """(kind, [ (N,3) float64 arrays ]) — vertex parts with Z (0 when 2D),
    in GDALCollectRingsFromGeometry order.  The rasterizer's
    BURN_VALUE_FROM=Z source: parts[0][0, 2] is aPointVariant[0]."""
    parts: list = []
    kind, _ = _collect_parts_z(bytes(buf), 0, parts)
    return kind, parts


def wkb_linestring_z(pts) -> bytes:
    """pts: (N,3) x/y/z."""
    pts = np.asarray(pts, dtype=np.float64)
    return struct.pack("<BII", 1, WKB_LINESTRING | _WKB_25D, pts.shape[0]) + pts.astype("<f8").tobytes()


def wkb_polygon_z(rings) -> bytes:
    """rings: list of (N,3) arrays, first = exterior; closed automatically."""
    out = [struct.pack("<BII", 1, WKB_POLYGON | _WKB_25D, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, x, y)


def wkb_linestring(pts) -> bytes:
    pts = np.asarray(pts, dtype=np.float64)
    return struct.pack("<BII", 1, WKB_LINESTRING, pts.shape[0]) + pts.astype("<f8").tobytes()


def wkb_multipoint(pts) -> bytes:
    """pts: list of (x, y)."""
    out = [struct.pack("<BII", 1, WKB_MULTIPOINT, len(pts))]
    for x, y in pts:
        out.append(wkb_point(float(x), float(y)))
    return b"".join(out)


def wkb_multilinestring(lines) -> bytes:
    """lines: list of (N,2) arrays."""
    out = [struct.pack("<BII", 1, WKB_MULTILINESTRING, len(lines))]
    for pts in lines:
        out.append(wkb_linestring(pts))
    return b"".join(out)


def wkb_polygon(rings) -> bytes:
    """rings: list of (N,2) arrays/lists, first = exterior. Rings are closed
    automatically (first point appended) if not already closed."""
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def wkb_multipolygon(polys) -> bytes:
    """polys: list of ring-lists."""
    out = [struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(wkb_polygon(rings))
    return b"".join(out)


def _wkt_num(v: float) -> str:
    """GDAL WKT number format (OGRMakeWktCoordinate %.15g): integral values
    print without a decimal point."""
    return f"{v:.15g}"


def _wkt_coords(pts) -> str:
    return ",".join(f"{_wkt_num(x)} {_wkt_num(y)}" for x, y in np.asarray(pts, dtype=np.float64))


def wkt_dumps(buf: bytes) -> str:
    """WKB → WKT (OGRGeometry::exportToWkt analog, GDAL formatting)."""
    kind, body = wkb_loads(buf)
    return _wkt_geom(kind, body)


def _wkt_geom(kind, body) -> str:
    if kind == "Point":
        return f"POINT ({_wkt_num(body[0])} {_wkt_num(body[1])})"
    if kind == "LineString":
        return f"LINESTRING ({_wkt_coords(body)})"
    if kind == "Polygon":
        rings = ",".join(f"({_wkt_coords(r)})" for r in body)
        return f"POLYGON ({rings})"
    if kind == "MultiPoint":
        pts = ",".join(f"{_wkt_num(b[0])} {_wkt_num(b[1])}" for _, b in body)
        return f"MULTIPOINT ({pts})"
    if kind == "MultiLineString":
        parts = ",".join(f"({_wkt_coords(b)})" for _, b in body)
        return f"MULTILINESTRING ({parts})"
    if kind == "MultiPolygon":
        parts = ",".join(
            "(" + ",".join(f"({_wkt_coords(r)})" for r in b) + ")" for _, b in body
        )
        return f"MULTIPOLYGON ({parts})"
    raise ValueError(f"WKT export unsupported for {kind}")


def wkb_geometry_name(buf: bytes) -> str:
    """OGRGeometry::getGeometryName: 'POINT', 'POLYGON', ... (the value of
    the OGR_GEOMETRY special field, ogr/ogr_sql.dox:459)."""
    kind, _ = wkb_loads(bytes(buf))
    return {
        "Point": "POINT", "LineString": "LINESTRING", "Polygon": "POLYGON",
        "MultiPoint": "MULTIPOINT", "MultiLineString": "MULTILINESTRING",
        "MultiPolygon": "MULTIPOLYGON", "GeometryCollection": "GEOMETRYCOLLECTION",
    }[kind]


def polygon_rings(buf: bytes):
    """WKB Polygon/MultiPolygon → flat list of rings (exterior+holes mixed).

    Even-odd ray casting treats holes and islands uniformly, so a flat ring
    list is sufficient for the intersects test.
    """
    kind, body = wkb_loads(buf)
    if kind == "Polygon":
        return body
    if kind == "MultiPolygon":
        rings = []
        for pkind, prings in body:
            assert pkind == "Polygon"
            rings.extend(prings)
        return rings
    raise ValueError(f"expected polygonal WKB, got {kind}")


def envelope(buf: bytes):
    """(minx, miny, maxx, maxy) of any supported WKB geometry
    (OGRGeometry::getEnvelope analog) — the bbox sidecar columns."""
    kind, body = wkb_loads(buf)
    pts = _all_points(kind, body)
    arr = np.vstack(pts)
    return float(arr[:, 0].min()), float(arr[:, 1].min()), float(arr[:, 0].max()), float(arr[:, 1].max())


def _all_points(kind, body):
    if kind == "Point":
        return [np.array([body])]
    if kind == "LineString":
        return [body]
    if kind == "Polygon":
        return list(body)
    pts = []
    for pkind, pbody in body:
        pts.extend(_all_points(pkind, pbody))
    return pts


# ---------------------------------------------------------------------------
# Vectorized point-in-polygon
# ---------------------------------------------------------------------------


def _ray_cast(x1, y1, x2, y2, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray cast + exact boundary of points against one polygon's
    edges, as a (points, edges) broadcast: True for interior or boundary."""
    if px.shape[0] == 0:
        return np.zeros(0, dtype=bool)
    pxc = px[:, None]
    pyc = py[:, None]
    # crossing test: edge straddles the horizontal ray at py
    straddle = (y1[None, :] > pyc) != (y2[None, :] > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x1[None, :] + (pyc - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = (straddle & (pxc < xin)).sum(axis=1)
    inside = (crossings % 2) == 1
    # exact boundary: cross product zero AND within segment envelope
    cross = (x2 - x1)[None, :] * (pyc - y1[None, :]) - (y2 - y1)[None, :] * (pxc - x1[None, :])
    on_seg = (
        (cross == 0.0)
        & (pxc >= np.minimum(x1, x2)[None, :])
        & (pxc <= np.maximum(x1, x2)[None, :])
        & (pyc >= np.minimum(y1, y2)[None, :])
        & (pyc <= np.maximum(y1, y2)[None, :])
    ).any(axis=1)
    return inside | on_seg


class PreparedPolygon:
    """One polygon prepared for repeated many-point tests — the engine's
    analog of GEOS prepared geometries (OGRPreparedGeometry,
    ogrlayer.cpp:1397-1399): a one-slot :class:`EdgeTable`, so the bbox
    gate, the rectangle shortcut and the ray cast are the table's."""

    __slots__ = ("table", "minx", "miny", "maxx", "maxy", "is_rect")

    def __init__(self, wkb_buf: bytes):
        self.table = t = EdgeTable([wkb_buf])
        self.minx, self.miny, self.maxx, self.maxy = (float(a[0]) for a in (t.minx, t.miny, t.maxx, t.maxy))
        self.is_rect = bool(t.is_rect[0])

    def contains(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Intersects test of each point: True for interior OR boundary
        (GEOS Intersects rule, ogrlayer.cpp:1394-1401)."""
        px = np.asarray(px, dtype=np.float64)
        return self.table.contains(np.zeros(px.shape[0], dtype=np.int64), px, py)

    def _test(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """The ray cast of each point, without the bbox gate or the
        rectangle shortcut."""
        t = self.table
        return _ray_cast(t.x1, t.y1, t.x2, t.y2, np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64))


def _ranks(n: np.ndarray) -> np.ndarray:
    """0..n[i]-1 for every group i, concatenated (the rank of each row of a
    ``np.repeat(..., n)`` expansion within its group)."""
    return np.arange(int(n.sum()), dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)


def expand_boxes(x0: np.ndarray, x1: np.ndarray, y0: np.ndarray, y1: np.ndarray):
    """Integer boxes ``[x0, x1] × [y0, y1]`` (inclusive) → ``(box, x, y)``,
    one row per covered cell, grouped by box; a box with ``x1 < x0`` or
    ``y1 < y0`` covers nothing."""
    ny = np.maximum(y1 - y0 + 1, 0)
    n = np.maximum(x1 - x0 + 1, 0) * ny
    box = np.repeat(np.arange(n.shape[0], dtype=np.int64), n)
    k = _ranks(n)
    return box, x0[box] + k // ny[box], y0[box] + k % ny[box]


class EdgeTable:
    """The point-in-polygon kernel for explicit ``(polygon slot, px, py)``
    pairs over a list of polygon WKBs (slot = list position).

    Built in one pass: the rings of every polygon are concatenated once,
    and per-polygon edge counts, bboxes and rectangle flags come from
    whole-array ops.  Each pair goes through the bbox gate; exact
    rectangles (``is_rect``) are decided by it.  The rest are ray-cast:
    polygons with ≤ ``EMAX`` edges from per-edge-slot arrays ``(width,
    n)`` padded with NaN (every comparison with NaN is False, so padding
    adds neither crossings nor boundary hits), larger ones one polygon at
    a time over their own edge run.

    Interior or boundary counts (GEOS Intersects, ogrlayer.cpp:1394-1401).
    :class:`PreparedPolygon` is a one-slot table.
    """

    CHUNK = 131072  # pairs per pass of the per-edge-slot loop
    EMAX = 64  # larger polygons take the per-polygon fallback

    def __init__(self, wkbs: list):
        n = len(wkbs)
        rings, ring_poly = [], []
        for i, wkb in enumerate(wkbs):
            for ring in polygon_rings(wkb):
                if len(ring):
                    rings.append(ring)
                    ring_poly.append(i)
        lens = np.array([r.shape[0] for r in rings], dtype=np.int64)
        v = np.concatenate(rings) if rings else np.zeros((0, 2))
        last = np.cumsum(lens) - 1
        first = last + 1 - lens
        # an open ring gets its closing edge (last → first vertex) at its
        # end; a closed ring's last vertex starts no edge
        closed = np.all(v[first] == v[last], axis=1)
        nxt = np.arange(1, v.shape[0] + 1)
        nxt[last[~closed]] = first[~closed]
        starts = np.ones(v.shape[0], dtype=bool)
        starts[last[closed]] = False
        src = np.nonzero(starts)[0]
        self.x1, self.y1 = v[src, 0], v[src, 1]
        self.x2, self.y2 = v[nxt[src], 0], v[nxt[src], 1]
        edge_poly = np.repeat(np.asarray(ring_poly, dtype=np.int64), lens)[src]
        self.n_edges = np.bincount(edge_poly, minlength=n)
        if (self.n_edges == 0).any():
            raise ValueError("polygon without edges")
        self.off = np.concatenate([[0], np.cumsum(self.n_edges)])
        head = self.off[:-1]
        self.minx = np.minimum.reduceat(np.minimum(self.x1, self.x2), head)
        self.miny = np.minimum.reduceat(np.minimum(self.y1, self.y2), head)
        self.maxx = np.maximum.reduceat(np.maximum(self.x1, self.x2), head)
        self.maxy = np.maximum.reduceat(np.maximum(self.y1, self.y2), head)
        # exact rectangles (the GEOS prepared-geometry shortcut): a single
        # 4-edge axis-parallel ring with |shoelace area| == bbox area IS its
        # bbox, so intersects == the bbox test and the ray cast is skipped
        self.is_rect = np.zeros(n, dtype=bool)
        four = np.nonzero(self.n_edges == 4)[0]
        e = head[four, None] + np.arange(4)
        x1, y1, x2, y2 = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
        area2 = np.abs(np.sum(x1 * y2 - x2 * y1, axis=1))
        w, h = self.maxx[four] - self.minx[four], self.maxy[four] - self.miny[four]
        self.is_rect[four] = np.all((x1 == x2) | (y1 == y2), axis=1) & (area2 == 2.0 * w * h)
        # pad only to the ACTUAL max edge count — excess pad width multiplies
        # memory traffic directly (measured 20x slowdown padding 4-edge cells
        # to 64).  Per-edge-slot rows, so the hot loop gathers (chunk,)
        # vectors from small cache-resident sources instead of materializing
        # a (chunk, width, 4) tensor.
        small = self.n_edges <= self.EMAX
        dense = small[edge_poly]
        width = int(self.n_edges[small].max(initial=0))
        rank = np.arange(src.shape[0]) - head[edge_poly]
        self.slots = []
        for coord in (self.x1, self.y1, self.x2, self.y2):
            arr = np.full((width, n), np.nan)
            arr[rank[dense], edge_poly[dense]] = coord[dense]
            self.slots.append(arr)

    def contains(self, slot, px, py) -> np.ndarray:
        """Intersects test of each pair: point ``(px[i], py[i])`` against
        polygon ``slot[i]`` → bool per pair."""
        slot = np.asarray(slot, dtype=np.int64)
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        # bbox gate first: most candidate pairs die on 4 compares; exact
        # rectangles are fully decided by it
        hit = (
            (px >= self.minx[slot])
            & (px <= self.maxx[slot])
            & (py >= self.miny[slot])
            & (py <= self.maxy[slot])
        )
        need = np.nonzero(hit & ~self.is_rect[slot])[0]
        big = self.n_edges[slot[need]] > self.EMAX
        dense = need[~big]
        for s in range(0, dense.shape[0], self.CHUNK):
            sub = dense[s : s + self.CHUNK]
            hit[sub] = self._slot_test(slot[sub], px[sub], py[sub])
        fallback = need[big]
        if fallback.size:
            fallback = fallback[np.argsort(slot[fallback], kind="stable")]
            for grp in np.split(fallback, np.flatnonzero(np.diff(slot[fallback])) + 1):
                a, b = self.off[slot[grp[0]]], self.off[slot[grp[0]] + 1]
                # bound each (points, edges) temporary at ~1M elements
                step = max(1, (1 << 20) // int(b - a))
                for s in range(0, grp.shape[0], step):
                    g = grp[s : s + step]
                    hit[g] = _ray_cast(self.x1[a:b], self.y1[a:b], self.x2[a:b], self.y2[a:b], px[g], py[g])
        return hit

    def _slot_test(self, sl: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        # per-edge-slot loop over (chunk,) vectors: every operand stays
        # L2-resident; parity accumulates by XOR and boundary by OR in place
        # (the (chunk, width) tensor formulation was DRAM-bandwidth-bound
        # and collapsed under multi-worker load)
        ex1, ey1, ex2, ey2 = self.slots
        parity = np.zeros(sl.shape[0], dtype=bool)
        on_seg = np.zeros(sl.shape[0], dtype=bool)
        with np.errstate(divide="ignore", invalid="ignore"):
            for e in range(int(self.n_edges[sl].max(initial=0))):
                x1 = ex1[e][sl]
                y1 = ey1[e][sl]
                x2 = ex2[e][sl]
                y2 = ey2[e][sl]
                straddle = (y1 > py) != (y2 > py)
                xin = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                np.logical_xor(parity, straddle & (px < xin), out=parity)
                cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                on_e = (
                    (cross == 0.0)
                    & (px >= np.minimum(x1, x2))
                    & (px <= np.maximum(x1, x2))
                    & (py >= np.minimum(y1, y2))
                    & (py <= np.maximum(y1, y2))
                )
                np.logical_or(on_seg, on_e, out=on_seg)
        return parity | on_seg


class VectorPIPIndex:
    """Fully-vectorized many-points × many-polygons intersects index.

    A uniform grid over the polygons' bboxes, stored as one candidate run
    per grid cell, turns each point into explicit (point, polygon) pairs;
    every pair is decided by the shared :class:`EdgeTable` kernel — no
    python loop over cells or points.

    Interior or boundary counts (GEOS Intersects, ogrlayer.cpp:1394-1401).
    """

    def __init__(self, pid_wkb: list, cells: int | None = None):
        if cells is None:
            # index cell ~1/4 the linear size of an average polygon: candidate
            # count per point ≈ (s/p + 1)² shrinks quadratically with finer
            # cells, and the candidate matrix stays small (measured optimum)
            cells = max(16, min(256, 4 * int(max(len(pid_wkb), 1) ** 0.5)))
        self.cells = cells
        self.step_x = 360.0 / cells
        self.step_y = 180.0 / cells
        self.pid = np.array([pid for pid, _ in pid_wkb], dtype=np.int64)
        self.table = EdgeTable([wkb for _, wkb in pid_wkb])
        t = self.table
        slot, cx, cy = expand_boxes(
            self._col(t.minx), self._col(t.maxx), self._row(t.miny), self._row(t.maxy)
        )
        cell = cx * cells + cy
        # candidate runs in polygon order within each cell
        self.cell_slots = slot[np.argsort(cell, kind="stable")]
        self.cell_start = np.concatenate([[0], np.cumsum(np.bincount(cell, minlength=cells * cells))])

    def _col(self, lon: np.ndarray) -> np.ndarray:
        return np.clip(((lon + 180.0) // self.step_x).astype(np.int64), 0, self.cells - 1)

    def _row(self, lat: np.ndarray) -> np.ndarray:
        return np.clip(((lat + 90.0) // self.step_y).astype(np.int64), 0, self.cells - 1)

    def query(self, lon: np.ndarray, lat: np.ndarray):
        """→ (point_index_array, polygon_id_array) of all intersecting pairs.

        Points go through in slices of ``EdgeTable.CHUNK``, so the pair
        arrays of one pass grow with the candidates per point, not with the
        number of points in the call."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        pts, pids = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
        for s in range(0, lon.shape[0], EdgeTable.CHUNK):
            x, y = lon[s : s + EdgeTable.CHUNK], lat[s : s + EdgeTable.CHUNK]
            cell = self._col(x) * self.cells + self._row(y)
            first = self.cell_start[cell]
            n = self.cell_start[cell + 1] - first
            pair_pt = np.repeat(np.arange(x.shape[0], dtype=np.int64), n)
            pair_slot = self.cell_slots[np.repeat(first, n) + _ranks(n)]
            hit = self.table.contains(pair_slot, x[pair_pt], y[pair_pt])
            pts.append(pair_pt[hit] + s)
            pids.append(self.pid[pair_slot[hit]])
        return np.concatenate(pts), np.concatenate(pids)


def polygon_parts(buf: bytes):
    """WKB Polygon/MultiPolygon → list of parts, each part a ring-list
    [exterior, hole, ...] (numpy float64 arrays).  The structured accessor
    the overlay kernel needs (polygon_rings flattens parts+holes, which is
    right for even-odd PIP but loses part attribution)."""
    kind, body = wkb_loads(buf)
    if kind == "Polygon":
        return [[np.asarray(r, dtype=np.float64) for r in body]]
    if kind == "MultiPolygon":
        out = []
        for pkind, prings in body:
            assert pkind == "Polygon"
            out.append([np.asarray(r, dtype=np.float64) for r in prings])
        return out
    raise ValueError(f"expected polygonal WKB, got {kind}")
