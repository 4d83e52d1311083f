"""Contour generation: iso-lines from the tile table (alg/contour.cpp:51-99).

The reference walks the grid once, emitting level-crossing line segments per
2×2 pixel cell and stitching them into polylines.  Distributed form:

* each marching-squares cell is OWNED by the tile containing its top-left
  pixel; the cell's other corners may live in the east/south/south-east
  neighbor → the engine's halo exchange (:func:`engine.focal.halo_apply`,
  halo 1) co-locates them;
* pixels beyond the layer read NaN, so cells whose east/south pixels do
  not exist (raster edge) are skipped — exactly the cells a whole-raster
  run never visits, so the distributed segment set equals the mosaic run's
  segment set;
* segments are emitted as rows (level, x1, y1, x2, y2) in global pixel
  coordinates (x = tx·T + col, y = −ty·T + row, the components.py
  convention).  Polyline assembly = endpoint connected-components (the
  engine.components seam-merge pattern); the segment table already pins the
  geometry exactly, and per-level counts/lengths are the parity surface.

Marching squares: corner "inside" ⇔ value > level; crossing points linearly
interpolated (t = (level − v0)/(v1 − v0)), the same interpolation
alg/contour.cpp applies between grid points.  Saddle cells (two opposite
corners inside) split by the cell-center average, GDAL's disambiguation.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .focal import halo_apply
from .raster import TILE_SIZE

_SEG_SCHEMA = "level double, x1 double, y1 double, x2 double, y2 double"


def cell_segments(grid: np.ndarray, levels, x0: float = 0.0, y0: float = 0.0):
    """Marching squares over one float array; cells indexed by their
    top-left pixel (r, c) → segments [(level, x1, y1, x2, y2)] with
    x = x0 + col, y = y0 + row (row-down axis).  Pure numpy masks + a python
    loop over only the crossing cells (sparse by construction)."""
    v = grid.astype(np.float64)
    H, W = v.shape
    tl = v[:-1, :-1]
    tr = v[:-1, 1:]
    bl = v[1:, :-1]
    br = v[1:, 1:]
    out = []
    for level in levels:
        b0 = tl > level
        b1 = tr > level
        b2 = br > level
        b3 = bl > level
        case = b0.astype(np.int8) | (b1.astype(np.int8) << 1) | (b2.astype(np.int8) << 2) | (b3.astype(np.int8) << 3)
        finite = np.isfinite(tl) & np.isfinite(tr) & np.isfinite(br) & np.isfinite(bl)
        rows, cols = np.nonzero((case != 0) & (case != 15) & finite)
        for r, c in zip(rows, cols):
            a, b_, d, e = tl[r, c], tr[r, c], br[r, c], bl[r, c]
            # edge crossing points (t along the edge, from the first corner)
            def _top():
                t = (level - a) / (b_ - a)
                return (x0 + c + t, y0 + r)

            def _right():
                t = (level - b_) / (d - b_)
                return (x0 + c + 1, y0 + r + t)

            def _bottom():
                t = (level - e) / (d - e)
                return (x0 + c + t, y0 + r + 1)

            def _left():
                t = (level - a) / (e - a)
                return (x0 + c, y0 + r + t)

            k = int(case[r, c])
            segs = _CASES[k]
            if segs == "saddle":
                center_inside = (a + b_ + d + e) / 4.0 > level
                # case 5 (TL+BR inside) / case 10 (TR+BL inside)
                if k == 5:
                    pairs = [(_top, _right), (_bottom, _left)] if center_inside else [(_top, _left), (_bottom, _right)]
                else:
                    pairs = [(_top, _left), (_bottom, _right)] if center_inside else [(_top, _right), (_bottom, _left)]
            else:
                pairs = [tuple({"t": _top, "r": _right, "b": _bottom, "l": _left}[x] for x in s) for s in segs]
            for p, q in pairs:
                (xA, yA), (xB, yB) = p(), q()
                if xA == xB and yA == yB:
                    continue  # degenerate corner touch (level == grid value)
                out.append((float(level), xA, yA, xB, yB))
    return out


# case bit layout: 1=TL, 2=TR, 4=BR, 8=BL; each entry = list of (edge, edge)
_CASES = {
    1: [("t", "l")],
    2: [("t", "r")],
    3: [("l", "r")],
    4: [("r", "b")],
    5: "saddle",
    6: [("t", "b")],
    7: [("l", "b")],
    8: [("b", "l")],
    9: [("t", "b")],
    10: "saddle",
    11: [("r", "b")],
    12: [("r", "l")],
    13: [("t", "r")],
    14: [("t", "l")],
}


def _tile_segments(key, comp: np.ndarray, exists: np.ndarray, lvls: list) -> list:
    """One tile's halo-1 composite → the segments of the cells it owns
    (top-left pixel in the tile), [(level, x1, y1, x2, y2)] in global
    coords; a pixel beyond the layer is NaN, so cells touching it yield
    nothing."""
    tx, ty = key[-2:]
    v = np.where(exists, comp, np.nan)[1:, 1:]
    return cell_segments(v, lvls, x0=float(tx * TILE_SIZE), y0=float(-ty * TILE_SIZE))


def contour_segments(tile_df: DataFrame, levels) -> DataFrame:
    """Distributed marching squares: one halo exchange, then per-tile
    numpy; cells missing their east/south pixel are skipped (raster edge)
    so results equal a whole-raster run exactly."""
    lvls = [float(l) for l in levels]

    def _apply(key, comp: np.ndarray, exists: np.ndarray) -> pd.DataFrame:
        segs = _tile_segments(key, comp, exists, lvls)
        return pd.DataFrame(segs, columns=["level", "x1", "y1", "x2", "y2"])

    return halo_apply(tile_df, 1, _apply, _SEG_SCHEMA)


def contour_lengths(tile_df: DataFrame, levels) -> DataFrame:
    """Per-level segment count + total length — the aggregate parity
    surface of the contour operator."""
    segs = contour_segments(tile_df, levels)
    return segs.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.hypot(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1"))).alias("total_length"),
    )


def stitch_segments(segs: list) -> list:
    """[(x1,y1,x2,y2)] → polylines [np.ndarray (N,2)].

    Endpoint matching is float-EXACT: a crossing point on a shared cell
    edge is computed from the same two corner values with the same
    expression by both adjacent cells (cross-tile too — halo strips carry
    identical ints), so the doubles are bit-identical.  Open chains start
    at degree-1 vertices (raster boundary), the rest are closed loops —
    the polyline forms alg/contour.cpp emits.
    """
    adj = defaultdict(list)
    for i, (x1, y1, x2, y2) in enumerate(segs):
        adj[(x1, y1)].append((i, (x2, y2)))
        adj[(x2, y2)].append((i, (x1, y1)))
    used = [False] * len(segs)

    def _walk(start):
        path = [start]
        cur = start
        while True:
            nxt = None
            for i, other in adj[cur]:
                if not used[i]:
                    used[i] = True
                    nxt = other
                    break
            if nxt is None:
                break
            path.append(nxt)
            cur = nxt
        return path

    lines = []
    # open chains first (deterministic: sorted degree-1 starts)
    for v in sorted(v for v, lst in adj.items() if len(lst) % 2 == 1):
        if any(not used[i] for i, _ in adj[v]):
            lines.append(np.asarray(_walk(v)))
    # remaining loops
    for i, s in sorted(enumerate(segs), key=lambda t: (t[1], t[0])):
        if not used[i]:
            used[i] = True
            path = [(s[0], s[1]), (s[2], s[3])]
            cur = (s[2], s[3])
            tail = _walk(cur)
            path.extend(tail[1:])
            lines.append(np.asarray(path))
    return lines


def _wkb_linestring(pts: np.ndarray) -> bytes:
    import struct

    from . import geom as _geom

    pts = np.asarray(pts, dtype=np.float64)
    return struct.pack("<BII", 1, _geom.WKB_LINESTRING, pts.shape[0]) + pts.astype("<f8").tobytes()


_CHAIN_SCHEMA = "level double, closed boolean, pts binary, e1 string, e2 string"
_LINE_SCHEMA = (
    "level double, line_id string, n_points long, length double, closed boolean, geom_wkb binary"
)


def _ekey(level: float, x: float, y: float) -> str:
    """Float-exact endpoint key (crossing points are bit-identical across
    tiles — see stitch_segments doc), level-scoped so coincident points of
    different levels never merge."""
    return f"{level!r}|{x!r}|{y!r}"


def _line_row(level: float, line: np.ndarray, out: dict):
    d = np.diff(line, axis=0)
    mn = line.min(axis=0)
    out["level"].append(float(level))
    out["line_id"].append(f"{mn[0]:.6f}_{mn[1]:.6f}")
    out["n_points"].append(int(line.shape[0]))
    out["length"].append(float(np.hypot(d[:, 0], d[:, 1]).sum()))
    out["closed"].append(bool(np.array_equal(line[0], line[-1])))
    out["geom_wkb"].append(_wkb_linestring(line))


def contour_polylines(tile_df: DataFrame, levels) -> DataFrame:
    """Assembled contour lines: (level, line_id, n_points, length, closed,
    geom_wkb); line_id = lexicographically smallest vertex of the line.

    Round-2 distributed assembly (the round-1 form shuffled each level into
    ONE task): (1) each tile stitches ITS OWN segments into partial
    polylines (stitch_segments per tile×level — parallel across tiles);
    loops closing inside a tile are final immediately; (2) open chains
    find their polyline id by distributed hash-to-min over the endpoint
    graph (:func:`engine.components.min_label_propagate` — contour vertices
    have degree ≤ 2, so components are exactly paths/loops and no turn
    disambiguation is needed); (3) one shuffle groups each polyline's
    pre-chained arcs and concatenates them — per-line work is
    O(#tile crossings), not O(total points per level)."""
    lvls = [float(l) for l in levels]

    def _tile_chains(key, comp: np.ndarray, exists: np.ndarray) -> pd.DataFrame:
        segs = _tile_segments(key, comp, exists, lvls)
        cols = ["level", "closed", "pts", "e1", "e2"]
        if not segs:
            return pd.DataFrame({k: [] for k in cols})
        sdf = pd.DataFrame(segs, columns=["level", "x1", "y1", "x2", "y2"])
        rows = []
        for level, sub in sdf.groupby("level", sort=False):
            segs_l = sorted(map(tuple, sub[["x1", "y1", "x2", "y2"]].to_numpy().tolist()))
            for line in stitch_segments(segs_l):
                closed = bool(np.array_equal(line[0], line[-1]))
                rows.append(
                    (
                        float(level), closed, line.astype("<f8").tobytes(),
                        _ekey(level, line[0, 0], line[0, 1]),
                        _ekey(level, line[-1, 0], line[-1, 1]),
                    )
                )
        return pd.DataFrame(rows, columns=cols)

    from .components import min_label_propagate

    chains = halo_apply(tile_df, 1, _tile_chains, _CHAIN_SCHEMA).localCheckpoint(eager=True)
    done = chains.where(F.col("closed"))
    opens = chains.where(~F.col("closed"))

    def _finalize_closed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("level", "line_id", "n_points", "length", "closed", "geom_wkb")}
            for r in pdf.itertuples():
                line = np.frombuffer(r.pts, dtype="<f8").reshape(-1, 2)
                _line_row(r.level, line, out)
            yield pd.DataFrame(out)

    comp = min_label_propagate(
        opens.select(F.col("e1").alias("ka"), F.col("e2").alias("kb"))
    ).withColumnRenamed("k", "e1").withColumnRenamed("comp", "line_comp")
    keyed = opens.join(comp, on="e1")

    def _assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        out = {k: [] for k in ("level", "line_id", "n_points", "length", "closed", "geom_wkb")}
        for (level, _), sub in pdf.groupby(["level", "line_comp"], sort=False):
            arcs = [np.frombuffer(b, dtype="<f8").reshape(-1, 2) for b in sub["pts"]]
            arcs.sort(key=lambda a: a.ravel().tolist())
            # chain-level endpoint adjacency; degree ≤ 2 generically, any
            # degenerate coincidences fall back to first-unused like the
            # unit-level stitch
            adj: dict = {}
            for i, a in enumerate(arcs):
                adj.setdefault(tuple(a[0]), []).append(i)
                adj.setdefault(tuple(a[-1]), []).append(i)
            used = [False] * len(arcs)

            def _walk(start_v):
                pieces = []
                cur = start_v
                while True:
                    nxt_i = None
                    for i in adj.get(cur, ()):
                        if not used[i]:
                            nxt_i = i
                            break
                    if nxt_i is None:
                        break
                    used[nxt_i] = True
                    a = arcs[nxt_i]
                    if tuple(a[0]) == cur:
                        pieces.append(a)
                        cur = tuple(a[-1])
                    else:
                        pieces.append(a[::-1])
                        cur = tuple(a[0])
                return pieces

            def _emit_line(pieces):
                if not pieces:
                    return
                whole = np.vstack([pieces[0]] + [p[1:] for p in pieces[1:]])
                _line_row(float(level), whole, out)

            # open polylines start at odd-degree vertices (sorted)
            for v in sorted(v for v, lst in adj.items() if len(lst) % 2 == 1):
                if any(not used[i] for i in adj[v]):
                    _emit_line(_walk(v))
            # remaining arcs form loops
            for i in range(len(arcs)):
                if not used[i]:
                    _emit_line(_walk(tuple(arcs[i][0])))
        yield pd.DataFrame(out)

    # explicit partition count (AQE would size-coalesce the compact rows)
    nparts = tile_df.sparkSession.sparkContext.defaultParallelism
    assembled = keyed.repartition(nparts, F.col("line_comp")).mapInPandas(_assemble, _LINE_SCHEMA)
    return done.mapInPandas(_finalize_closed, _LINE_SCHEMA).unionByName(assembled)
