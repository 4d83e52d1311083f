"""Polygonize: raster connected components → polygon rings with holes.

Reference: ``GDALPolygonize`` (alg/polygonize.cpp:495, wrapper
swig/python/scripts/gdal_polygonize.py:209) — equal-valued 4-connected
pixel regions become polygons (exterior ring + holes) with the region value
as attribute.  Distributed form (round-2: per-tile partial chaining, so the
final stitch handles pre-chained arcs, never unit edges):

1. **edge emission + local chaining** — per tile (with the 1-px value halo
   of the engine's halo exchange, :func:`engine.focal.halo_apply`; a pixel
   beyond the layer reads as background): every pixel side whose
   4-neighbor has a different value is a directed unit edge (interior on
   the RIGHT, y-down).  The tile then walks its own edges with the
   rightmost-turn rule, taking each turn decision from the HALO'D VALUE
   ARRAY (the turn at a corner depends only on the 4 pixel values around
   it, all visible through the halo), so the local walk is bit-consistent
   with a global walk.  A walk stops only where its successor edge is
   owned by a neighbor tile (or at the 4 tile-corner points, where the
   diagonal halo pixel is unknown).  Output per (tile, label): CLOSED
   rings (loops entirely local) and OPEN chains (collinear-compressed arcs
   ending at seam corners);
2. **component keying** — chains/rings join the distributed seam mapping of
   :func:`engine.components.seam_component_map` (equi-join, no broadcast
   dict, no driver union-find);
3. **chain stitch** — one shuffle groups each component's pieces; closed
   rings pass through; open chains are stitched at CHAIN granularity with
   the same rightmost-turn rule applied to chain end/start directions.
   Per-component stitch work is O(#chain endpoints) = seam crossings, not
   O(perimeter): a continent-sized component costs its seam-crossing count
   in the stitch task, while its perimeter-proportional tracing cost was
   already paid in parallel by stage 1.

Area invariant: Σ signed ring areas == component pixel count (tested).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geom
from .components import attach_component_id, label_tile, seam_component_map
from .focal import halo_apply
from .raster import TILE_SIZE


def trace_rings(edges: list, connectedness: int = 4) -> list:
    """Directed unit edges [((x1,y1),(x2,y2))] → list of rings
    [np.ndarray (N,2)], collinear-compressed, walk deterministic (smallest
    unused edge first; rightmost turn at junctions for 4-connect, LEFTMOST
    for 8-connect).  Single-process form, kept as the unit-level oracle for
    the distributed chaining path.

    The turn rule IS the connectedness rule at a self-touch corner (two
    diagonal pixels of one region, interior on the right, y-down): the
    rightmost turn hugs the current pixel and keeps the two diagonal
    boundaries as separate loops (4-connect); the leftmost turn crosses the
    corner onto the diagonal pixel so one ring traces the whole 8-connected
    region (the reference's 8CONNECTED ring assembly, alg/polygonize.cpp:484
    — its insertion-order Coalesce pairs corner strings within one RPolygon;
    this walk is the deterministic canonical form with the same component
    structure and signed-area sum)."""
    from collections import defaultdict

    sign = -1 if connectedness == 4 else 1
    succ = defaultdict(list)
    for a, b in edges:
        succ[a].append(b)
    for v in succ.values():
        v.sort()
    unused = defaultdict(set)
    for a, b in edges:
        unused[a].add(b)
    rings = []
    for a0, b0 in sorted(edges):
        if b0 not in unused[a0]:
            continue
        ring = [a0]
        a, b = a0, b0
        while True:
            unused[a].discard(b)
            ring.append(b)
            if b == a0:
                break
            d = (b[0] - a[0], b[1] - a[1])
            cands = [c for c in succ[b] if c in unused[b]]
            if not cands:  # malformed input; bail to avoid infinite loop
                break
            # rightmost (4) / leftmost (8) turn first: extreme of
            # cross(d, c-b); ties impossible for distinct axis directions
            # except straight/reverse
            cands.sort(key=lambda c: sign * (d[0] * (c[1] - b[1]) - d[1] * (c[0] - b[0])))
            a, b = b, cands[0]
        if ring[0] == ring[-1] and len(ring) >= 5:
            r = np.asarray(ring[:-1], dtype=np.float64)
            # drop collinear midpoints (GDAL emits direction changes only)
            d = np.diff(np.vstack([r[-1:], r, r[:1]]), axis=0)
            keep = (d[:-1, 0] * d[1:, 1] - d[:-1, 1] * d[1:, 0]) != 0
            rings.append(r[keep])
    return rings


def ring_signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


# directions as (dx, dy), y-down
_DIRS = {"E": (1, 0), "W": (-1, 0), "S": (0, 1), "N": (0, -1)}


def _compress_polyline(pts: list) -> np.ndarray:
    """Drop collinear midpoints of an open polyline (keep endpoints)."""
    arr = np.asarray(pts, dtype=np.int64)
    if arr.shape[0] <= 2:
        return arr
    d = np.diff(arr, axis=0)
    turn = d[:-1, 0] * d[1:, 1] - d[:-1, 1] * d[1:, 0]
    keep = np.ones(arr.shape[0], dtype=bool)
    keep[1:-1] = turn != 0
    return arr[keep]


def _compress_ring(pts: list) -> np.ndarray:
    """Drop collinear midpoints of a closed ring given WITHOUT the repeated
    last vertex (cyclic compression)."""
    r = np.asarray(pts, dtype=np.int64)
    d = np.diff(np.vstack([r[-1:], r, r[:1]]), axis=0)
    keep = (d[:-1, 0] * d[1:, 1] - d[:-1, 1] * d[1:, 0]) != 0
    return r[keep]


def _chain_tile(pv: np.ndarray, lab: np.ndarray, background: int, connectedness: int = 4):
    """Per-tile boundary chaining (stage 1).

    ``pv``: (T+2, T+2) halo'd value array; ``lab``: (T, T) local labels.
    Returns list of (label, value, kind, pts) with pts an (N, 2) int64
    array in LOCAL corner coordinates (x = col 0..T, y = row 0..T, y-down);
    kind ∈ {"ring", "chain"}.  The rightmost-turn decision at each corner
    reads the halo'd values, so it is identical to what a global
    single-process walk (trace_rings over all tiles' edges) would decide;
    a walk stops where its successor edge belongs to a neighbor tile.
    """
    T = lab.shape[0]

    def val(r, c):
        return int(pv[r + 1, c + 1])

    def edge_exists(x, y, dname, v):
        if dname == "E":
            return val(y, x) == v and val(y - 1, x) != v
        if dname == "W":
            return val(y - 1, x - 1) == v and val(y, x - 1) != v
        if dname == "S":
            return val(y, x - 1) == v and val(y, x) != v
        return val(y - 1, x) == v and val(y - 1, x - 1) != v  # N

    def edge_local(x, y, dname):
        # interior (right-side) pixel of the directed edge must be a tile
        # pixel for the edge to be owned (= emitted) by this tile
        if dname == "E":
            r, c = y, x
        elif dname == "W":
            r, c = y - 1, x - 1
        elif dname == "S":
            r, c = y, x - 1
        else:
            r, c = y - 1, x
        return 0 <= r < T and 0 <= c < T

    corner_pts = {(0, 0), (0, T), (T, 0), (T, T)}

    sign = 1 if connectedness == 4 else -1

    def nxt(b, d, v):
        """Successor edge of an edge ending at corner b with direction d for
        region value v → ((b2, d2) local) or None (stop: neighbor-owned
        successor, unknown tile-corner, or malformed).  Rightmost turn for
        4-connect, leftmost for 8-connect (see trace_rings)."""
        x, y = b
        if (x, y) in corner_pts:
            return None  # diagonal halo pixel unknown
        best = None
        best_cross = None
        for dname, (ex, ey) in _DIRS.items():
            if (ex, ey) == (-d[0], -d[1]):
                continue
            if not edge_exists(x, y, dname, v):
                continue
            cr = sign * (d[0] * ey - d[1] * ex)
            if best_cross is None or cr > best_cross:
                best_cross = cr
                best = dname
        if best is None:
            return None
        if not edge_local(x, y, best):
            return None
        ex, ey = _DIRS[best]
        return ((x + ex, y + ey), (ex, ey))

    # vectorized unit-edge emission per side (same masks as round 1)
    nz = lab != 0
    center = pv[1:-1, 1:-1]
    sides = (
        (pv[0:T, 1 : T + 1], 0, 0, 1, 0),        # top: (x,y)→(x+1,y)  E
        (pv[1 : T + 1, 2 : T + 2], 1, 0, 1, 1),  # right: (x+1,y)→(x+1,y+1) S
        (pv[2 : T + 2, 1 : T + 1], 1, 1, 0, 1),  # bottom: (x+1,y+1)→(x,y+1) W
        (pv[1 : T + 1, 0:T], 0, 1, 0, 0),        # left: (x,y+1)→(x,y)  N
    )
    per_label: dict = {}
    for nbr, ax, ay, bx_, by_ in sides:
        m = nz & (nbr != center)
        if not m.any():
            continue
        rr, cc = np.nonzero(m)
        for r_, c_ in zip(rr, cc):
            l = int(lab[r_, c_])
            a = (int(c_) + ax, int(r_) + ay)
            b = (int(c_) + bx_, int(r_) + by_)
            per_label.setdefault(l, {"v": int(center[r_, c_]), "edges": []})["edges"].append((a, b))

    out = []
    for l, info in per_label.items():
        v = info["v"]
        edges = sorted(info["edges"])
        eset = set(edges)
        # successor of each local edge (None = stops at a seam/corner)
        succ_of = {}
        targeted = set()
        for e in edges:
            a, b = e
            d = (b[0] - a[0], b[1] - a[1])
            s = nxt(b, d, v)
            if s is not None:
                se = (b, s[0])
                succ_of[e] = se
                targeted.add(se)
            else:
                succ_of[e] = None
        used = set()
        # open chains start at edges with no local predecessor
        for e in edges:
            if e in targeted or e in used:
                continue
            pts = [e[0], e[1]]
            used.add(e)
            cur = succ_of[e]
            while cur is not None and cur not in used:
                used.add(cur)
                pts.append(cur[1])
                cur = succ_of[cur]
            out.append((l, v, "chain", _compress_polyline(pts)))
        # remaining edges form closed local loops
        for e in edges:
            if e in used:
                continue
            ring = [e[0]]
            cur = e
            ok = True
            while True:
                used.add(cur)
                nxt_e = succ_of[cur]
                if nxt_e is None:  # malformed; bail
                    ok = False
                    break
                if nxt_e == e:
                    break
                ring.append(nxt_e[0])
                cur = nxt_e
            if ok and len(ring) >= 4:
                out.append((l, v, "ring", _compress_ring(ring)))
    return out


_PIECE_SCHEMA = "tx long, ty long, label int, value long, kind string, pts binary"
_POLY_SCHEMA = "component_id string, value long, n_rings int, area double, geom_wkb binary"


def _stitch_chains(chains: list, connectedness: int = 4) -> list:
    """Stitch open chains (each an (N,2) int64 array in global corner
    coords) into closed rings with the rightmost-turn (4) / leftmost-turn
    (8) rule applied at chain endpoints — the chain-granularity form of the
    trace_rings walk.  Returns list of (N,2) arrays (no repeated last
    vertex)."""
    sign = 1 if connectedness == 4 else -1
    recs = []
    for arr in chains:
        start = (int(arr[0, 0]), int(arr[0, 1]))
        end = (int(arr[-1, 0]), int(arr[-1, 1]))
        fd = (int(np.sign(arr[1, 0] - arr[0, 0])), int(np.sign(arr[1, 1] - arr[0, 1])))
        ld = (int(np.sign(arr[-1, 0] - arr[-2, 0])), int(np.sign(arr[-1, 1] - arr[-2, 1])))
        recs.append({"pts": arr, "start": start, "end": end, "fd": fd, "ld": ld})
    # deterministic processing order: sort by full content
    recs.sort(key=lambda r: r["pts"].ravel().tolist())
    by_start: dict = {}
    for i, r in enumerate(recs):
        by_start.setdefault(r["start"], []).append(i)
    unused = set(range(len(recs)))
    rings = []
    for i0 in range(len(recs)):
        if i0 not in unused:
            continue
        unused.discard(i0)
        pts = [recs[i0]["pts"]]
        cur = i0
        closed = False
        while True:
            e = recs[cur]["end"]
            d = recs[cur]["ld"]
            # candidates: unused chains starting at e, plus the walk's own
            # start chain (choosing it closes the ring)
            cands = [j for j in by_start.get(e, []) if j in unused]
            if recs[i0]["start"] == e:
                cands.append(i0)
            if not cands:
                break  # malformed; drop
            best = max(
                cands,
                key=lambda j: (sign * (d[0] * recs[j]["fd"][1] - d[1] * recs[j]["fd"][0]), -j),
            )
            if best == i0:
                closed = True
                break
            unused.discard(best)
            pts.append(recs[best]["pts"][1:])  # skip shared junction corner
            cur = best
        if not closed:
            continue
        whole = np.vstack([pts[0]] + [p for p in pts[1:]])
        # the walk returns to the start corner: drop the repeated last vertex
        if whole.shape[0] > 1 and tuple(whole[-1]) == tuple(whole[0]):
            whole = whole[:-1]
        rings.append(_compress_ring(whole.tolist()))
    return rings


def polygonize(tile_df: DataFrame, background: int = 0, connectedness: int = 4) -> DataFrame:
    """GDALPolygonize over the tile table → (component_id, value, n_rings,
    area, geom_wkb) with geometry in global pixel-corner coordinates
    (x = tx·T + col, y = −ty·T + row, y downward).

    ``connectedness=8`` (the reference's 8CONNECTED option,
    alg/polygonize.cpp:484,513) labels diagonal same-value pixels as one
    region AND threads the leftmost-turn rule through local chaining and
    the seam stitch, so a diagonal self-touch corner is crossed and the
    whole 8-connected region traces as one polygon."""
    if connectedness not in (4, 8):
        raise ValueError("connectedness must be 4 or 8")
    src = tile_df.select("tx", "ty", "data")
    mapping = seam_component_map(src, background, connectedness=connectedness)

    def _pieces(key, comp: np.ndarray, exists: np.ndarray) -> pd.DataFrame:
        T = TILE_SIZE
        tx, ty = key
        pv = np.where(exists, comp, background)
        pv[[0, 0, -1, -1], [0, -1, 0, -1]] = background  # the walk treats the diagonal halo pixels as unknown
        lab = label_tile(comp[1:-1, 1:-1], background, connectedness)
        rows = []
        for l, v, kind, pts in _chain_tile(pv, lab, background, connectedness):
            gpts = pts.copy()
            gpts[:, 0] += tx * T
            gpts[:, 1] += -(ty * T)
            rows.append((tx, ty, l, v, kind, gpts.astype("<i8").tobytes()))
        return pd.DataFrame(rows, columns=["tx", "ty", "label", "value", "kind", "pts"])

    def _assemble_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a hash partition holds MANY components (all of each one's chains).
        # Sort-based manual grouping: pandas groupby materializes a
        # sub-DataFrame per group, which dominates when components are tiny
        # (isolated pixels at web scale) — an argsort + boundary walk is
        # ~4× cheaper per component
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        gid_arr = pdf["component_id"].to_numpy()
        order = np.argsort(gid_arr, kind="stable")
        gids = gid_arr[order]
        vals = pdf["value"].to_numpy()[order]
        kinds = pdf["kind"].to_numpy()[order]
        ptsb = pdf["pts"].to_numpy()[order]
        starts = np.nonzero(np.concatenate([[True], gids[1:] != gids[:-1]]))[0]
        ends = np.append(starts[1:], gids.shape[0])
        out: dict = {k: [] for k in ("component_id", "value", "n_rings", "area", "geom_wkb")}
        for s, e in zip(starts, ends):
            if e - s == 1 and kinds[s] == "ring":
                # single local ring — the overwhelmingly common case
                arr = np.frombuffer(ptsb[s], dtype="<i8").reshape(-1, 2).astype(np.float64)
                out["component_id"].append(gids[s])
                out["value"].append(int(vals[s]))
                out["n_rings"].append(1)
                out["area"].append(ring_signed_area(arr))
                out["geom_wkb"].append(geom.wkb_polygon([arr]))
                continue
            rings = []
            chains = []
            for i in range(s, e):
                arr = np.frombuffer(ptsb[i], dtype="<i8").reshape(-1, 2)
                if kinds[i] == "ring":
                    rings.append(arr)
                else:
                    chains.append(arr)
            if chains:
                rings.extend(_stitch_chains(chains, connectedness))
            if not rings:
                continue
            ringf = [r.astype(np.float64) for r in rings]
            areas = [ring_signed_area(r) for r in ringf]
            ro = sorted(range(len(ringf)), key=lambda i: -areas[i])
            ordered = [ringf[i] for i in ro]  # exterior (max positive) first
            out["component_id"].append(gids[s])
            out["value"].append(int(vals[s]))
            out["n_rings"].append(len(ringf))
            out["area"].append(float(sum(areas)))
            out["geom_wkb"].append(geom.wkb_polygon(ordered))
        yield pd.DataFrame(out)

    # explicit partition count, as in halo_apply: AQE coalesces by byte size,
    # but assembly is PYTHON-CPU-bound per group (~0.1 ms/component) —
    # size-coalescing it serializes the work
    nparts = tile_df.sparkSession.sparkContext.defaultParallelism
    pieces = halo_apply(src, 1, _pieces, _PIECE_SCHEMA)
    keyed = attach_component_id(pieces, mapping).select("component_id", "value", "kind", "pts")
    return keyed.repartition(nparts, F.col("component_id")).mapInPandas(_assemble_part, _POLY_SCHEMA)


def fpolygonize(tile_df: DataFrame, background: float = 0.0, connectedness: int = 4) -> DataFrame:
    """GDALFPolygonize analog (alg/fpolygonize.cpp, the float-templated
    twin of polygonize.cpp via gdalrasterfpolygonenumerator.cpp): connected
    components of EXACTLY-equal float32 pixel values.

    Spark-first re-expression: exact float equality is bit-pattern equality
    once −0.0 is normalized to +0.0, so the float32 tiles are normalized in
    a pure per-tile map and their bytes flow through the UNCHANGED integer
    polygonize pipeline (bytes_to_tile's int32 read is the bit
    reinterpretation); polygon values are reinterpreted back to float at
    the end.  NaN pixels are masked to background first — the reference's
    `==` never connects a NaN pixel to anything (including itself), so the
    only difference is that degenerate one-pixel NaN polygons are dropped.

    Input tiles carry little-endian float32 payloads; output matches
    polygonize() with `value` as double.
    """
    from pyspark.sql.functions import pandas_udf
    from .raster import TILE_SCHEMA

    bg32 = np.float32(background) + np.float32(0.0)
    bg_bits = int(np.asarray([bg32], dtype="<f4").view("<i4")[0])

    def _norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                g = np.frombuffer(r.data, dtype="<f4").copy()
                g = g + np.float32(0.0)  # -0.0 -> +0.0 (IEEE RN addition)
                g[np.isnan(g)] = bg32
                rows.append(
                    (int(getattr(r, "zoom", 0)), int(r.tx), int(r.ty),
                     np.ascontiguousarray(g, dtype="<f4").tobytes())
                )
            yield pd.DataFrame(rows, columns=["zoom", "tx", "ty", "data"])

    cols = ["zoom", "tx", "ty", "data"] if "zoom" in tile_df.columns else ["tx", "ty", "data"]
    norm = tile_df.select(*cols).mapInPandas(_norm, TILE_SCHEMA)
    polys = polygonize(norm, background=bg_bits, connectedness=connectedness)

    @pandas_udf("double")
    def _bits_to_float(v: pd.Series) -> pd.Series:
        bits = v.to_numpy(dtype=np.int64).astype("<i4")
        return pd.Series(bits.view("<f4").astype(np.float64))

    return polys.withColumn("value", _bits_to_float(F.col("value")))
