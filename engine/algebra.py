"""Distributed layer algebra: Intersection / Union / SymDifference /
Identity / Update / Clip / Erase over polygon layers.

Reference: the OGRLayer algebra family (ogr/ogrsf_frmts/generic/
ogrlayer.cpp:1954 Intersection, :2220 Union, :2564 SymDifference, :2875
Identity, :3149 Update, :3424 Clip, :3660 Erase).  The reference runs one
index-nested-loop per input feature with an envelope prefilter and a GEOS
overlay per candidate pair.  Distributed re-expression:

1. **candidate generation** — both layers explode their bboxes to covering
   coarse lon/lat grid cells (``res`` degrees) → equi-join on ``cell``
   (the cell-keyed spatial join of SURVEY.md §4.5);
2. **owner-cell dedup** — a pair spanning k cells appears k times; the pair
   is kept only in the cell containing the lower-left corner of the bbox
   intersection, so no ``distinct`` shuffle is needed;
3. **one overlay pass** (:func:`overlay`) — the candidate pairs plus every
   input row, repartitioned by input id and sort-grouped in one
   ``mapInPandas`` (method rows in ``b_id`` order), the reference's
   per-input inner loop (:2028-2054).  Per input feature the exact kernel
   (:mod:`engine.clip`) emits what the op asks for: the per-pair pieces
   a∩b, the leftover a − ∪b or the clip a ∩ ∪b, and an input with no
   candidate whole.  Every op is one pass, or two with the roles swapped
   (Union, SymDifference) joined by ``unionByName``; no op re-derives
   another.  The line-layer ops (:mod:`engine.lineclip`) run the same pass
   with a line kernel.

Result schema follows the reference: concat of both layers' id fields;
non-empty, dimension-preserving results only (area > 0, ogrlayer.cpp:
2038-2054).  Geometry out is an exact-cover convex dissection
(see engine/clip.py module doc) serialized as WKB MultiPolygon.

Layer input contract: DataFrame (id_col int, geom_wkb binary) — bbox
columns are derived if absent; a null or unreadable ``geom_wkb`` raises
``ValueError`` naming the layer side and feature id.  Polygons may carry
interior rings (holes bridge-cut into the exterior before triangulation).
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import clip, geom
from .vector import shoelace_area_py, st_area

WORLD_X0, WORLD_Y0 = -180.0, -90.0

_PREPARED: dict = {}
_PREPARED_MAX = 4096


def prepared(wkb: bytes, build: Callable):
    """``build(wkb)``, memoized per executor worker in one bounded
    first-in-first-out cache.  Method-layer geometries repeat across
    thousands of candidate pairs; re-triangulating per pair dominated the
    overlay refine profile."""
    key = (build, bytes(wkb))
    hit = _PREPARED.get(key)
    if hit is None:
        if len(_PREPARED) >= _PREPARED_MAX:
            del _PREPARED[next(iter(_PREPARED))]
        hit = _PREPARED[key] = build(key[1])
    return hit


def _envelopes(layer: DataFrame, side: str) -> DataFrame:
    """Attach (minx,miny,maxx,maxy) sidecar columns (OGRGeometry::getEnvelope)
    unless present.  The UDF is marked nondeterministic so the optimizer
    keeps it in one place instead of evaluating it again under the
    ``isnotnull`` filters the candidate join infers."""
    if "minx" in layer.columns:
        return layer

    @F.pandas_udf("minx double, miny double, maxx double, maxy double")
    def _env(fid: pd.Series, wkb: pd.Series) -> pd.DataFrame:
        rows = []
        for i, b in zip(fid, wkb):
            try:
                rows.append(geom.envelope(b))
            except (TypeError, ValueError, IndexError, KeyError, struct.error) as e:
                what = "null geom_wkb" if b is None else f"unreadable geom_wkb ({type(e).__name__}: {e})"
                raise ValueError(f"{side} layer feature {i}: {what}") from None
        return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])

    env = _env.asNondeterministic()(F.col(layer.columns[0]), F.col("geom_wkb"))
    return layer.withColumn("_bb", env).select("*", "_bb.*").drop("_bb")


def _cover_cells(df: DataFrame, res: float, prefix: str) -> DataFrame:
    """Explode each row to the coarse grid cells covering its
    (``prefix``-named) bbox: cell = cx * 100000 + cy at ``res`` degrees."""
    cx0 = F.floor((F.col(f"{prefix}minx") - F.lit(WORLD_X0)) / F.lit(res)).cast("long")
    cx1 = F.floor((F.col(f"{prefix}maxx") - F.lit(WORLD_X0)) / F.lit(res)).cast("long")
    cy0 = F.floor((F.col(f"{prefix}miny") - F.lit(WORLD_Y0)) / F.lit(res)).cast("long")
    cy1 = F.floor((F.col(f"{prefix}maxy") - F.lit(WORLD_Y0)) / F.lit(res)).cast("long")
    return (
        df.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
        .withColumn("cell", F.col("_cx") * 100000 + F.col("_cy"))
        .drop("_cx", "_cy")
    )


def _prefixed(layer: DataFrame, side: str, prefix: str) -> DataFrame:
    return _envelopes(layer, side).select(
        F.col(layer.columns[0]).cast("int").alias(f"{prefix}id"),
        F.col("geom_wkb").alias(f"{prefix}wkb"),
        F.col("minx").alias(f"{prefix}minx"), F.col("miny").alias(f"{prefix}miny"),
        F.col("maxx").alias(f"{prefix}maxx"), F.col("maxy").alias(f"{prefix}maxy"),
    )


def pair_candidates(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """Candidate (input, method) pairs whose bboxes overlap, each pair
    exactly once (owner-cell rule).  Columns: (a_id, a_wkb, b_id, b_wkb)."""
    ae = _cover_cells(_prefixed(inp, "input", "a_"), res, "a_")
    be = _cover_cells(_prefixed(method, "method", "b_"), res, "b_")
    j = ae.join(be, on="cell")
    overlap = (
        (F.col("a_minx") <= F.col("b_maxx")) & (F.col("b_minx") <= F.col("a_maxx"))
        & (F.col("a_miny") <= F.col("b_maxy")) & (F.col("b_miny") <= F.col("a_maxy"))
    )
    # owner cell = cell of the bbox-intersection lower-left corner → a pair
    # spanning k cells is emitted exactly once, no distinct shuffle needed
    ox = F.greatest(F.col("a_minx"), F.col("b_minx"))
    oy = F.greatest(F.col("a_miny"), F.col("b_miny"))
    owner = (
        F.floor((ox - F.lit(WORLD_X0)) / F.lit(res)).cast("long") * 100000
        + F.floor((oy - F.lit(WORLD_Y0)) / F.lit(res)).cast("long")
    )
    return j.where(overlap & (F.col("cell") == owner)).select("a_id", "a_wkb", "b_id", "b_wkb")


class Kernel(NamedTuple):
    """What the overlay pass computes for one geometry type."""

    count: str  # output column: pieces or parts per row
    measure: str  # output column: area or length
    load: Callable  # input WKB -> geometry
    prepare: Callable  # method WKB -> cached prepared geometry
    pair: Callable  # (input, prepared method) -> pieces of a∩b
    rest: Callable  # (input, [prepared method], erase) -> pieces of a − ∪b or a ∩ ∪b
    summary: Callable  # non-empty pieces -> (count, measure, WKB)
    whole: Callable  # WKB of an input with no candidate -> its measure


def _poly_prepare(wkb: bytes) -> list:
    """Polygon WKB → one triangle cover per MultiPolygon part."""
    return [clip.PreTriangulated(clip._tris(part)) for part in geom.polygon_parts(wkb)]


def _poly_pair(a: list, b: list) -> list:
    # parts are disjoint, so pieces of different part pairs cannot overlap
    return [p for pa in a for pb in b for p in clip.intersection_pieces(pa, pb)]


def _poly_rest(a: list, bs: list, erase: bool) -> list:
    fn = clip.erase_pieces if erase else clip.clip_pieces
    b_parts = [part for b in bs for part in b]
    return [p for pa in a for p in fn(pa, b_parts)]


def _poly_summary(pieces: list) -> tuple:
    return len(pieces), clip.pieces_area(pieces), geom.wkb_multipolygon([[p] for p in pieces])


POLYGONS = Kernel(
    "n_pieces", "area", geom.polygon_parts, _poly_prepare, _poly_pair, _poly_rest, _poly_summary, shoelace_area_py
)


def _emit(pdf: pd.DataFrame, kernel: Kernel, pieces: bool, rest: str | None) -> Iterator[tuple]:
    """Output rows of one sorted batch: per run of equal ``a_id`` (one
    input feature, its method rows in ``b_id`` order after the input's own
    row, whose ``b_wkb`` is null)."""
    a_ids = pdf["a_id"].to_numpy()
    aw, b_ids, bw = pdf["a_wkb"].to_numpy(), pdf["b_id"].to_numpy(), pdf["b_wkb"].to_numpy()
    starts = np.flatnonzero(np.r_[True, a_ids[1:] != a_ids[:-1]])
    for s, e in zip(starts, np.r_[starts[1:], len(a_ids)]):
        fid = a_ids[s]
        bs = [(b_ids[i], prepared(bw[i], kernel.prepare)) for i in range(s, e) if bw[i] is not None]
        if not bs:
            if rest == "erase":  # no candidate: the input passes through whole
                yield fid, None, 1, kernel.whole(aw[s]), aw[s]
            continue
        a = kernel.load(aw[s])
        if pieces:
            for bid, b in bs:
                got = kernel.pair(a, b)
                if got:  # dimension-preserving only (ogrlayer.cpp:2038-2054)
                    yield (fid, bid, *kernel.summary(got))
        if rest is not None:
            got = kernel.rest(a, [b for _, b in bs], rest == "erase")
            if got:
                yield (fid, None, *kernel.summary(got))


def overlay(
    pairs: DataFrame, kernel: Kernel, inputs: DataFrame | None = None, pieces: bool = True, rest: str | None = None
) -> DataFrame:
    """The layer algebra's one overlay pass over candidate ``pairs``
    (a_id, a_wkb, b_id, b_wkb).  Per input feature it emits:

    * ``pieces``: one row per candidate pair with a non-empty a∩b;
    * ``rest="erase"``: a − ∪b with ``b_id`` NULL, and every ``inputs``
      row (id, geom_wkb) with no candidate whole (count 1, its own measure);
    * ``rest="clip"``: a ∩ ∪b with ``b_id`` NULL.

    A rest needs every candidate of one input together, so the rows are
    repartitioned by ``a_id`` and sort-grouped; a pieces-only pass maps
    the candidate rows where they are.  Columns: (a_id, b_id, <count>,
    <measure>, geom_wkb)."""
    table = pairs
    if inputs is not None:
        table = table.unionByName(
            inputs.select(
                F.col(inputs.columns[0]).cast("int").alias("a_id"), F.col("geom_wkb").alias("a_wkb"),
                F.lit(None).cast("int").alias("b_id"), F.lit(None).cast("binary").alias("b_wkb"),
            )
        )
    if rest is not None:
        # explicit partition count: the refine is Python-CPU-bound per input
        # feature; AQE's size coalesce would serialize it
        table = table.repartition(table.sparkSession.sparkContext.defaultParallelism, "a_id")
    cols = ["a_id", "b_id", kernel.count, kernel.measure, "geom_wkb"]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if rest is not None:  # one partition holds whole groups: sort it as one
            got = list(batches)
            batches = [pd.concat(got, ignore_index=True)] if got else []
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["a_id", "b_id"], kind="stable", na_position="first")
            yield pd.DataFrame(list(_emit(pdf, kernel, pieces, rest)), columns=cols)

    return table.mapInPandas(_run, f"a_id int, b_id int, {kernel.count} long, {kernel.measure} double, geom_wkb binary")


def _swapped(pairs: DataFrame) -> DataFrame:
    """Candidate pairs with the roles swapped: the owner-cell rule is
    symmetric, so these are exactly ``pair_candidates(method, inp)``."""
    return pairs.select(
        F.col("b_id").alias("a_id"), F.col("b_wkb").alias("a_wkb"),
        F.col("a_id").alias("b_id"), F.col("a_wkb").alias("b_wkb"),
    )


def _as_method(df: DataFrame) -> DataFrame:
    """A swapped pass's rows, keyed by the method layer's id."""
    return df.select(F.lit(None).cast("int").alias("a_id"), F.col("a_id").alias("b_id"), "n_pieces", "area", "geom_wkb")


def layer_intersection(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Intersection (ogrlayer.cpp:1954): one row per intersecting
    pair with the overlay geometry + area."""
    return overlay(pair_candidates(inp, method, res), POLYGONS)


def layer_erase(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Erase (ogrlayer.cpp:3660): input minus union of methods;
    inputs with no candidate pass through whole (:3700-3720)."""
    pairs = pair_candidates(inp, method, res)
    return overlay(pairs, POLYGONS, inp, pieces=False, rest="erase").drop("b_id")


def layer_clip(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Clip (ogrlayer.cpp:3424): input ∩ union of methods; inputs
    outside every method polygon vanish."""
    return overlay(pair_candidates(inp, method, res), POLYGONS, pieces=False, rest="clip").drop("b_id")


def layer_identity(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Identity (ogrlayer.cpp:2875): intersection pairs + the
    leftover parts of inputs (method id NULL)."""
    return overlay(pair_candidates(inp, method, res), POLYGONS, inp, rest="erase")


def layer_union(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Union (ogrlayer.cpp:2220): intersection pairs + input
    leftovers (b_id NULL) + method leftovers (a_id NULL)."""
    pairs = pair_candidates(inp, method, res)
    right = overlay(_swapped(pairs), POLYGONS, method, pieces=False, rest="erase")
    return overlay(pairs, POLYGONS, inp, rest="erase").unionByName(_as_method(right))


def layer_sym_difference(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::SymDifference (ogrlayer.cpp:2564): one row per input
    feature = that input minus ALL intersecting method features (b_id
    NULL), plus the symmetric method-side rows (a_id NULL) — the
    reference's per-feature difference loop, not a pairwise A△B.  Features
    intersecting nothing pass through whole."""
    pairs = pair_candidates(inp, method, res)
    left = overlay(pairs, POLYGONS, inp, pieces=False, rest="erase")
    right = overlay(_swapped(pairs), POLYGONS, method, pieces=False, rest="erase")
    return left.unionByName(_as_method(right))


def layer_update(inp: DataFrame, method: DataFrame, res: float = 10.0) -> DataFrame:
    """OGRLayer::Update (ogrlayer.cpp:3149): method features whole + input
    leftovers outside the methods."""
    whole = method.select(
        F.lit(None).cast("int").alias("a_id"),
        F.col(method.columns[0]).cast("int").alias("b_id"),
        F.lit(1).cast("long").alias("n_pieces"),
        st_area(F.col("geom_wkb")).alias("area"),
        F.col("geom_wkb"),
    )
    pairs = pair_candidates(inp, method, res)
    return whole.unionByName(overlay(pairs, POLYGONS, inp, pieces=False, rest="erase"))
