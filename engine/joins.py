"""Spatial join operators: tile/cell encode, broadcast + shuffle PIP, kNN.

The engine's re-expression of GDAL's spatial-join surface
(SURVEY.md §2.3):

* layer-algebra Intersection over point inputs (``ogr/ogrsf_frmts/generic/
  ogrlayer.cpp:1954``) → point-in-polygon join, in two physical plans that
  must emit identical rows:
    - **broadcast** (method layer small — mirrors the reference's own advice
      to copy the method layer to memory, ogrlayer.cpp:1915-1916): the
      polygon list broadcast, one grid index per Python worker,
      ``mapInArrow`` over points;
    - **shuffle** (method layer large): both sides exploded to covering
      mercator tiles at an index zoom, equi-join on the cell id — the
      cell-prefix pruning the north star requires — then exact refine of
      whole candidate batches.  An eager pass first folds the points' cells
      into an occupancy bitmap (≤ 1 MB: a bit per cell to zoom 11, hashed),
      and the polygon cover drops every cell no point occupies before the
      shuffle; the same pass sums the heaviest cells' point counts, and
      with ``n_salt`` only the cells over one shuffle partition's share
      of the points are salted.  The pass is skipped for a point plan
      that is not deterministic.  AQE runs the equi-join as a shuffled
      hash join when the measured partitions of its smaller side fit the
      session's local-map threshold, else as a sort-merge join.
  Both plans decide every (point, polygon) pair with the same kernel,
  :class:`geom.EdgeTable`.
* ``GDALGridNearestNeighbor``'s quadtree-accelerated kNN
  (``alg/gdalgrid.cpp:675,691``) → cell-ring expansion join with
  sorted-merge (window top-k) refinement; rings grow per-round for
  unsatisfied queries only.

Every mercator cell operator takes the world tiles of a lon/lat window
from one rule, :func:`_window_tiles` (corners clamped to the world, padded
and clipped to its tiles by :func:`_world_tiles`), exploded in one Arrow
pass (:func:`_explode_windows`): the PIP cover, the radius windows, the
kNN rings, IDW and ``raster``'s rasterize cover.

All heavy math is whole-batch numpy inside Arrow-batched UDFs
(``mapInArrow`` for the encoders, the window covers and the PIP joins);
all matching is JVM-side equi-joins.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import geom, tiles
from .session import job_description


# ---------------------------------------------------------------------------
# Cell encoding (the H3/S2-style multi-resolution index of the north star,
# realized as web-mercator tiles + quadkey prefixes — gdal2tiles.py:205-318)
# ---------------------------------------------------------------------------


def _append_lonlat_columns(df: DataFrame, lon_col: str, lat_col: str, fields: list, encode) -> DataFrame:
    """Append ``fields`` to every row, computed per Arrow batch by
    ``encode(lon, lat)`` → one ``pa.Array`` per field (vectorized UDF)."""
    import pyarrow as pa

    names = df.columns
    i_lon, i_lat = names.index(lon_col), names.index(lat_col)
    out_names = names + [f.name for f in fields]

    def _encode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            lon = batch.column(i_lon).to_numpy(zero_copy_only=False)
            lat = batch.column(i_lat).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(list(batch.columns) + encode(lon, lat), names=out_names)

    return df.mapInArrow(_encode, StructType(list(df.schema.fields) + fields))


def _finite(encode):
    """``encode`` with a null in every column of a row whose lon or lat is
    NaN, ±inf or null: such a point has no tile."""

    def masked(lon, lat):
        bad = ~(np.isfinite(lon) & np.isfinite(lat))
        arrays = encode(lon, lat)
        if not bad.any():
            return arrays
        import pyarrow as pa
        import pyarrow.compute as pc  # ~0.1 s to import: paid only by a batch with such a point

        return [pc.if_else(pa.array(bad), pa.scalar(None, a.type), a) for a in arrays]

    return masked


def with_tile(df: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append TMS tile coords + quadkey at ``zoom`` (vectorized Arrow UDF).

    Columns: ``tx ty quadkey``.  The quadkey is the multi-resolution cell
    id: its z-length prefixes are the coarser cells.  All three are null
    for a NaN, infinite or null coordinate.
    """
    import pyarrow as pa

    def encode(lon, lat):
        tx, ty = tiles.lonlat_to_tile(lon, lat, zoom)
        return [pa.array(tx, type=pa.int64()), pa.array(ty, type=pa.int64()), pa.array(tiles.quadkey(tx, ty, zoom))]

    fields = [StructField("tx", LongType()), StructField("ty", LongType()), StructField("quadkey", StringType())]
    return _append_lonlat_columns(df, lon_col, lat_col, fields, _finite(encode))


def with_cell(df: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append a single packed int64 cell id ``(tx << zoom+1) | ty`` of
    :func:`with_tile`'s tile at zoom — a cheaper join key than the quadkey
    string for fixed-zoom equi-joins; no quadkey is built.  Null for a NaN,
    infinite or null coordinate."""
    return _append_cell(df, lon_col, lat_col, lambda lon, lat: _pack_cell(*tiles.lonlat_to_tile(lon, lat, zoom), zoom))


def _with_world_cell(df: DataFrame, zoom: int, lon_col: str, lat_col: str) -> DataFrame:
    """:func:`with_cell` of each point clamped to the mercator world: the
    cell joins' point key (:func:`_lonlat_cells`)."""
    return _append_cell(df, lon_col, lat_col, lambda lon, lat: _lonlat_cells(lon, lat, zoom), finite=False)


def _append_cell(df: DataFrame, lon_col: str, lat_col: str, cells, finite: bool = True) -> DataFrame:
    """Append ``cell`` = ``cells(lon, lat)``, computed per Arrow batch;
    with ``finite``, null for a non-finite point (:func:`_finite`)."""
    import pyarrow as pa

    def encode(lon, lat):
        return [pa.array(cells(lon, lat), type=pa.int64())]

    fields = [StructField("cell", LongType())]
    return _append_lonlat_columns(df, lon_col, lat_col, fields, _finite(encode) if finite else encode)


def _pack_cell(tx: np.ndarray, ty: np.ndarray, zoom: int) -> np.ndarray:
    """Tile coords → the packed int64 cell id ``(tx << zoom+1) | ty``."""
    return tx * np.int64(2 ** (zoom + 1)) + ty


# ---------------------------------------------------------------------------
# The window rule: the world tiles a lon/lat window touches
# ---------------------------------------------------------------------------


def _world_tiles(lon: np.ndarray, lat: np.ndarray, zoom: int, pad: int = 0):
    """(tx, ty) at ``zoom`` of each lon/lat clamped to the mercator world
    (±180°, ±``MERCATOR_LAT_MAX``; NaN to −180° and the southern limit)
    and to its tiles [0, 2^zoom − 1], then moved ``pad`` tiles along both
    axes and clipped to them again.  The cell operators' one tile rule,
    for their points and window corners alike, so a point beyond the
    latitude limit, at −180° or at the southern limit (tile −1 by the
    ``ceil − 1`` rule) meets what reaches past it."""
    lat_lim = tiles.MERCATOR_LAT_MAX
    top = 2**zoom - 1
    lon = np.fmin(np.fmax(lon, -180.0), 180.0)
    lat = np.fmin(np.fmax(lat, -lat_lim), lat_lim)
    tx, ty = tiles.lonlat_to_tile(lon, lat, zoom)
    return np.clip(np.clip(tx, 0, top) + pad, 0, top), np.clip(np.clip(ty, 0, top) + pad, 0, top)


def _window_tiles(minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray, zoom: int, pad: int = 0):
    """The world tile box of each lon/lat window [minx, maxx] × [miny,
    maxy] at ``zoom``, grown by ``pad`` tiles on every side
    (:func:`_world_tiles` of its corners), and its tiles:
    ``((x0, y0, x1, y1), (row, tx, ty))``, one (row, tx, ty) per tile,
    grouped by window row."""
    x0, y0 = _world_tiles(minx, miny, zoom, -pad)
    x1, y1 = _world_tiles(maxx, maxy, zoom, pad)
    return (x0, y0, x1, y1), geom.expand_boxes(x0, x1, y0, y1)


def _explode_windows(df: DataFrame, keep: int, fields: list, windows) -> DataFrame:
    """One Arrow pass: ``windows(batch)`` gives ``(row, arrays)`` per
    batch, and each output row is input row ``row``'s first ``keep``
    columns (one ``take`` per column) plus ``arrays`` as ``fields``: the
    window operators' explode."""
    import pyarrow as pa

    names = df.columns[:keep] + [f.name for f in fields]

    def _explode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            row, arrays = windows(batch)
            rows = pa.array(row, type=pa.int64())
            yield pa.RecordBatch.from_arrays([batch.column(i).take(rows) for i in range(keep)] + arrays, names=names)

    return df.mapInArrow(_explode, StructType(df.schema.fields[:keep] + fields))


def _lonlat_cells(lon: np.ndarray, lat: np.ndarray, zoom: int) -> np.ndarray:
    """The packed cell of each point's :func:`_world_tiles` tile at
    ``zoom``: the cell joins' point key."""
    return _pack_cell(*_world_tiles(lon, lat, zoom), zoom)


def _query_windows(queries: DataFrame, zoom: int, ring: int = 0, radius: float = 0.0) -> DataFrame:
    """(query_id, lon, lat) → (query_id, lon, lat, cell, _g): one row per
    world tile at ``zoom`` of each query's window, lon/lat ± ``radius``
    grown by ``ring`` tiles (:func:`_window_tiles`).

    ``_g`` is the exact degree distance from the query to the nearest edge
    of its window's tile box that is not a world edge (inf when every edge
    is one): the euclidean lon/lat metric does not wrap, so every point
    outside the window is at least that far away, and k neighbours within
    it prove a kNN answer final."""
    import pyarrow as pa

    nmax = 2**zoom

    def lat_edge(ty):
        my = (ty * 256.0) * tiles.resolution(zoom) - tiles.ORIGIN_SHIFT
        return tiles.meters_to_lonlat(np.zeros_like(my), my)[1]

    def windows(batch):
        lon, lat = (batch.column(i).to_numpy(zero_copy_only=False) for i in (1, 2))
        (x0, y0, x1, y1), (row, tx, ty) = _window_tiles(
            lon - radius, lat - radius, lon + radius, lat + radius, zoom, ring
        )
        # box edges: lon edges are exact rationals; lat edges via mercator
        g = np.minimum.reduce(
            [
                np.where(x0 == 0, np.inf, lon - (-180.0 + x0 * (360.0 / nmax))),
                np.where(x1 == nmax - 1, np.inf, -180.0 + (x1 + 1) * (360.0 / nmax) - lon),
                np.where(y0 == 0, np.inf, lat - lat_edge(y0)),
                np.where(y1 == nmax - 1, np.inf, lat_edge(y1 + 1) - lat),
            ]
        )
        return row, [pa.array(_pack_cell(tx, ty, zoom), type=pa.int64()), pa.array(g[row], type=pa.float64())]

    fields = [StructField("cell", LongType()), StructField("_g", DoubleType())]
    return _explode_windows(queries, 3, fields, windows)


# ---------------------------------------------------------------------------
# Broadcast PIP join
# ---------------------------------------------------------------------------


# Worker-process cache of prepared polygon indexes, keyed by broadcast id.
# Spark reuses python workers across tasks (spark.python.worker.reuse), so the
# index is built ONCE per executor worker instead of once per task — without
# this, per-task index construction dominates and the join anti-scales as
# task count grows (measured: 3x slowdown at 64 tasks).  This is the engine's
# analog of the reference's one-time prepared-geometry setup per thread
# (GDALCloneTransformer pattern, alg/gdalwarpkernel.cpp:255-260).  Every call
# of pip_join_broadcast / burn_base_tiles_pip adds a key and the workers live
# for the whole session, so the cache keeps only the most recently used
# _INDEX_CACHE_SIZE indexes.
_INDEX_CACHE: OrderedDict = OrderedDict()
_INDEX_CACHE_SIZE = 4


def _cached_index(cache_key: str, bc) -> geom.VectorPIPIndex:
    """This worker's index for ``cache_key``, built from the broadcast
    (polygon_id, wkb) list on first use; least recently used evicted."""
    index = _INDEX_CACHE.pop(cache_key, None)
    if index is None:
        index = geom.VectorPIPIndex(bc.value)
    _INDEX_CACHE[cache_key] = index
    while len(_INDEX_CACHE) > _INDEX_CACHE_SIZE:
        _INDEX_CACHE.popitem(last=False)
    return index


def _broadcast_index(spark, polygons_pdf: pd.DataFrame):
    """Broadcast ``polygons_pdf``'s (polygon_id, geom_wkb) list → a callable
    that, in a Python worker, returns that worker's index of it
    (:func:`_cached_index`, keyed by a fresh id per call)."""
    import functools
    import uuid

    pid_wkb = list(zip(polygons_pdf["polygon_id"].tolist(), polygons_pdf["geom_wkb"].tolist()))
    return functools.partial(_cached_index, uuid.uuid4().hex, spark.sparkContext.broadcast(pid_wkb))


def pip_join_broadcast(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    keep_cols: tuple = ("url",),
) -> DataFrame:
    """Broadcast point-in-polygon join.

    ``polygons_pdf``: pandas (polygon_id, geom_wkb, ...) — the method layer,
    collected and broadcast (small side).  Output: ``keep_cols`` + lon/lat +
    ``polygon_id``; one row per matching polygon (overlaps → multiple rows,
    no match → row dropped = inner Intersection semantics,
    ogrlayer.cpp:2038-2054).
    """
    import pyarrow as pa

    index = _broadcast_index(points.sparkSession, polygons_pdf)
    in_cols = list(keep_cols) + [lon_col, lat_col]
    out_fields = [f for f in points.select(*in_cols).schema.fields]
    out_schema = StructType(out_fields + [StructField("polygon_id", IntegerType())])

    # Arrow-native (mapInArrow): numeric columns come out as zero-copy numpy
    # views and the match-row gather is C++ `take` — the pandas DataFrame
    # construction per batch was the dominant cost of the join at scale.
    def _match(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        pip = index()
        for batch in batches:
            lon = batch.column(len(keep_cols)).to_numpy(zero_copy_only=False)
            lat = batch.column(len(keep_cols) + 1).to_numpy(zero_copy_only=False)
            idx, pids = pip.query(lon, lat)
            taken = batch.take(pa.array(idx, type=pa.int64()))
            arrays = list(taken.columns) + [pa.array(pids.astype(np.int32), type=pa.int32())]
            yield pa.RecordBatch.from_arrays(arrays, names=in_cols + ["polygon_id"])

    return points.select(*in_cols).mapInArrow(_match, out_schema)


# ---------------------------------------------------------------------------
# Shuffle (cell-partitioned) PIP join
# ---------------------------------------------------------------------------


# The points' cell-occupancy bitmap: bit ``cell mod 2^k`` for each packed
# cell id, with 2^k = 2^(2*zoom+1) (one bit per id of the zoom's tiles) up
# to zoom 11 and 2^23 (1 MB) above.  Both sides of the join set and read
# the bit of the same packed id, so a collision (above zoom 11) only keeps
# a polygon row that finds no point.
_OCCUPANCY_BITS = 23


def _occupancy_mask(zoom: int) -> np.int64:
    """Bit index mask of the occupancy bitmap at ``zoom``."""
    return np.int64(2 ** min(2 * zoom + 1, _OCCUPANCY_BITS) - 1)


def _sum_by_cell(cell: np.ndarray, count: np.ndarray):
    """(cell, count) pairs → (distinct cells, summed counts)."""
    distinct, inv = np.unique(cell, return_inverse=True)
    return distinct, np.bincount(inv, weights=count, minlength=len(distinct)).astype(np.int64)


def _point_occupancy(points: DataFrame, zoom: int, lon_col: str, lat_col: str) -> tuple[np.ndarray, np.ndarray] | None:
    """The points' cells at ``zoom``, measured in one Spark job: one Arrow
    pass over (lon, lat) folds each partition into the packed bits (little
    bit order) of the cells that hold a point, its row count and its P
    heaviest cells with their counts (P = the session's shuffle
    partitions, so the collect stays bounded).  The call ORs the bitmaps
    and sums the rest.

    Returns (bitmap, hot cells).  A cell is hot when its summed count is
    over N / P (N the points' total): it alone would overfill a shuffle
    partition.  A cell outside a partition's top P goes uncounted there,
    so the sum can only undercount and every hot cell really is hot.

    None when the points' analyzed plan is not deterministic: evaluated
    again by the join, it could yield cells this pass never saw."""
    import pyarrow as pa

    if not points._jdf.queryExecution().analyzed().deterministic():
        return None
    spark = points.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mask = _occupancy_mask(zoom)

    def _fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        seen = np.zeros(int(mask) + 1, dtype=bool)
        empty = np.zeros(0, dtype=np.int64)
        n, cells, counts = 0, [empty], [empty]
        for batch in batches:
            lon = batch.column(0).to_numpy(zero_copy_only=False)
            lat = batch.column(1).to_numpy(zero_copy_only=False)
            cell = _lonlat_cells(lon, lat, zoom)
            seen[cell & mask] = True
            n += len(cell)
            distinct, count = np.unique(cell, return_counts=True)
            cells.append(distinct)
            counts.append(count)
        cell, count = _sum_by_cell(np.concatenate(cells), np.concatenate(counts))
        top = np.argsort(-count, kind="stable")[:parts]
        bits = pa.array([np.packbits(seen, bitorder="little").tobytes()])
        tops = [pa.array([a[top]], pa.list_(pa.int64())) for a in (cell, count)]
        n_rows = pa.array([n], pa.int64())
        yield pa.RecordBatch.from_arrays([bits, n_rows, *tops], names=["bits", "n", "cells", "counts"])

    schema = "bits binary, n bigint, cells array<bigint>, counts array<bigint>"
    with job_description(spark, "joins.pip_join_shuffle occupancy"):
        rows = points.select(lon_col, lat_col).mapInArrow(_fold, schema).collect()
    occupied = np.zeros((int(mask) + 8) // 8, dtype=np.uint8)
    for row in rows:
        occupied |= np.frombuffer(row.bits, dtype=np.uint8)
    tops = (np.array([v for r in rows for v in r[k]], dtype=np.int64) for k in ("cells", "counts"))
    cell, count = _sum_by_cell(*tops)
    return occupied, cell[count * parts > sum(r.n for r in rows)]


def _cover_windows(
    batch: "pa.RecordBatch", zoom: int, occupied: np.ndarray | None = None,
    hot: np.ndarray | None = None, n_salt: int = 1,
) -> tuple:
    """A (polygon_id, geom_wkb, minx, miny, maxx, maxy) batch → (row,
    [cell]) for :func:`_explode_windows`: one row per world tile covering
    each bbox at ``zoom`` (:func:`_window_tiles`).  With an ``occupied``
    bitmap (:func:`_point_occupancy`), only the cells whose bit is set.
    With ``hot`` cells, a ``salt`` array too: the row of a hot cell
    repeats ``n_salt`` times with salts 0..n_salt − 1, every other row has
    salt 0."""
    import pyarrow as pa

    _, (box, tx, ty) = _window_tiles(*(batch.column(i).to_numpy(zero_copy_only=False) for i in range(2, 6)), zoom)
    cell = _pack_cell(tx, ty, zoom)
    if occupied is not None:
        bit = cell & _occupancy_mask(zoom)
        keep = ((occupied[bit >> 3] >> (bit & 7).astype(np.uint8)) & 1).astype(bool)
        box, cell = box[keep], cell[keep]
    salt = []
    if hot is not None:
        # one box [0, last] × [0, 0] per row: its x coordinates are the row's salts
        last = np.where(np.isin(cell, hot), n_salt - 1, 0)
        zero = np.zeros_like(last)
        row, salt_ids, _ = geom.expand_boxes(zero, last, zero, zero)
        box, cell = box[row], cell[row]
        salt = [pa.array(salt_ids, type=pa.int32())]
    return box, [pa.array(cell, type=pa.int64())] + salt


def polygon_cover_cells(polygons: DataFrame, zoom: int, occupied: np.ndarray | None = None) -> DataFrame:
    """Explode each polygon to the mercator tiles covering its bbox at
    ``zoom`` → (polygon_id, geom_wkb, cell).  The cell-side of the shuffle
    PIP join; bbox cover (not exact cover) keeps the UDF trivial — exactness
    is restored by the refine step.  ``occupied`` (the points' bitmap from
    :func:`_point_occupancy`) drops the cells whose bit is clear."""
    return _cover(polygons, zoom, occupied)


def _cover(
    polygons: DataFrame, zoom: int, occupied: np.ndarray | None, hot: np.ndarray | None = None, n_salt: int = 1
) -> DataFrame:
    """:func:`polygon_cover_cells`, plus :func:`_cover_windows`'s ``salt``
    column when ``hot`` cells are given."""
    fields = [StructField("cell", LongType())]
    if hot is not None:
        fields.append(StructField("salt", IntegerType()))
    polys = polygons.select(
        F.col("polygon_id").cast("int").alias("polygon_id"), "geom_wkb", "minx", "miny", "maxx", "maxy"
    )
    return _explode_windows(polys, 2, fields, lambda batch: _cover_windows(batch, zoom, occupied, hot, n_salt))


def pip_join_shuffle(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 8,
    lon_col: str = "lon",
    lat_col: str = "lat",
    keep_cols: tuple = ("url",),
    n_salt: int | None = None,
) -> DataFrame:
    """Shuffle point-in-polygon join for large method layers.

    Plan: points → cell at ``zoom``; polygons → covering cells (replicated;
    both sides clamp to the mercator world by :func:`_world_tiles`, so a
    point beyond ±85.0511° meets the polygons that reach past it);
    equi-join on cell (both sides shuffle-partitioned by cell — the
    cell-prefix co-location); exact refine inside ``mapInArrow`` (per
    batch, each distinct polygon's WKB parsed once and all candidate pairs
    tested in one :class:`geom.EdgeTable` call).

    Before it builds the plan, the call runs one eager Spark job, described
    ``joins.pip_join_shuffle occupancy`` (:func:`_point_occupancy`): an
    Arrow pass over the points' (lon, lat) that folds their cells into a
    bitmap of at most 1 MB, one bit per cell up to zoom 11 and hashed
    (``cell mod 2^23``) above, and sums the counts of each partition's
    heaviest cells.  The polygon cover keeps only the cells whose bit is
    set, so the shuffle and the hash join see only polygon cells that can
    meet a point; rows and candidate pairs are unchanged.  The points' plan
    is thus evaluated twice: cached points are only scanned again, but an
    expensive uncached lineage runs twice.  When the points' analyzed plan
    is not deterministic the pass is skipped, every cover cell is kept and
    nothing is salted, since a second evaluation could yield cells the
    pass never saw.

    The equi-join is planned as a sort-merge join.  Once the shuffles have
    run, AQE re-plans it as a shuffled hash join, built on the smaller
    measured side, when every shuffle partition of that side is within
    ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`` (set by
    :func:`engine.session.get_spark`); larger partitions keep the sort-merge
    join.

    ``n_salt`` is the hot-cell skew remedy (SURVEY.md §4 skew), applied to
    the cells the pass measures as hot: those holding more than one shuffle
    partition's share of the points.  A hot cell's polygon rows repeat
    ``n_salt`` ways (salts 0..n_salt − 1) and its point rows get one salt,
    a hash of their ``keep_cols``; every other row has salt 0.  A (polygon,
    cell, salt) row is unique and a point row has one cell and one salt, so
    each (point row, polygon) pair is a candidate exactly once: no dedup
    pass, and duplicate input rows come back as many times as they went
    in.  With no hot cell the plan is the unsalted one.

    Emits the same rows as :func:`pip_join_broadcast` (A/B parity test).
    """
    occupied, hot = _point_occupancy(points, zoom, lon_col, lat_col) or (None, [])
    salted = bool(n_salt) and len(hot) > 0
    pts = _with_world_cell(points.select(*keep_cols, lon_col, lat_col), zoom, lon_col, lat_col)
    polys = _cover(polygons, zoom, occupied, hot if salted else None, n_salt)
    if salted:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in keep_cols]), F.lit(n_salt))
        pts = pts.withColumn("salt", F.when(F.col("cell").isin([int(c) for c in hot]), salt).otherwise(0).cast("int"))
    join_keys = ["cell", "salt"] if salted else ["cell"]
    return _pip_refine(pts.join(polys, on=join_keys, how="inner"), points, lon_col, lat_col, keep_cols)


def _refine_batch(batch: "pa.RecordBatch") -> "pa.RecordBatch":
    """(*point columns, lon, lat, polygon_id, geom_wkb) candidate rows → the
    (*point columns, lon, lat, polygon_id) rows whose point intersects its
    polygon.  The batch's distinct polygons are parsed once into a
    :class:`geom.EdgeTable`, every candidate pair is tested in one call and
    the hits are gathered with Arrow ``take``."""
    import pyarrow as pa

    n = batch.num_columns - 2
    pid = batch.column(n).to_numpy(zero_copy_only=False)
    _, first, slot = np.unique(pid, return_index=True, return_inverse=True)
    table = geom.EdgeTable(batch.column(n + 1).take(pa.array(first, type=pa.int64())).to_pylist())
    hit = table.contains(
        slot,
        batch.column(n - 2).to_numpy(zero_copy_only=False),
        batch.column(n - 1).to_numpy(zero_copy_only=False),
    )
    rows = pa.array(np.nonzero(hit)[0], type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [batch.column(i).take(rows) for i in range(n + 1)], names=batch.schema.names[: n + 1]
    )


def _pip_refine(
    cand: DataFrame, points: DataFrame, lon_col: str, lat_col: str, keep_cols: tuple
) -> DataFrame:
    """Exact refine of (point, candidate polygon wkb) rows, one Arrow batch
    at a time (:func:`_refine_batch`)."""
    in_cols = list(keep_cols) + [lon_col, lat_col]
    out_fields = [f for f in points.select(*in_cols).schema.fields]
    out_schema = StructType(out_fields + [StructField("polygon_id", IntegerType())])

    def _refine(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            yield _refine_batch(batch)

    return cand.select(*in_cols, "polygon_id", "geom_wkb").mapInArrow(_refine, out_schema)


# ---------------------------------------------------------------------------
# kNN via cell-ring expansion (alg/gdalgrid.cpp:675 GDALGridNearestNeighbor)
# ---------------------------------------------------------------------------


def _finite_lonlat(df: DataFrame) -> DataFrame:
    """The rows of ``df`` whose lon and lat are finite: the kNN plans'
    form of the encoders' rule (:func:`_finite`).  Spark orders NaN above
    +inf and drops a row whose filter is null, so ``|x| < inf`` keeps
    exactly the finite values."""
    inf = float("inf")
    return df.where((F.abs("lon") < inf) & (F.abs("lat") < inf))


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    zoom: int = 6,
    max_ring: int = 4,
    query_id: str = "qid",
    point_id: str = "name",
    strategy: str = "auto",
    broadcast_threshold: int = 20000,
) -> DataFrame:
    """k nearest neighbors (euclidean in lon/lat degrees, ties by point id).

    ``strategy``: "rings" = the cell-ring expansion below (both sides
    large; MAXDIST-bounded — at ``max_ring`` the search is accepted
    as-is); "broadcast" = queries collected + one vectorized point scan
    (always exact global top-k, ``zoom``/``max_ring`` not applicable);
    "auto" probes the query count with a bounded limit-collect and picks
    broadcast under ``broadcast_threshold``.  The plans emit identical
    rows whenever the ring search isn't truncated; callers relying on
    MAXDIST-bounded semantics must pass strategy="rings" explicitly.

    Plan per round r (ring radius r): unsatisfied queries explode to the
    (2r+1)² candidate cells around their tile (:func:`_query_windows`, the
    box clipped at the world edges) → equi-join points on cell → window
    top-k.  A query's window cells are distinct and a point row has one
    cell, so each (query, point row) pair is a candidate once, and
    duplicate point rows come back as from :func:`knn_join_broadcast`.  A
    query is final when it has ≥k neighbors no farther than the exact
    distance to the explored box edge (the window's ``_g``) — mirrors the
    radius-bounded search loop of GDALGridNearestNeighbor
    (alg/gdalgrid.cpp:675-775) with the quadtree (port/cpl_quad_tree.h)
    replaced by the multi-resolution cell grid.  At ``max_ring`` the search
    is accepted as-is (MAXDIST-bounded semantics, alg/gdalgrid.cpp:691-730).
    A round's eager jobs (the remainder's ``isEmpty`` and checkpoint) are
    described ``joins.knn_join ring=<r>``, the "auto" probe's collect
    ``joins.knn_join probe``.  A query or point whose lon or lat is NaN,
    ±inf or null takes no part (:func:`_finite_lonlat`).

    Output: (qid, neighbor, nbr_lon, nbr_lat, dist, rank).
    """
    queries, points = _finite_lonlat(queries), _finite_lonlat(points)
    if strategy == "auto":
        # bounded probe: evaluates the query lineage once, and the collected
        # rows are reused directly by the broadcast branch (no second pass)
        with job_description(queries.sparkSession, "joins.knn_join probe"):
            probe = queries.select(query_id, "lon", "lat").limit(broadcast_threshold + 1).collect()
        if len(probe) <= broadcast_threshold:
            return knn_join_broadcast(queries, points, k, query_id, point_id, _rows=probe)
        strategy = "rings"
    if strategy == "broadcast":
        return knn_join_broadcast(queries, points, k, query_id, point_id)
    pts = points.select(F.col(point_id).alias("_nbr"), F.col("lon").alias("_nlon"), F.col("lat").alias("_nlat"))
    pts = _with_world_cell(pts, zoom, "_nlon", "_nlat")

    remaining = queries.select(query_id, "lon", "lat")
    # typed empty seed so an empty queries input returns an empty DataFrame
    # with the output schema instead of None (explicit strategy="rings")
    results = (
        remaining.limit(0)
        .join(pts.limit(0), F.lit(True), "inner")
        .select(
            query_id,
            F.col("_nbr").alias("neighbor"),
            F.col("_nlon").alias("nbr_lon"),
            F.col("_nlat").alias("nbr_lat"),
            F.lit(0.0).alias("dist"),
            F.lit(0).alias("rank"),
        )
    )
    # geometric ring growth (1, 2, 4, ... max_ring): each driver round costs
    # a fixed few hundred ms of job overhead, so fewer-but-larger rounds beat
    # per-ring iteration; the (2r+1)² candidate blowup only hits queries
    # still unsatisfied, which shrink sharply per round
    rings = [1]
    while rings[-1] < max_ring:
        rings.append(min(rings[-1] * 2, max_ring))
    for ring in rings:
        with job_description(queries.sparkSession, f"joins.knn_join ring={ring}"):
            if remaining.isEmpty():
                break
            last = ring >= max_ring
            cand = _query_windows(remaining, zoom, ring).join(pts, on="cell", how="inner").drop("cell")
            dist = F.sqrt(
                (F.col("lon") - F.col("_nlon")) ** 2 + (F.col("lat") - F.col("_nlat")) ** 2
            )
            w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col("_nbr").asc())
            topk = (
                cand.withColumn("dist", dist)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
            )
            if last:
                satisfied = topk.select(query_id).distinct()
            else:
                satisfied = (
                    topk.groupBy(query_id, "_g")
                    .agg(F.count("*").alias("_n"), F.max("dist").alias("_dmax"))
                    .where((F.col("_n") >= k) & (F.col("_dmax") <= F.col("_g")))
                    .select(query_id)
                )
            done = topk.join(satisfied, on=query_id, how="left_semi").select(
                query_id,
                F.col("_nbr").alias("neighbor"),
                F.col("_nlon").alias("nbr_lon"),
                F.col("_nlat").alias("nbr_lat"),
                "dist",
                "rank",
            )
            results = results.unionByName(done)
            if last:
                break
            # materialize the shrinking remainder — without this each round's
            # isEmpty() replays the whole join lineage of all prior rounds
            remaining = remaining.join(satisfied, on=query_id, how="left_anti").localCheckpoint(eager=True)
    return results


# ---------------------------------------------------------------------------
# IDW interpolation (alg/gdalgrid.cpp:191 GDALGridInverseDistanceToAPower)
# ---------------------------------------------------------------------------


def idw_interpolate(
    queries: DataFrame,
    points: DataFrame,
    value_col: str,
    power: int = 2,
    zoom: int = 6,
    ring: int = 1,
    query_id: str = "qid",
) -> DataFrame:
    """Inverse-distance-weighted interpolation at query locations.

    GDALGridInverseDistanceToAPower analog (alg/gdalgrid.cpp:191): value =
    Σ v_i/d_i^p / Σ 1/d_i^p over the points in the (2r+1)² cell window
    around the query (the radius-bounded search); an exact-hit point
    (d == 0) short-circuits to its value (the reference's dfEpsilon path).
    Queries with no point in the window → NULL.

    Plan: the ring windows (:func:`_query_windows`, one Arrow pass) + cell
    equi-join + groupBy agg, JVM-side past the windows.  Weights use
    squared euclidean degrees for p=2 (exact, no sqrt); general p uses
    pow(d, p).
    """
    pts = points.select(F.col(value_col).alias("_v"), F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
    pts = _with_world_cell(pts, zoom, "_plon", "_plat")
    cand = _query_windows(queries.select(query_id, "lon", "lat"), zoom, ring).join(pts, on="cell", how="inner")
    d2 = (F.col("lon") - F.col("_plon")) ** 2 + (F.col("lat") - F.col("_plat")) ** 2
    if power == 2:
        w = F.when(d2 == 0, F.lit(None)).otherwise(F.lit(1.0) / d2)
    else:
        w = F.when(d2 == 0, F.lit(None)).otherwise(F.lit(1.0) / F.pow(F.sqrt(d2), F.lit(float(power))))
    scored = cand.select(
        query_id,
        w.alias("_w"),
        (w * F.col("_v")).alias("_wv"),
        F.when(d2 == 0, F.col("_v")).alias("_exact"),
    )
    return scored.groupBy(query_id).agg(
        F.when(
            F.count("_exact") > 0, F.min("_exact")
        ).otherwise(F.sum("_wv") / F.sum("_w")).alias("idw_value")
    )


# ---------------------------------------------------------------------------
# Grid data metrics (alg/gdalgrid.cpp:834+ GDALGridDataMetric*)
# ---------------------------------------------------------------------------


def _radius_hits(
    queries: DataFrame, points: DataFrame, value_col: str, radius: float, zoom: int, query_id: str
) -> DataFrame:
    """(query_id, _v, _d, _plon, _plat) for every point within ``radius``
    (euclidean degrees) of a query, ``_d`` its distance.  Each query's
    radius box is covered with its world tiles at ``zoom``
    (:func:`_query_windows`), equi-joined to the points' world cells and
    filtered on the exact distance.  A point within ``radius`` lies in the
    box, so its tile is among the box's at any latitude."""
    pts = points.select(F.col(value_col).alias("_v"), F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
    pts = _with_world_cell(pts, zoom, "_plon", "_plat")
    windows = _query_windows(queries.select(query_id, "lon", "lat"), zoom, radius=radius)
    cand = windows.join(pts, on="cell", how="inner")
    dlon = F.col("lon") - F.col("_plon")
    dlat = F.col("lat") - F.col("_plat")
    d2 = dlon * dlon + dlat * dlat
    return cand.where(d2 <= F.lit(radius * radius)).select(query_id, "_v", F.sqrt(d2).alias("_d"), "_plon", "_plat")


def grid_metrics(
    queries: DataFrame,
    points: DataFrame,
    value_col: str,
    radius: float,
    zoom: int = 6,
    min_points: int = 1,
    query_id: str = "qid",
    distance_pts: bool = False,
) -> DataFrame:
    """Per-query-cell data metrics over the points within ``radius``
    (euclidean degrees): minimum / maximum / range / count /
    average_distance — the GDALGridDataMetric* family (enum
    alg/gdal_alg.h:359-368, impls alg/gdalgrid.cpp:834+) with a circular
    search window and nMinPoints semantics (rows with fewer than
    ``min_points`` neighbors are dropped, the reference's nodata case).

    With ``distance_pts=True`` an ``average_distance_pts`` column is added:
    the mean distance over all unordered PAIRS of in-window points
    (GGA_MetricAverageDistancePts, alg/gdalgrid.cpp:1385) — NULL when the
    window holds fewer than two points.  Pairs are enumerated exactly once
    via a per-cell row_number self-join (i < j); duplicate coordinates are
    distinct points, matching the reference's index-pair loop.  The extra
    cost is one window + one equi-join on the (radius-bounded) hit set —
    quadratic only in per-window point count, never in table size.

    Plan: :func:`_radius_hits` (the radius-box cover at ``zoom``, a cell
    equi-join and a JVM-side distance filter) + groupBy agg.
    """
    hits = _radius_hits(queries, points, value_col, radius, zoom, query_id)
    # average distance accumulates in decimal so the sum is order-independent
    # (same device as summary_select's float SUMs): double(exact Σ)/n is
    # bit-identical across partitionings and engines
    avg_dist = (
        F.sum(F.col("_d").cast("decimal(26,12)")).cast("double") / F.count(F.lit(1))
    ).alias("average_distance")
    out = (
        hits.groupBy(query_id)
        .agg(
            F.min("_v").alias("minimum"),
            F.max("_v").alias("maximum"),
            (F.max("_v") - F.min("_v")).alias("range"),
            F.count(F.lit(1)).alias("count"),
            avg_dist,
        )
        .where(F.col("count") >= min_points)
    )
    if distance_pts:
        idx = hits.select(
            query_id, "_plon", "_plat",
            F.row_number()
            .over(Window.partitionBy(query_id).orderBy("_plon", "_plat"))
            .alias("_i"),
        )
        a = idx.select(query_id, F.col("_plon").alias("_ax"), F.col("_plat").alias("_ay"), F.col("_i").alias("_ia"))
        b = idx.select(query_id, F.col("_plon").alias("_bx"), F.col("_plat").alias("_by"), F.col("_i").alias("_ib"))
        dx = F.col("_ax") - F.col("_bx")
        dy = F.col("_ay") - F.col("_by")
        pair_d = F.sqrt(dx * dx + dy * dy)
        pairs = (
            a.join(b, on=query_id)
            .where(F.col("_ia") < F.col("_ib"))
            .groupBy(query_id)
            .agg(
                (
                    F.sum(pair_d.cast("decimal(26,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("average_distance_pts")
            )
        )
        out = out.join(pairs, on=query_id, how="left")
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "k",
    time: str = "t",
    value: str = "v",
    direction: str = "backward",
) -> DataFrame:
    """ASOF join: for every left row, the ``value`` of the right row with
    the greatest time ≤ left time (``backward``, inclusive) or smallest
    time ≥ left time (``forward``) within the same ``key``.

    The OGR/reference family has no as-of operator (SURVEY §2.3 lists it
    as a Spark-native superset); this is the scalable single-shuffle
    form: tag + union both sides, one window per key ordered by time with
    a last-non-null fill — never a range-join row explosion.  Ties
    (right time == left time) resolve to the right row (inclusive), via
    the side column sorting right-before-left at equal times.

    Contract: ``left`` carries (key, time, payload...); ``right`` carries
    exactly (key, time, value).  Output = left payload + ``value``
    (NULL when no qualifying right row).  Duplicate (key, time) rows on
    the right are allowed but resolved deterministically: the GREATEST
    ``value`` wins (tertiary sort on ``value`` below); pre-aggregate the
    right side if a different tie rule is wanted.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    l = left.withColumn("_side", F.lit(1))
    r = right.select(key, time, value).withColumn("_side", F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)
    # the tertiary value sort makes duplicate (key, time) right rows
    # deterministic: F.last picks the max value, run-to-run stable
    if direction == "backward":
        w = (
            Window.partitionBy(key)
            .orderBy(F.col(time).asc(), F.col("_side").asc(), F.col(value).asc_nulls_first())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy(key)
            .orderBy(F.col(time).desc(), F.col("_side").asc(), F.col(value).asc_nulls_first())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    filled = u.withColumn(value, F.last(value, ignorenulls=True).over(w))
    return filled.where(F.col("_side") == 1).drop("_side")


def grid_moving_average(
    queries: DataFrame,
    points: DataFrame,
    value_col: str,
    radius: float,
    zoom: int = 6,
    min_points: int = 1,
    query_id: str = "qid",
) -> DataFrame:
    """Moving average of point VALUES within ``radius`` of each query cell —
    GDALGridMovingAverage (alg/gdalgrid.cpp:580): value = Σvᵢ/n over the
    circular search window, rows with fewer than ``min_points`` neighbors
    dropped (the nodata case).  Same :func:`_radius_hits` plan as
    :func:`grid_metrics`; the sum accumulates in decimal so the double
    result is order-independent across partitionings and engines."""
    hits = _radius_hits(queries, points, value_col, radius, zoom, query_id)
    return (
        hits.groupBy(query_id)
        .agg(
            (F.sum(F.col("_v").cast("decimal(26,12)")).cast("double") / F.count(F.lit(1))).alias("moving_avg"),
            F.count(F.lit(1)).alias("count"),
        )
        .where(F.col("count") >= min_points)
    )


def knn_join_broadcast(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    point_id: str = "name",
    _rows: list | None = None,
) -> DataFrame:
    """Exact kNN for a SMALL query set: queries broadcast into a single
    vectorized scan of the points (per-partition top-k, combiner-style),
    then one tiny shuffle merges partials — no rings, no iteration.

    The mirror of the reference's quadtree loop for the inverted cardinality
    case (few probes, huge point set); the ring join (knn_join) remains the
    path when both sides are large.  Global top-k is exact because each
    partition keeps its own top-k per query (the global answer is a subset
    of the union of partials).  Output matches knn_join: (qid, neighbor,
    nbr_lon, nbr_lat, dist, rank), ties broken by point id ascending; a
    query or point whose lon or lat is NaN, ±inf or null takes no part.
    """
    queries, points = _finite_lonlat(queries), _finite_lonlat(points)
    qrows = _rows if _rows is not None else queries.select(query_id, "lon", "lat").collect()
    qid_arr = np.array([r[0] for r in qrows])
    qlon = np.array([float(r[1]) for r in qrows])
    qlat = np.array([float(r[2]) for r in qrows])
    qid_type = dict(queries.dtypes)[query_id]
    nbr_type = dict(points.dtypes)[point_id]
    out_schema = (
        f"{query_id} {qid_type}, neighbor {nbr_type}, "
        "nbr_lon double, nbr_lat double, dist double"
    )

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or qid_arr.size == 0:
                continue
            plon = pdf["lon"].to_numpy(np.float64)
            plat = pdf["lat"].to_numpy(np.float64)
            pid = pdf[point_id].to_numpy()
            # (P, Q) distance matrix in manageable column chunks
            for s in range(0, qid_arr.size, 512):
                ql = qlon[s : s + 512]
                qa = qlat[s : s + 512]
                d = np.sqrt((plon[:, None] - ql[None, :]) ** 2 + (plat[:, None] - qa[None, :]) ** 2)
                kk = min(k, d.shape[0])
                # per query: k smallest by (dist, point_id)
                order = np.lexsort((np.broadcast_to(pid[:, None], d.shape), d), axis=0)[:kk]
                qi = np.broadcast_to(np.arange(ql.size)[None, :], order.shape)
                rows = order.ravel()
                qs = qi.ravel() + s
                yield pd.DataFrame(
                    {
                        query_id: qid_arr[qs],
                        "neighbor": pid[rows],
                        "nbr_lon": plon[rows],
                        "nbr_lat": plat[rows],
                        "dist": d[rows, qs - s],
                    }
                )

    partials = points.select(F.col(point_id), "lon", "lat").mapInPandas(_partial, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col("neighbor").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
