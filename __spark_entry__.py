"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over the
driver-provided parquet tables; ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL for each.  Geospatial queries derive deterministic (lon, lat) from
``events.event_id`` with exact integer/IEEE arithmetic so both engines see
bit-identical coordinates; the mercator tile math in SQL mirrors the engine's
formula (gdal2tiles.py:213-252 transcription) operation-for-operation.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine import hexgrid, joins, sqlcompat, textops, tiles  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# -- deterministic point derivation (same in Spark + DuckDB) ----------------
# lon = (event_id % 36000) / 100.0 - 180.0 + 0.005   ∈ [-179.995, 179.995]
# lat = ((event_id * 7919) % 16000) / 100.0 - 80.0 + 0.005 ∈ [-79.995, 79.995]
_LON_SQL = "((event_id % 36000) / 100.0 - 180.0 + 0.005)"
_LAT_SQL = "(((event_id * 7919) % 16000) / 100.0 - 80.0 + 0.005)"

PI = repr(math.pi)
ORIGIN_SHIFT = repr(tiles.ORIGIN_SHIFT)
DEG = repr(math.pi / 180.0)  # the (pi/180) constant as the engine computes it


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    # the test parquet is one file → one scan partition; spread rows across
    # cores so pandas-UDF stages parallelize (no-op semantically)
    return ev.repartition(spark.sparkContext.defaultParallelism).select(
        "event_id",
        ((F.col("event_id") % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((F.col("event_id") * 7919) % 16000) / 100.0 - 80.0 + 0.005).alias("lat"),
    )


def _merc_tile_sql(zoom: int, lon_expr: str = "lon", lat_expr: str = "lat") -> str:
    """SQL fragments computing (tx, ty) exactly as engine.tiles does.

    Mirrors lonlat_to_meters → meters_to_pixels → pixels_to_tile with the
    same operation order and the same float64 constants (repr round-trip).
    """
    res = repr(tiles.resolution(zoom))
    mx = f"(({lon_expr}) * {ORIGIN_SHIFT} / 180.0)"
    my0 = f"(ln(tan((90.0 + ({lat_expr})) * {PI} / 360.0)) / {DEG})"
    my = f"({my0} * {ORIGIN_SHIFT} / 180.0)"
    px = f"(({mx} + {ORIGIN_SHIFT}) / {res})"
    py = f"(({my} + {ORIGIN_SHIFT}) / {res})"
    tx = f"CAST(ceil({px} / 256.0) - 1 AS BIGINT)"
    ty = f"CAST(ceil({py} / 256.0) - 1 AS BIGINT)"
    return tx, ty, px, py


def _quadkey_sql(tx_expr: str, ty_expr: str, zoom: int) -> str:
    """Quadkey as SQL string concat (gdal2tiles.py:304-318 semantics)."""
    gy = f"(({2**zoom} - 1) - ({ty_expr}))"
    parts = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        d = f"(((({tx_expr}) // {mask}) % 2) + 2 * ((({gy}) // {mask}) % 2))"
        parts.append(f"CAST({d} AS VARCHAR)")
    return " || ".join(parts)


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three cell indexes per event in ONE scan: mercator z8 TMS tile +
    google y + quadkey (gdal2tiles.py:213-318), GlobalGeodetic z6 tile
    (tmscompatible), and hexagonal multi-resolution cells.  One wide row per
    event checks the full assignment surface that was previously two rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    pts = _points(spark, sf_dir)
    out = joins.with_tile(pts, zoom=8)
    schema = StructType([StructField("gtx", LongType()), StructField("gty", LongType())])

    @F.pandas_udf(schema)
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        import numpy as np

        tx, ty = tiles.geodetic_lonlat_to_tile(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), 6
        )
        return pd.DataFrame({"gtx": tx, "gty": ty})

    gy = F.lit(2**8 - 1) - F.col("ty")
    return out.withColumn("_t", _enc(F.col("lon"), F.col("lat"))).select(
        "event_id",
        F.col("tx").alias("tx"),
        F.col("ty").alias("ty"),
        gy.cast("long").alias("google_ty"),
        F.col("quadkey").alias("quadkey"),
        F.col("_t.gtx").alias("gtx"),
        F.col("_t.gty").alias("gty"),
        # hexagonal multi-resolution cells (engine/hexgrid.py): pure
        # Catalyst expressions — JVM-side, bit-identical to the SQL oracle
        hexgrid.hex_cell_col(F.col("lon"), F.col("lat"), 4).alias("hex4"),
        hexgrid.hex_cell_col(F.col("lon"), F.col("lat"), 8).alias("hex8"),
    )


def _sql_tile_assign() -> str:
    tx, ty, _, _ = _merc_tile_sql(8)
    qk = _quadkey_sql("tx", "ty", 8)
    # GlobalGeodetic (tmscompatible): res = (180/256)/2^6; px=(180+lon)/res
    res = repr(tiles.geodetic_resolution(6))
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), t AS (
            SELECT event_id, lon, lat, {tx} AS tx, {ty} AS ty FROM pts
        )
        SELECT event_id, tx, ty, CAST((255 - ty) AS BIGINT) AS google_ty,
               {qk} AS quadkey,
               CAST(ceil(((180.0 + lon) / {res}) / 256.0) - 1 AS BIGINT) AS gtx,
               CAST(ceil(((90.0 + lat) / {res}) / 256.0) - 1 AS BIGINT) AS gty,
               {hexgrid.hex_cell_sql("lon", "lat", 4)} AS hex4,
               {hexgrid.hex_cell_sql("lon", "lat", 8)} AS hex8
        FROM t
    """


def _q_tile_density_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return (
        joins.with_tile(pts, zoom=5)
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("page_count"))
    )


def _q_tile_density_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density per z5 tile, through the fused PIP burn and the GeoTIFF
    codec: burn the points that fall in the 10° grid into 256×256 ADD tiles
    (``raster.burn_base_tiles_pip``, the burn the flagship pipeline runs;
    every point lies inside exactly one grid cell, so each counts once),
    round-trip every tile through a standalone georeferenced GeoTIFF
    (engine/tiff.py — deflate + horizontal predictor, (zoom, tx, ty)
    re-derived from the embedded geo tags only), then sum pixels per tile.
    The per-tile pixel sum equals the relational COUNT(*) (the DuckDB
    oracle) iff the fused burn and the codec round-trip are exact — so both
    are value-checked at the correctness gate, not just in pytest.  Bench
    times the relational form and the codec separately (`geotiff_codec`)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from engine import raster, tiff as _tiff

    pts = _points(spark, sf_dir)
    base = raster.burn_base_tiles_pip(pts, _grid_polygons_pdf(), 5)
    rt = _tiff.geotiff_to_tiles(_tiff.tiles_to_geotiff(base).select("tiff"))

    out_schema = StructType([
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("page_count", LongType()),
    ])

    def _sum(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            counts = [int(raster.bytes_to_tile(d).sum()) for d in pdf["data"]]
            yield pd.DataFrame({"tx": pdf["tx"], "ty": pdf["ty"],
                                "page_count": counts})

    return rt.mapInPandas(_sum, out_schema)


def _sql_tile_density_z5() -> str:
    tx, ty, _, _ = _merc_tile_sql(5)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        )
        SELECT {tx} AS tx, {ty} AS ty, COUNT(*) AS page_count
        FROM pts GROUP BY 1, 2
    """


def _q_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pyramid consistency: z8 → z5 rollup by 3-level parent key
    (the 4:1 reduce chain, gdal2tiles.py:1369-1387, counts not averaged)."""
    pts = _points(spark, sf_dir)
    z8 = joins.with_tile(pts, zoom=8)
    return (
        z8.groupBy(
            F.shiftright("tx", 3).alias("tx5"), F.shiftright("ty", 3).alias("ty5")
        )
        .agg(F.count(F.lit(1)).alias("page_count"))
    )


def _sql_pyramid_rollup() -> str:
    tx, ty, _, _ = _merc_tile_sql(8)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), t AS (SELECT {tx} AS tx, {ty} AS ty FROM pts)
        SELECT tx // 8 AS tx5, ty // 8 AS ty5, COUNT(*) AS page_count
        FROM t GROUP BY 1, 2
    """


def _grid_polygons_pdf():
    """36×18 grid of 10° cells — the arithmetic polygon layer whose PIP
    result is exactly floor arithmetic (SQL-checkable)."""
    import pandas as pd

    from engine import geom

    rows = []
    for row in range(18):
        for col in range(36):
            x0, y0 = -180.0 + col * 10.0, -90.0 + row * 10.0
            rows.append(
                (
                    row * 36 + col,
                    geom.wkb_polygon(
                        [[(x0, y0), (x0 + 10, y0), (x0 + 10, y0 + 10), (x0, y0 + 10)]]
                    ),
                )
            )
    pdf = pd.DataFrame(rows, columns=["polygon_id", "geom_wkb"])
    pdf["polygon_id"] = pdf["polygon_id"].astype("int32")
    return pdf


def _q_pip_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: points → z8 tile assign + PIP join against the 10° grid."""
    pts = _points(spark, sf_dir)
    tiled = joins.with_tile(pts, zoom=8)
    matched = joins.pip_join_broadcast(
        tiled.select("event_id", "lon", "lat", "tx", "ty", "quadkey"),
        _grid_polygons_pdf(),
        keep_cols=("event_id", "tx", "ty", "quadkey"),
    )
    return matched.select(
        "event_id",
        F.col("polygon_id").cast("int").alias("polygon_id"),
        "tx",
        "ty",
        "quadkey",
    )


def _sql_pip_tile_join() -> str:
    tx, ty, _, _ = _merc_tile_sql(8)
    qk = _quadkey_sql("tx", "ty", 8)
    # interior points only (offsets .005 keep them off 10° boundaries), so
    # point-in-cell == floor arithmetic
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), t AS (
            SELECT event_id, lon, lat, {tx} AS tx, {ty} AS ty FROM pts
        )
        SELECT event_id,
               CAST(CAST(floor((lat + 90.0) / 10.0) AS BIGINT) * 36
                    + CAST(floor((lon + 180.0) / 10.0) AS BIGINT) AS INT) AS polygon_id,
               tx, ty, {qk} AS quadkey
        FROM t
    """


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two kNN engine paths in one row: the ring-doubling join
    (engine/joins.knn_join with strategy="rings", mode 'ring', k=10; the
    default "auto" would pick the broadcast scan for these few queries)
    and reverse geocoding over the broadcast exact-kNN scan
    (engine/geotag.geocode_reverse → joins.knn_join_broadcast, mode
    'revgeo', k=1) against a disjoint point-derived gazetteer — the
    nearest-place attribution (country_id) is value-checked too.  The ring
    rows equal brute force because k=10 at zoom 4 with max_ring=6 is not
    truncated on these points."""
    from engine.geotag import geocode_reverse

    pts = _points(spark, sf_dir)
    queries = pts.where(F.col("event_id") % 200 == 0).select(
        F.col("event_id").alias("qid"), "lon", "lat"
    )
    out = joins.knn_join(
        queries, pts, k=10, zoom=4, max_ring=6, query_id="qid", point_id="event_id", strategy="rings"
    )
    ring = out.select(
        "qid", F.lit("ring").alias("mode"),
        F.col("neighbor").cast("long").alias("neighbor"),
        F.col("rank").cast("int").alias("rank"),
        F.lit(None).cast("long").alias("country_id"),
    )
    gaz = pts.where(F.col("event_id") % 50 == 25).select(
        F.col("event_id").alias("name"), "lon", "lat",
        (F.col("event_id") % 7).cast("long").alias("country_id"),
    )
    rev = geocode_reverse(queries, gaz).select(
        "qid", F.lit("revgeo").alias("mode"),
        F.col("name").cast("long").alias("neighbor"),
        F.col("rank").cast("int").alias("rank"),
        F.col("country_id").cast("long").alias("country_id"),
    )
    return ring.unionByName(rev)


def _sql_knn() -> str:
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), q AS (
            SELECT event_id AS qid, lon, lat FROM pts WHERE event_id % 200 = 0
        ), pairs AS (
            SELECT q.qid, p.event_id AS neighbor,
                   (q.lon - p.lon) * (q.lon - p.lon)
                   + (q.lat - p.lat) * (q.lat - p.lat) AS d2
            FROM q CROSS JOIN pts p
        ), ranked AS (
            SELECT qid, neighbor,
                   row_number() OVER (PARTITION BY qid ORDER BY d2, neighbor) AS rank
            FROM pairs
        ), gaz AS (
            SELECT event_id AS name, lon, lat FROM pts WHERE event_id % 50 = 25
        ), rpairs AS (
            SELECT q.qid, g.name,
                   (q.lon - g.lon) * (q.lon - g.lon)
                   + (q.lat - g.lat) * (q.lat - g.lat) AS d2
            FROM q CROSS JOIN gaz g
        ), rranked AS (
            SELECT qid, name,
                   row_number() OVER (PARTITION BY qid ORDER BY d2, name) AS rank
            FROM rpairs
        )
        SELECT qid, 'ring' AS mode, neighbor, CAST(rank AS INT) AS rank,
               CAST(NULL AS BIGINT) AS country_id
        FROM ranked WHERE rank <= 10
        UNION ALL
        SELECT qid, 'revgeo' AS mode, name AS neighbor, CAST(rank AS INT) AS rank,
               CAST(name % 7 AS BIGINT) AS country_id
        FROM rranked WHERE rank = 1
    """


def _q_point_pixel_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdallocationinfo analog (apps/gdallocationinfo.cpp:355-384): query
    point → (tile, pixel) → density value at that pixel (0 if empty)."""
    from engine import raster

    pts = _points(spark, sf_dir)
    px = raster.with_pixel(pts, zoom=8)
    density = px.groupBy("tx", "ty", "ix", "iy").agg(F.count(F.lit(1)).alias("value"))
    queries = px.where(F.col("event_id") % 97 == 0).select("event_id", "tx", "ty", "ix", "iy")
    return (
        queries.join(density, on=["tx", "ty", "ix", "iy"], how="left")
        .select(
            F.col("event_id").alias("qid"),
            "tx",
            "ty",
            F.col("ix").cast("int").alias("ix"),
            F.col("iy").cast("int").alias("iy"),
            F.coalesce(F.col("value"), F.lit(0)).cast("long").alias("value"),
        )
    )


def _sql_point_pixel_lookup() -> str:
    tx, ty, px, py = _merc_tile_sql(8)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), pix AS (
            SELECT event_id, {tx} AS tx, {ty} AS ty,
                   CAST(greatest(0, least(255, CAST(floor({px}) AS BIGINT) - {tx} * 256)) AS INT) AS ix,
                   CAST(255 - greatest(0, least(255, CAST(floor({py}) AS BIGINT) - {ty} * 256)) AS INT) AS iy
            FROM pts
        ), density AS (
            SELECT tx, ty, ix, iy, COUNT(*) AS value FROM pix GROUP BY 1, 2, 3, 4
        )
        SELECT q.event_id AS qid, q.tx, q.ty, q.ix, q.iy,
               CAST(coalesce(d.value, 0) AS BIGINT) AS value
        FROM pix q LEFT JOIN density d USING (tx, ty, ix, iy)
        WHERE q.event_id % 97 = 0
    """


# -- OGR SQL compat layer over TPC-H tables ---------------------------------


def _q_summary_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float SUM/AVG accumulate in decimal (exact, order-independent — the
    # distributed answer to the reference's single-pass string accumulators,
    # ogr/swq.cpp:285-462) and convert to double only at the end
    li = _read(spark, sf_dir, "lineitem")
    dec_price = F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
    dec_disc = F.sum(F.col("l_discount").cast("decimal(28,6)"))
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        (dec_price.cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_price"),
        dec_disc.cast("double").alias("sum_disc"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def _sql_summary_lineitem() -> str:
    return """
        SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc,
               count(*) AS n_rows, count(DISTINCT l_partkey) AS n_parts
        FROM lineitem
    """


def _q_distinct_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return sqlcompat.distinct_list(li, "l_returnflag")


def _sql_distinct_returnflag() -> str:
    return "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY l_returnflag NULLS FIRST"


def _q_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    out = sqlcompat.first_match_left_join(
        sup, cust, "s_nationkey", "c_nationkey", "c_custkey"
    )
    return out.select("s_suppkey", "s_name", "c_custkey", "c_name")


def _sql_first_match_join() -> str:
    return """
        SELECT s.s_suppkey, s.s_name, c.c_custkey, c.c_name
        FROM supplier s LEFT JOIN (
            SELECT * FROM (
                SELECT c_custkey, c_name, c_nationkey,
                       row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
                FROM customer
            ) WHERE rn = 1
        ) c ON s.s_nationkey = c.c_nationkey
    """


def _q_ogr_quirks_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive '=' + div/mod-by-zero → INT_MAX quirks in one query."""
    part = _read(spark, sf_dir, "part")
    return (
        part.where(sqlcompat.ogr_eq(F.col("p_brand"), F.lit("BRAND#13")))
        .select(
            "p_partkey",
            "p_brand",
            sqlcompat.ogr_mod(F.col("p_partkey"), F.col("p_size") - 25)
            .cast("long")
            .alias("mod_quirk"),
        )
    )


def _sql_ogr_quirks_filter() -> str:
    return """
        SELECT p_partkey, p_brand,
               CAST(CASE WHEN (p_size - 25) = 0 THEN 2147483647
                    ELSE p_partkey % (p_size - 25) END AS BIGINT) AS mod_quirk
        FROM part WHERE lower(p_brand) = lower('BRAND#13')
    """


def _q_substr_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        sqlcompat.ogr_substr(F.col("p_name"), -5).alias("tail5"),
        sqlcompat.ogr_substr(F.col("p_name"), 3, 4).alias("mid"),
        sqlcompat.ogr_concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("label"),
    )


def _sql_substr_concat() -> str:
    # OGR SUBSTR(s, -5) = last 5 chars (ogr/ogr_sql.dox:151-153)
    return """
        SELECT p_partkey,
               CASE WHEN length(p_name) >= 5 THEN substr(p_name, length(p_name) - 4)
                    ELSE p_name END AS tail5,
               substr(p_name, 3, 4) AS mid,
               p_brand || '/' || p_type AS label
        FROM part
    """


def _q_union_all_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("total")
    )
    events = _read(spark, sf_dir, "events").select(
        F.col("event_id").alias("key"), F.col("event_type").alias("etype")
    )
    return sqlcompat.union_all_layers([orders, events])


def _sql_union_all_layers() -> str:
    return """
        SELECT o_orderkey AS key, o_totalprice AS total, NULL AS etype FROM orders
        UNION ALL
        SELECT event_id AS key, NULL AS total, event_type AS etype FROM events
    """


def _q_hstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    hs = F.concat(
        F.lit("type=>"), F.col("event_type"), F.lit(", val=>"), F.col("value").cast("string")
    )
    return ev.select(
        "event_id",
        hs.alias("hstore"),
        sqlcompat.hstore_get_value(hs, "type").alias("type_val"),
        sqlcompat.hstore_get_value(hs, "val").alias("val_val"),
    )


def _sql_hstore() -> str:
    return r"""
        WITH h AS (
            SELECT event_id,
                   'type=>' || event_type || ', val=>' || CAST(value AS VARCHAR) AS hstore
            FROM events
        )
        SELECT event_id, hstore,
               regexp_extract(hstore, '(^|,)\s*"?type"?\s*=>\s*"?([^,"]*)"?', 2) AS type_val,
               regexp_extract(hstore, '(^|,)\s*"?val"?\s*=>\s*"?([^,"]*)"?', 2) AS val_val
        FROM h
    """


# -- webtext ops over documents / embeddings --------------------------------


def _q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deduplication, both forms the corpus pipeline needs, at
    per-document grain in one driver row:

    - kind='exact': hash-groupBy (md5 of text); group_id = minimum doc_id
      of the identical-text group (the survivor), n_members = group size.
    - kind='fuzzy': the full near-dup REMOVAL pipeline — MinHash+LSH
      candidate pairs → distributed connected components
      (components.min_label_propagate) → cluster_id = minimum doc_id of
      the near-dup cluster.  Oracle: same pair CTEs + a recursive-CTE
      min-label propagation in DuckDB.
    """
    docs = _read(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    groups = docs.groupBy(h.alias("_h")).agg(
        F.min("doc_id").alias("group_id"), F.count(F.lit(1)).alias("n_members")
    )
    exact = (
        docs.select("doc_id", h.alias("_h"))
        .join(F.broadcast(groups), on="_h")
        .select(
            F.lit("exact").alias("kind"),
            "doc_id",
            "group_id",
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("doc_id") == F.col("group_id")).cast("int").alias("is_canonical"),
        )
    )
    fuzzy = textops.dedup_clusters_df(docs, n_hashes=16, n_bands=4, shingle_words=3).select(
        F.lit("fuzzy").alias("kind"),
        "doc_id",
        F.col("cluster_id").alias("group_id"),
        "n_members",
        "is_canonical",
    )
    return exact.unionByName(fuzzy)


def _sql_dedup_docs() -> str:
    return f"""
        WITH RECURSIVE {_minhash_pairs_ctes()},
        edges AS (
            SELECT a AS ka, b AS kb FROM pairs
            UNION
            SELECT b AS ka, a AS kb FROM pairs
        ),
        cc AS (
            SELECT doc_id AS k, doc_id AS lab FROM documents
            UNION
            SELECT e.kb AS k, cc.lab FROM cc JOIN edges e ON e.ka = cc.k
        ),
        comp AS (SELECT k AS doc_id, MIN(lab) AS cluster_id FROM cc GROUP BY k),
        csize AS (SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY cluster_id),
        eg AS (
            SELECT md5(text) AS h, MIN(doc_id) AS group_id, COUNT(*) AS n_members
            FROM documents GROUP BY 1
        )
        SELECT 'exact' AS kind, d.doc_id, eg.group_id, eg.n_members,
               CASE WHEN d.doc_id = eg.group_id THEN 1 ELSE 0 END AS is_canonical
        FROM documents d JOIN eg ON md5(d.text) = eg.h
        UNION ALL
        SELECT 'fuzzy' AS kind, comp.doc_id, comp.cluster_id AS group_id, csize.n_members,
               CASE WHEN comp.doc_id = comp.cluster_id THEN 1 ELSE 0 END AS is_canonical
        FROM comp JOIN csize USING (cluster_id)
    """


def _q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


def _sql_doc_token_stats() -> str:
    return """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens
        FROM documents
    """


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        (n_stop.cast("double") / F.size(toks).cast("double")).alias("stopword_ratio"),
    )


def _sql_doc_quality() -> str:
    stops = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, x -> x IN ({stops}))) AS BIGINT) AS n_stopwords,
               CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS stopword_ratio
        FROM t
    """


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for every 50th vector (the ANN
    baseline; rank-only output so float summation order can't flip hashes
    except on exact ties, which the random embeddings don't produce)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "embedding", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = F.sqrt(
        F.aggregate(F.transform("qv", lambda a: a.cast("double") * a.cast("double")), F.lit(0.0), lambda acc, x: acc + x)
    )
    norm_p = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    from pyspark.sql import Window

    pairs = (
        q.crossJoin(emb)
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", (dot / (norm_q * norm_p)).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor"), F.col("rank").cast("int").alias("rank"))
    )


def _sql_embedding_topk() -> str:
    return """
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
        ), pairs AS (
            SELECT q.qid, e.vec_id,
                   list_dot_product(q.qv, e.embedding)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
            FROM q CROSS JOIN embeddings e
            WHERE e.vec_id <> q.qid
        ), ranked AS (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
            FROM pairs
        )
        SELECT qid, vec_id AS neighbor, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
    """


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file coarse quantizer, nprobe=4 of 16 lists, exact
    cosine top-3 within): centroids = the first 16 embedding vectors
    (deterministic quantizer — training is orthogonal to the index); all
    arithmetic is the same JVM fold forms as embedding_topk so the SQL
    oracle is bit-identical."""
    from engine import ann

    emb = _read(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("cvec")
    )
    queries = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return ann.ivf_topk(emb, cent, queries, k=3, nprobe=4)


def _sql_ann_ivf() -> str:
    l2 = (
        "list_dot_product({e}, {e}) - 2.0 * list_dot_product({e}, cvec)"
        " + list_dot_product(cvec, cvec)"
    )
    return f"""
        WITH cent AS (
            SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
            FROM embeddings WHERE vec_id < 16
        ), assign AS (
            SELECT vec_id, cid AS cluster FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {l2.format(e='e.embedding')} ASC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        ), q AS (
            SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0
        ), probes AS (
            SELECT qid, qv, cid AS cluster FROM (
                SELECT q.qid, q.qv, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY {l2.format(e='q.qv')} ASC, c.cid ASC) AS rn
                FROM q CROSS JOIN cent c
            ) WHERE rn <= 4
        ), cand AS (
            SELECT p.qid, e.vec_id,
                   list_dot_product(p.qv, e.embedding)
                     / (sqrt(list_dot_product(p.qv, p.qv))
                        * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
            FROM probes p
            JOIN assign a ON a.cluster = p.cluster
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE e.vec_id <> p.qid
        )
        SELECT qid, vec_id AS neighbor, CAST(rank AS INT) AS rank
        FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
            FROM cand
        ) WHERE rank <= 3
    """


def _q_quadkey_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup on the quadkey PREFIX (the cell-prefix index
    property: a z8 quadkey's 5-char prefix IS the z5 cell,
    gdal2tiles.py:304-318) — counts must equal direct z5 assignment."""
    pts = _points(spark, sf_dir)
    z8 = joins.with_tile(pts, zoom=8)
    return (
        z8.groupBy(F.substring("quadkey", 1, 5).alias("qk5"))
        .agg(F.count(F.lit(1)).alias("page_count"))
    )


def _sql_quadkey_prefix_rollup() -> str:
    tx, ty, _, _ = _merc_tile_sql(5)
    qk = _quadkey_sql("tx", "ty", 5)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), t AS (SELECT {tx} AS tx, {ty} AS ty FROM pts)
        SELECT {qk} AS qk5, COUNT(*) AS page_count FROM t GROUP BY 1
    """


# -- ogr2ogr-style transforms + remaining OGR SQL surface -------------------


def _q_ogr2ogr_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -select/-fieldmap/-nln analog (apps/ogr2ogr.cpp:958-1104):
    column selection, rename, CAST(CHARACTER(n)) truncation, computed field."""
    part = _read(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("fid"),
        sqlcompat.ogr_cast_character(F.col("p_name"), 12).alias("name12"),
        F.col("p_retailprice").cast("int").alias("price_int"),
        (F.col("p_size") * 2 + 1).cast("long").alias("size_calc"),
    )


def _sql_ogr2ogr_transform() -> str:
    return """
        SELECT p_partkey AS fid,
               substr(CAST(p_name AS VARCHAR), 1, 12) AS name12,
               CAST(trunc(p_retailprice) AS INT) AS price_int,  -- Spark cast truncates; DuckDB rounds
               CAST(p_size * 2 + 1 AS BIGINT) AS size_calc
        FROM part
    """


def _q_orderby_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY multi-key + LIMIT (OGR SQL sort, ogr_gensql.cpp:1550-1826;
    LIMIT is a Spark superset — absent from the OGR grammar).  Unique key in
    the sort makes the top-100 set deterministic."""
    orders = _read(spark, sf_dir, "orders")
    return sqlcompat.ogr_order_by(
        orders.select("o_orderkey", "o_totalprice", "o_orderdate"),
        [("o_totalprice", "desc"), ("o_orderkey", "asc")],
    ).limit(100)


def _sql_orderby_topk() -> str:
    return """
        SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey ASC NULLS FIRST
        LIMIT 100
    """


def _q_like_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive LIKE with ESCAPE (swq_test_like,
    ogr/swq_op_general.cpp:42-82).  First branch forces the escape path:
    the probe string is p_type || '%', and '!%' in the pattern must match
    that literal '%', not wildcard (ECONOMY rows match 'ECONOMY!%').
    Second branch is plain ci-LIKE ('%edium%' matches MEDIUM).  Both are
    non-empty on the fixture's p_type domain."""
    part = _read(spark, sf_dir, "part")
    probed = part.withColumn("_probe", F.concat(F.col("p_type"), F.lit("%")))
    return probed.where(sqlcompat.ogr_like(F.col("_probe"), "ECONOMY!%", escape="!")).select(
        "p_partkey", "p_type"
    ).unionByName(
        part.where(sqlcompat.ogr_like(F.col("p_type"), "%edium%")).select("p_partkey", "p_type")
    )


def _sql_like_escape() -> str:
    return """
        SELECT p_partkey, p_type FROM part
        WHERE lower(p_type || '%') LIKE lower('ECONOMY!%') ESCAPE '!'
        UNION ALL
        SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE '%edium%'
    """


def _q_spatial_filter_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetSpatialFilterRect (ogrlayer.cpp:1435): pure-JVM bbox predicate."""
    from engine import vector

    pts = _points(spark, sf_dir)
    # rect sits inside the fixture's lon span at EVERY sf (event_id % 36000
    # reaches only lon ∈ [-180, -170) at sf0.001) so the filter is non-vacuous
    return vector.spatial_filter_rect(pts, -179.0, -60.0, -172.0, 60.0).select(
        "event_id", "lon", "lat"
    )


def _sql_spatial_filter_rect() -> str:
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        )
        SELECT event_id, lon, lat FROM pts
        WHERE lon >= -179.0 AND lon <= -172.0 AND lat >= -60.0 AND lat <= 60.0
    """


def _q_extent_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetExtent/GetFeatureCount per z4 tile (ogrlayer.cpp:171,212) — the
    partition-manifest aggregate (gdaltindex analog)."""
    from engine import vector

    pts = joins.with_tile(_points(spark, sf_dir), zoom=4)
    return vector.layer_extent(pts, group=["tx", "ty"]).select(
        "tx", "ty", "feature_count", "minx", "miny", "maxx", "maxy"
    )


def _sql_extent_manifest() -> str:
    tx, ty, _, _ = _merc_tile_sql(4)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), t AS (SELECT lon, lat, {tx} AS tx, {ty} AS ty FROM pts)
        SELECT tx, ty, COUNT(*) AS feature_count,
               min(lon) AS minx, min(lat) AS miny, max(lon) AS maxx, max(lat) AS maxy
        FROM t GROUP BY 1, 2
    """


def _q_dissolve_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve (UnionCascaded analog, ogr/ogrgeometry.cpp:2657) of the 10°
    grid layer grouped by polygon_id % 7: parts count + shoelace area."""
    from engine import vector

    polys = spark.createDataFrame(_grid_polygons_pdf()).withColumn(
        "grp", (F.col("polygon_id") % 7).cast("int")
    )
    return vector.dissolve(polys, "grp").select("grp", "n_parts", "area")


def _sql_dissolve_area() -> str:
    # every grid cell is exactly 10°x10° → area 100 per member polygon
    return """
        WITH ids AS (SELECT UNNEST(range(648)) AS pid)
        SELECT CAST(pid % 7 AS INT) AS grp,
               COUNT(*) AS n_parts,
               CAST(COUNT(*) * 100.0 AS DOUBLE) AS area
        FROM ids GROUP BY 1
    """


def _ann_hyperplanes(n_planes: int = 8, dim: int = 64):
    """Deterministic literal hyperplanes h[p][d] ∈ [-1, 1] derived from md5 —
    identical constants are inlined into both the Spark plan and the SQL."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH bucketing + exact cosine refine
    within buckets (the bucketed alternative to brute-force _q_embedding_topk;
    at 100 TB the bucket equi-join replaces the cross join).  Output: for
    every query (vec_id % 25 == 0), its best same-bucket neighbor by cosine."""
    from pyspark.sql import Window

    emb = _read(spark, sf_dir, "embeddings")
    planes = _ann_hyperplanes()
    sig_bits = []
    for p, row in enumerate(planes):
        plane = F.array(*[F.lit(v) for v in row])
        dot = F.aggregate(
            F.zip_with("embedding", plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig_bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = sig_bits[0]
    for b in sig_bits[1:]:
        bucket = bucket + b
    emb_b = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    q = emb_b.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "bucket"
    )
    cand = q.join(emb_b, on="bucket").where(F.col("vec_id") != F.col("qid"))
    dot = F.aggregate(
        F.zip_with("qv", "embedding", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nq = F.sqrt(F.aggregate(F.transform("qv", lambda a: a.cast("double") * a.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
    np_ = F.sqrt(F.aggregate(F.transform("embedding", lambda a: a.cast("double") * a.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
    scored = cand.select("qid", "vec_id", (dot / (nq * np_)).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("neighbor"))
    )


def _sql_ann_lsh() -> str:
    planes = _ann_hyperplanes()
    bits = []
    for p, row in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in row) + "]"
        bits.append(
            f"CASE WHEN list_dot_product(embedding, {lit}) >= 0 THEN {1 << p} ELSE 0 END"
        )
    bucket = " + ".join(bits)
    return f"""
        WITH b AS (
            SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings
        ), q AS (
            SELECT vec_id AS qid, embedding AS qv, bucket FROM b WHERE vec_id % 25 = 0
        ), cand AS (
            SELECT q.qid, e.vec_id,
                   list_dot_product(q.qv, e.embedding)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
            FROM q JOIN b e USING (bucket)
            WHERE e.vec_id <> q.qid
        )
        SELECT qid, vec_id AS neighbor
        FROM (SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
              FROM cand)
        WHERE rn = 1
    """


# -- OGR SQL dialect compiler (engine.ogrsql) executed end-to-end -----------


def _ogr_tables(spark: SparkSession, sf_dir: str) -> dict:
    return {
        name: _read(spark, sf_dir, name)
        for name in ("part", "supplier", "customer", "lineitem")
    }


def _q_ogrsql_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.ogrsql import execute_ogr_sql

    return execute_ogr_sql(
        _ogr_tables(spark, sf_dir),
        "SELECT p_partkey, p_brand, p_size * 2 AS size2 FROM part "
        "WHERE p_brand = 'BRAND#13' AND p_size BETWEEN 5 AND 40 ORDER BY p_partkey",
    )


def _sql_ogrsql_where() -> str:
    return """
        SELECT p_partkey, p_brand, p_size * 2 AS size2 FROM part
        WHERE lower(p_brand) = lower('BRAND#13') AND p_size BETWEEN 5 AND 40
        ORDER BY p_partkey
    """


def _q_ogrsql_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.ogrsql import execute_ogr_sql

    return execute_ogr_sql(
        _ogr_tables(spark, sf_dir),
        "SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx, "
        "SUM(l_quantity) AS s, COUNT(*) AS n, COUNT(DISTINCT l_returnflag) AS nf "
        "FROM lineitem",
    )


def _sql_ogrsql_summary() -> str:
    return """
        SELECT min(l_quantity) AS mn, max(l_quantity) AS mx,
               sum(l_quantity) AS s, count(*) AS n,
               count(DISTINCT l_returnflag) AS nf
        FROM lineitem
    """


def _q_ogrsql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.ogrsql import execute_ogr_sql

    return execute_ogr_sql(
        _ogr_tables(spark, sf_dir),
        "SELECT s_suppkey, s_name, c_custkey, c_name FROM supplier "
        "LEFT JOIN customer ON supplier.s_nationkey = customer.c_nationkey",
    )


# same oracle as first_match_join (the compiler path must agree with it)
def _sql_ogrsql_join() -> str:
    return _sql_first_match_join()


def _q_ogrsql_special_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGR SQL special fields (ogr/ogr_p.h:104-111, ogr/ogr_sql.dox:459-520):
    FID, OGR_GEOMETRY (type name), OGR_GEOM_AREA — usable in SELECT, WHERE
    and ORDER BY.  Shapes are the parameterized L-polygons with closed-form
    areas."""
    from engine import geom as geommod
    from engine.ogrsql import execute_ogr_sql

    rows = []
    for i in range(20):
        w, h, t, u = _lshape_params(i)
        dx, dy = 5.0 * i, 3.0 * i
        ring = [(dx, dy), (dx + w, dy), (dx + w, dy + h), (dx + t, dy + h), (dx + t, dy + h + u), (dx, dy + h + u)]
        rows.append((i, geommod.wkb_polygon([ring])))
    shapes = spark.createDataFrame(pd.DataFrame(rows, columns=["sid", "geom_wkb"]))
    out = execute_ogr_sql(
        {"shapes": shapes},
        "SELECT FID, OGR_GEOMETRY, OGR_GEOM_AREA FROM shapes "
        "WHERE OGR_GEOM_AREA > 12 ORDER BY FID",
    )
    return out.select(
        F.col("FID").alias("fid"),
        F.col("OGR_GEOMETRY").alias("gtype"),
        F.round(F.col("OGR_GEOM_AREA"), 6).alias("garea"),
    )


def _sql_ogrsql_special_fields() -> str:
    return """
        WITH p AS (
            SELECT CAST(i AS INT) AS pid,
                   3 + i % 5 AS w, 2 + i % 4 AS h, 1 + i % 2 AS t, 3 + i % 6 AS u
            FROM (SELECT UNNEST(range(20)) AS i)
        )
        SELECT CAST(pid AS BIGINT) AS fid, 'POLYGON' AS gtype,
               ROUND(CAST(w * h + t * u AS DOUBLE), 6) AS garea
        FROM p WHERE w * h + t * u > 12 ORDER BY fid
    """


def _q_summary_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date semantics in summary aggregates (ogr_gensql.cpp:927-945,
    ogr/swq.cpp:438-445): AVG over a timestamp column = average of unix
    time (whole seconds); MIN/MAX keep the GetFieldAsString form
    'YYYY/MM/DD HH:MM:SS'."""
    ev = _read(spark, sf_dir, "events")
    out = sqlcompat.summary_select(
        ev,
        {
            "min_ts": ("min", "ts"),
            "max_ts": ("max", "ts"),
            "avg_ts": ("avg", "ts"),
            "n": ("count", "*"),
        },
    )
    return out.select("min_ts", "max_ts", F.round("avg_ts", 6).alias("avg_ts"), "n")


def _sql_summary_dates() -> str:
    return """
        SELECT strftime(min(ts), '%Y/%m/%d %H:%M:%S') AS min_ts,
               strftime(max(ts), '%Y/%m/%d %H:%M:%S') AS max_ts,
               ROUND(AVG(CAST(floor(epoch(ts)) AS BIGINT)), 6) AS avg_ts,
               COUNT(*) AS n
        FROM events
    """


# -- raster statistics cross-check: tile-table path vs relational oracle ----


def _q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burn the density tile table at z5, compute raster statistics on the
    TILES (gcore/gdalrasterband.cpp:3477 path); the oracle computes the same
    numbers relationally from raw pixel counts — the two paths must agree."""
    from engine import raster

    pts = _points(spark, sf_dir)
    base = raster.burn_base_tiles(pts, 5)
    # mean as integer parts-per-billion: the r1/r2 driver hash tripped on the
    # lone DOUBLE column despite bit-identical values, so the row is pure
    # integers now (sum and n_pixels are exact integers → deterministic)
    return raster.raster_statistics(base).select(
        "zoom", "n_pixels", "n_nonzero", "sum_val", "min_val", "max_val",
        F.round(F.col("mean_val") * 1e9).cast("long").alias("mean_val_ppb"),
    )


def _sql_raster_stats() -> str:
    tx, ty, px, py = _merc_tile_sql(5)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), pix AS (
            SELECT {tx} AS tx, {ty} AS ty,
                   greatest(0, least(255, CAST(floor({px}) AS BIGINT) - {tx} * 256)) AS ix,
                   greatest(0, least(255, CAST(floor({py}) AS BIGINT) - {ty} * 256)) AS iy
            FROM pts
        ), cnts AS (
            SELECT tx, ty, ix, iy, COUNT(*) AS c FROM pix GROUP BY 1,2,3,4
        ), tiles AS (SELECT DISTINCT tx, ty FROM cnts)
        SELECT CAST(5 AS INT) AS zoom,
               CAST((SELECT COUNT(*) FROM tiles) * 65536 AS BIGINT) AS n_pixels,
               (SELECT COUNT(*) FROM cnts) AS n_nonzero,
               -- DuckDB SUM(BIGINT) returns HUGEINT, which pandas renders as
               -- float64 and the driver's value hash sees 10000.0 != 10000;
               -- the engine side is int64, so pin the oracle to BIGINT too
               CAST((SELECT SUM(c) FROM cnts) AS BIGINT) AS sum_val,
               CAST(0 AS BIGINT) AS min_val,
               (SELECT MAX(c) FROM cnts) AS max_val,
               CAST(ROUND(CAST((SELECT SUM(c) FROM cnts) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM tiles) * 65536 AS DOUBLE) * 1e9)
                   AS BIGINT) AS mean_val_ppb
    """


def _q_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine import raster

    pts = _points(spark, sf_dir)
    base = raster.burn_base_tiles(pts, 5)
    return raster.raster_histogram(base, n_buckets=16, lo=0, hi=16).select(
        "zoom", "bucket", "pix_count"
    )


def _sql_raster_histogram() -> str:
    tx, ty, px, py = _merc_tile_sql(5)
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), pix AS (
            SELECT {tx} AS tx, {ty} AS ty,
                   greatest(0, least(255, CAST(floor({px}) AS BIGINT) - {tx} * 256)) AS ix,
                   greatest(0, least(255, CAST(floor({py}) AS BIGINT) - {ty} * 256)) AS iy
            FROM pts
        ), cnts AS (
            SELECT tx, ty, ix, iy, COUNT(*) AS c FROM pix GROUP BY 1,2,3,4
        ), nz AS (
            SELECT CAST(least(c, 15) AS INT) AS bucket, COUNT(*) AS pix_count
            FROM cnts GROUP BY 1
        ), totals AS (
            SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT tx, ty FROM cnts)) * 65536
                   - (SELECT COUNT(*) FROM cnts) AS zeros
        )
        SELECT CAST(5 AS INT) AS zoom, b.bucket,
               CAST(CASE WHEN b.bucket = 0
                    THEN coalesce(nz.pix_count, 0) + (SELECT zeros FROM totals)
                    ELSE coalesce(nz.pix_count, 0) END AS BIGINT) AS pix_count
        FROM (SELECT CAST(UNNEST(range(16)) AS INT) AS bucket) b
        LEFT JOIN nz ON b.bucket = nz.bucket
    """


# -- text-analysis / dedup family (engine.textops) --------------------------

_H60_SQL = "CAST(CONCAT('0x', substring(md5({x}), 1, 15)) AS BIGINT)"
_H32_SQL = "CAST(CONCAT('0x', substring(md5({x}), 1, 8)) AS BIGINT)"


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", textops.lang_id(F.col("text")).alias("lang_pred"))


def _sql_lang_id() -> str:
    counts = []
    for lang in textops._LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS[lang])
        counts.append(
            f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({words}))) AS c_{lang}"
        )
    whens = " ".join(
        f"WHEN c_{lang} = best AND best > 0 THEN '{lang}'" for lang in textops._LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in textops._LANG_ORDER) + ")"
    return f"""
        WITH s AS (SELECT doc_id, {', '.join(counts)} FROM documents),
        b AS (SELECT doc_id, {best} AS best, * FROM s)
        SELECT doc_id, CASE {whens} ELSE 'und' END AS lang_pred FROM b
    """


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash family in one driver row: the 16-bit oracle form, the 64-bit
    production word (engine/textops.py:222), and n_near = count of banded
    near-duplicate partners at Hamming ≤ 3 (chunk-index equi-join,
    textops.simhash_near_pairs — never all-pairs; the brute-force oracle
    proves the banding exact)."""
    docs = _read(spark, sf_dir, "documents")
    # both widths in ONE document scan; the near-pair banding reuses the
    # same signature frame (localCheckpoint: three consumers below)
    base = textops.simhash_all_df(docs).localCheckpoint(eager=False)
    pairs = textops.simhash_near_pairs(docs, max_hamming=3, sig=base)
    cnt = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionAll(pairs.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return base.join(cnt, on="doc_id", how="left").select(
        "doc_id", "simhash", "simhash64",
        F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
    )


def _sql_simhash() -> str:
    h = _H60_SQL.format(x="t")
    h32a = _H32_SQL.format(x="t")
    h32b = "CAST(CONCAT('0x', substring(md5(t), 9, 8)) AS BIGINT)"
    bits = []
    for i in range(16):
        # contrib_i = sum(+1 if bit set else -1) > 0  ⟺  2*n_set > n_tokens
        bits.append(
            f"CASE WHEN 2 * len(list_filter(hs, x -> (x >> {i}) & 1 = 1)) > len(hs) "
            f"THEN {1 << i} ELSE 0 END"
        )
    # 64-bit: bits 0..31 from md5 word 1, 32..63 from word 2; bit 63 wraps
    # into the BIGINT sign (two's complement), matching Spark's shiftleft
    bits64 = []
    for i in range(63):
        src, bit = ("h1", i) if i < 32 else ("h2", i - 32)
        bits64.append(
            f"CASE WHEN 2 * len(list_filter({src}, x -> (x >> {bit}) & 1 = 1)) > len({src}) "
            f"THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
        )
    bits64.append(
        "CASE WHEN 2 * len(list_filter(h2, x -> (x >> 31) & 1 = 1)) > len(h2) "
        "THEN (-9223372036854775807 - 1) ELSE CAST(0 AS BIGINT) END"
    )
    return f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(string_split(lower(text), ' '), t -> {h}) AS hs,
                   list_transform(string_split(lower(text), ' '), t -> {h32a}) AS h1,
                   list_transform(string_split(lower(text), ' '), t -> {h32b}) AS h2
            FROM documents
        ), sh AS (
            SELECT doc_id, CAST({' + '.join(bits)} AS BIGINT) AS simhash,
                   CAST({' + '.join(bits64)} AS BIGINT) AS simhash64
            FROM h
        ), np AS (
            SELECT a.doc_id, COUNT(*) AS n_near
            FROM sh a JOIN sh b
              ON a.doc_id <> b.doc_id
             AND bit_count(xor(a.simhash64, b.simhash64)) <= 3
            GROUP BY a.doc_id
        )
        SELECT sh.doc_id, sh.simhash, sh.simhash64,
               CAST(COALESCE(np.n_near, 0) AS BIGINT) AS n_near
        FROM sh LEFT JOIN np USING (doc_id)
    """


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return textops.minhash_lsh_pairs(docs, n_hashes=16, n_bands=4, shingle_words=3)


def _minhash_pairs_ctes() -> str:
    """The MinHash+LSH candidate-pair pipeline as a DuckDB CTE list
    (sh → hashed → sigs0 → sigs → banded → pairs), shared by the
    minhash_lsh and dedup_docs oracles."""
    a, b = textops._hash_params(16)
    h32 = _H32_SQL.format(x="s")
    P = textops.MERSENNE_P
    sig_exprs = ", ".join(
        f"coalesce(list_min(list_transform(hs, h -> (h * {ai} + {bi}) % {P})), {P}) AS m{i}"
        for i, (ai, bi) in enumerate(zip(a, b))
    )
    band_keys = ", ".join(
        "md5(" + " || ',' || ".join(f"CAST(m{bi * 4 + r} AS VARCHAR)" for r in range(4)) + f") AS k{bi}"
        for bi in range(4)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, k{bi} AS key, sig FROM sigs" for bi in range(4)
    )
    return f"""sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(ts[i+1:i+3], ' ')
                                  for i in range(0, greatest(len(ts) - 3, 0) + 1)]) AS shingles
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)
        ), hashed AS (
            SELECT doc_id, list_transform(shingles, s -> {h32}) AS hs FROM sh
        ), sigs0 AS (
            SELECT doc_id, {sig_exprs} FROM hashed
        ), sigs AS (
            SELECT doc_id, [{', '.join(f'm{i}' for i in range(16))}] AS sig,
                   {band_keys}
            FROM sigs0
        ), banded AS ({band_rows}),
        pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sig AS sl, r.sig AS sr
            FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
            WHERE l.doc_id < r.doc_id
        )"""


def _sql_minhash_lsh() -> str:
    agree = " + ".join(f"CASE WHEN sl[{i + 1}] = sr[{i + 1}] THEN 1 ELSE 0 END" for i in range(16))
    return f"""
        WITH {_minhash_pairs_ctes()}
        SELECT a, b,
               CAST(({agree}) AS DOUBLE) / 16.0 AS est_jaccard
        FROM pairs
    """


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard on LSH-banded candidates (the scale path —
    banding equi-join, shingle joins by id, NO cartesian product; see
    tests/test_plan_quality.py).  The brute-force all-pairs form
    (textops.ngram_jaccard_pairs) remains the pytest oracle measuring this
    row's recall; the DuckDB oracle here reproduces the banding so values
    check exactly."""
    docs = _read(spark, sf_dir, "documents")
    return textops.ngram_jaccard_banded(docs, n=3, threshold=0.2)


def _sql_ngram_jaccard() -> str:
    return f"""
        WITH {_minhash_pairs_ctes()}
        SELECT * FROM (
            SELECT p.a AS a, p.b AS b,
                   CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
                       AS jaccard
            FROM pairs p
            JOIN sh sa ON sa.doc_id = p.a
            JOIN sh sb ON sb.doc_id = p.b
        ) WHERE jaccard >= 0.2
    """


def _grid15_polygons_pdf():
    """24×12 grid of 15° cells offset by (+3.6, +2.7) — the method layer for
    layer algebra: offsets keep every edge off the 10° grid's edges so all
    overlap areas are strictly positive and rectangle-math-checkable."""
    from engine import geom

    rows = []
    for k in range(12):
        for j in range(24):
            x0, y0 = -176.4 + j * 15.0, -87.3 + k * 15.0
            rows.append(
                (k * 24 + j, geom.wkb_polygon([[(x0, y0), (x0 + 15, y0), (x0 + 15, y0 + 15), (x0, y0 + 15)]]))
            )
    pdf = pd.DataFrame(rows, columns=["polygon_id", "geom_wkb"])
    pdf["polygon_id"] = pdf["polygon_id"].astype("int32")
    return pdf


_ALGEBRA_LAYERS_SQL = """
        a AS (
            SELECT CAST(r * 36 + c AS INT) AS a_id,
                   -180.0 + c * 10.0 AS ax0, -90.0 + r * 10.0 AS ay0,
                   -170.0 + c * 10.0 AS ax1, -80.0 + r * 10.0 AS ay1
            FROM (SELECT UNNEST(range(18)) AS r), (SELECT UNNEST(range(36)) AS c)
        ), b AS (
            SELECT CAST(k * 24 + j AS INT) AS b_id,
                   -176.4 + j * 15.0 AS bx0, -87.3 + k * 15.0 AS by0,
                   -161.4 + j * 15.0 AS bx1, -72.3 + k * 15.0 AS by1
            FROM (SELECT UNNEST(range(12)) AS k), (SELECT UNNEST(range(24)) AS j)
        )
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join (Spark-native superset row of SURVEY §2.3): each event,
    placed on a deterministic 1995-2001 time axis, picks the latest order
    (per key = user_id ↔ o_custkey%150) on or before its time.  Oracle =
    DuckDB's native ASOF LEFT JOIN."""
    from engine import joins as joinsmod

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id")).alias("k"),
        F.expr("cast(date_add(to_date('1995-01-01'), cast(event_id % 2400 as int)) as timestamp)").alias("t"),
    )
    orders = _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        "o_orderkey",
    )
    # dedupe right per (key, time): max orderkey (deterministic tie rule)
    r = orders.groupBy("k", "t").agg(F.max("o_orderkey").alias("asof_orderkey"))
    out = joinsmod.asof_join(ev, r, key="k", time="t", value="asof_orderkey")
    return out.select("event_id", "asof_orderkey")


def _sql_asof_join() -> str:
    return """
        WITH l AS (
            SELECT event_id, user_id AS k,
                   TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2400) DAY AS t
            FROM events
        ), r AS (
            SELECT o_custkey % 150 AS k, CAST(o_orderdate AS TIMESTAMP) AS t,
                   MAX(o_orderkey) AS asof_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT l.event_id, r.asof_orderkey
        FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.t >= r.t
    """


# line-clip fixture: rect A, holed rect B, horizontal ±2° segments per event
_LC_R0 = (-175.0, -40.0, -160.0, 40.0)
_LC_R1 = (-150.0, -20.0, -130.0, 30.0)
_LC_H = (-145.0, -10.0, -138.0, 10.0)


def _line_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal 4°-wide segment per event point (lon±2, lat)."""
    from engine import geom as geommod

    pts = _points(spark, sf_dir).select("event_id", "lon", "lat")

    @F.pandas_udf("binary")
    def _mk(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            [
                geommod.wkb_linestring([(x - 2.0, y), (x + 2.0, y)])
                for x, y in zip(lon, lat)
            ]
        )

    return pts.select(
        F.col("event_id").cast("int").alias("lid"), _mk("lon", "lat").alias("geom_wkb")
    )


def _lineclip_polys(spark: SparkSession) -> DataFrame:
    from engine import geom as geommod

    r0 = geommod.wkb_polygon(
        [[(_LC_R0[0], _LC_R0[1]), (_LC_R0[2], _LC_R0[1]), (_LC_R0[2], _LC_R0[3]), (_LC_R0[0], _LC_R0[3])]]
    )
    r1 = geommod.wkb_polygon(
        [
            [(_LC_R1[0], _LC_R1[1]), (_LC_R1[2], _LC_R1[1]), (_LC_R1[2], _LC_R1[3]), (_LC_R1[0], _LC_R1[3])],
            [(_LC_H[0], _LC_H[1]), (_LC_H[2], _LC_H[1]), (_LC_H[2], _LC_H[3]), (_LC_H[0], _LC_H[3])],
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame({"pid": pd.array([0, 1], dtype="int32"), "geom_wkb": [r0, r1]})
    )


# shared oracle arithmetic for the line-clip fixture (DuckDB):
# l0/l1 = segment x-range; per-rect overlap via interval arithmetic, the
# hole subtracts from one end (segment length 4 < hole width 7, so the
# inside part of a segment is always a single interval)
_LC_CTE = f"""
        pts AS (
            SELECT CAST(event_id AS INT) AS lid,
                   {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), seg AS (
            SELECT lid, lat, lon - 2.0 AS l0, lon + 2.0 AS l1 FROM pts
        ), iv AS (
            SELECT lid, l0, l1,
                   CASE WHEN lat > {_LC_R0[1]} AND lat < {_LC_R0[3]}
                        THEN greatest(0.0, least(l1, {_LC_R0[2]}) - greatest(l0, {_LC_R0[0]}))
                        ELSE 0.0 END AS ov0,
                   CASE WHEN lat > {_LC_R0[1]} AND lat < {_LC_R0[3]}
                        THEN greatest(l0, {_LC_R0[0]}) ELSE NULL END AS i00,
                   CASE WHEN lat > {_LC_R0[1]} AND lat < {_LC_R0[3]}
                        THEN least(l1, {_LC_R0[2]}) ELSE NULL END AS i01,
                   CASE WHEN lat > {_LC_R1[1]} AND lat < {_LC_R1[3]}
                        THEN greatest(l0, {_LC_R1[0]}) ELSE NULL END AS a1,
                   CASE WHEN lat > {_LC_R1[1]} AND lat < {_LC_R1[3]}
                        THEN least(l1, {_LC_R1[2]}) ELSE NULL END AS b1,
                   (lat > {_LC_H[1]} AND lat < {_LC_H[3]}) AS hole_y
            FROM seg
        ), iv2 AS (
            SELECT lid, l0, l1, ov0, i00, i01,
                   COALESCE(greatest(0.0, b1 - a1), 0.0) AS ovl1,
                   CASE WHEN hole_y AND COALESCE(b1 - a1, 0) > 0
                        THEN greatest(0.0, least(b1, {_LC_H[2]}) - greatest(a1, {_LC_H[0]}))
                        ELSE 0.0 END AS hl,
                   a1, b1,
                   greatest(a1, {_LC_H[0]}) AS h0, least(b1, {_LC_H[2]}) AS h1
            FROM iv
        ), iv3 AS (
            SELECT lid, l0, l1, ov0, i00, i01,
                   ovl1 - hl AS ins1_len,
                   CASE WHEN hl > 0 AND h0 <= a1 + 1e-12 THEN h1 ELSE a1 END AS ins10,
                   CASE WHEN hl > 0 AND h1 >= b1 - 1e-12 THEN h0 ELSE b1 END AS ins11
            FROM iv2
        )
"""


def _q_layer_clip_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-layer Clip (ogr2ogr -clipsrc, apps/ogr2ogr.cpp:3513; layer Clip
    ogrlayer.cpp:3424 with LineString inputs): parts of each event segment
    inside rect A ∪ holed rect B — the dimension-preserving line result the
    type-generic reference algebra emits (ogrlayer.cpp:2038-2054)."""
    from engine import lineclip

    out = lineclip.layer_clip_lines(_line_layer(spark, sf_dir), _lineclip_polys(spark), res=10.0)
    return out.select("a_id", "n_parts", F.round("length", 6).alias("length"))


def _sql_layer_clip_lines() -> str:
    return f"""
        WITH {_LC_CTE}
        SELECT lid AS a_id,
               CAST(CASE WHEN ov0 > 0 THEN 1 ELSE 0 END
                  + CASE WHEN ins1_len > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_parts,
               ROUND(CAST(ov0 + ins1_len AS DOUBLE), 6) AS length
        FROM iv3 WHERE ov0 + ins1_len > 0
    """


def _q_layer_erase_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-layer Erase (ogrlayer.cpp:3660 with LineString inputs): parts
    of each event segment outside every method polygon; untouched segments
    pass through whole."""
    from engine import lineclip

    out = lineclip.layer_erase_lines(_line_layer(spark, sf_dir), _lineclip_polys(spark), res=10.0)
    return out.select("a_id", "n_parts", F.round("length", 6).alias("length"))


def _sql_layer_erase_lines() -> str:
    # the inside part of a segment is a single interval [I0, I1] (at most
    # one rect overlaps: the rect gap of 10° exceeds the 4° segment)
    return f"""
        WITH {_LC_CTE}, ins AS (
            SELECT lid, l0, l1,
                   CASE WHEN ov0 > 0 THEN ov0 ELSE ins1_len END AS ins_len,
                   CASE WHEN ov0 > 0 THEN i00 WHEN ins1_len > 0 THEN ins10 ELSE NULL END AS i0,
                   CASE WHEN ov0 > 0 THEN i01 WHEN ins1_len > 0 THEN ins11 ELSE NULL END AS i1
            FROM iv3
        )
        SELECT lid AS a_id,
               CAST(CASE WHEN COALESCE(ins_len, 0) <= 0 THEN 1
                    ELSE CASE WHEN i0 > l0 + 1e-12 THEN 1 ELSE 0 END
                       + CASE WHEN i1 < l1 - 1e-12 THEN 1 ELSE 0 END END AS BIGINT) AS n_parts,
               ROUND(CAST((l1 - l0) - COALESCE(ins_len, 0) AS DOUBLE), 6) AS length
        FROM ins WHERE (l1 - l0) - COALESCE(ins_len, 0) > 1e-9
    """


_PROX_TARGETS = [((37 * i) % 256, (59 * i + 11) % 256) for i in range(12)]  # (row, col)


def _q_proximity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALComputeProximity analog (alg/gdalproximity.cpp:44-85) on one tile
    with 12 fixed target pixels; emits every pixel within maxdist=25 of a
    target.  Exact euclidean: every candidate squared distance is an
    integer, so Spark and the SQL oracle compute bit-identical doubles."""
    import numpy as np

    from engine import proximity as prox
    from engine import raster

    g = np.zeros((raster.TILE_SIZE, raster.TILE_SIZE), dtype=np.int64)
    for r, c in _PROX_TARGETS:
        g[r, c] = 7
    tile = spark.createDataFrame(
        pd.DataFrame({"zoom": [3], "tx": [0], "ty": [0], "data": [raster.tile_to_bytes(g)]})
    )
    out = prox.proximity(tile, target_values=(7,), maxdist=25.0, nodata=-1.0)

    def _explode(batches):
        import numpy as np

        for pdf in batches:
            for rr in pdf.itertuples():
                arr = np.frombuffer(rr.data, dtype="<f8").reshape(raster.TILE_SIZE, raster.TILE_SIZE)
                py, px = np.nonzero(arr >= 0)
                yield pd.DataFrame({"px": px.astype("int32"), "py": py.astype("int32"), "dist": arr[py, px]})

    return out.mapInPandas(_explode, "px int, py int, dist double")


def _sql_proximity_grid() -> str:
    tgts = ", ".join(f"({r}, {c})" for r, c in _PROX_TARGETS)
    return f"""
        WITH t(tr, tc) AS (VALUES {tgts}),
        grid AS (
            SELECT CAST(px AS INT) AS px, CAST(py AS INT) AS py
            FROM (SELECT UNNEST(range(256)) AS px), (SELECT UNNEST(range(256)) AS py)
        )
        SELECT px, py,
               MIN(sqrt(CAST((py - tr) * (py - tr) + (px - tc) * (px - tc) AS DOUBLE))) AS dist
        FROM grid, t
        GROUP BY px, py
        HAVING MIN(sqrt(CAST((py - tr) * (py - tr) + (px - tc) * (px - tc) AS DOUBLE))) <= 25.0
    """


def _q_sieve_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALSieveFilter (alg/gdalsievefilter.cpp:133-185): 40 (big bar, small
    bar) component couples crossing a tile seam; after the sieve every small
    bar takes its big neighbor's value, making per-value pixel counts a
    closed-form arithmetic oracle."""
    import numpy as np

    from engine import components, raster

    T = raster.TILE_SIZE
    a = np.zeros((T, T), dtype=np.int64)
    b = np.zeros((T, T), dtype=np.int64)

    def _hbar(row, col0, length, val):
        end = col0 + length
        a[row, col0 : min(end, T)] = val
        if end > T:
            b[row, : end - T] = val

    for i in range(40):
        row = 6 * i + 2
        _hbar(row, 230, 26 + i, 1 + i % 5)
        _hbar(row + 1, 233, 1 + i % 8, 6 + i % 3)
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [3, 3], "tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(a), raster.tile_to_bytes(b)]}
        )
    )
    out = components.sieve_filter(tiles_df, min_pixels=25)

    def _counts(batches):
        import numpy as np

        for pdf in batches:
            for rr in pdf.itertuples():
                g = raster.bytes_to_tile(rr.data)
                vals, cnts = np.unique(g[g != 0], return_counts=True)
                yield pd.DataFrame({"value": vals.astype("int32"), "pixel_count": cnts.astype("int64")})

    return out.mapInPandas(_counts, "value int, pixel_count long").groupBy("value").agg(
        F.sum("pixel_count").alias("pixel_count")
    )


def _sql_sieve_value_counts() -> str:
    return """
        SELECT CAST(1 + i % 5 AS INT) AS value,
               CAST(SUM(27 + i + (i % 8)) AS BIGINT) AS pixel_count
        FROM (SELECT UNNEST(range(40)) AS i)
        GROUP BY 1
    """


_CONTOUR_LEVELS = [100.5, 300.5, 600.5]


def _q_contour_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour (alg/contour.cpp) on the linear field v = gx + row over two
    tiles: every crossing cell yields one √0.5 chord, so per-level counts
    and lengths have a closed form the SQL oracle reproduces."""
    import numpy as np

    from engine import contour, raster

    T = raster.TILE_SIZE
    grids = {}
    for tx in (0, 1):
        c = np.arange(T)[None, :] + tx * T
        r = np.arange(T)[:, None]
        grids[(tx, 0)] = (c + r).astype(np.int64)
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [3, 3], "tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(grids[(0, 0)]), raster.tile_to_bytes(grids[(1, 0)])]}
        )
    )
    out = contour.contour_lengths(tiles_df, _CONTOUR_LEVELS)
    return out.select("level", "n_segments", F.round("total_length", 6).alias("total_length"))


def _sql_contour_linear() -> str:
    lv = ", ".join(f"({repr(l)}, {int(l)})" for l in _CONTOUR_LEVELS)
    # cell grid: gx ∈ [0,510], row ∈ [0,254]; n(s) = #cells with gx+row = s
    n = "GREATEST(0, LEAST(510, {s}) - GREATEST(0, {s} - 254) + 1)"
    nk = n.format(s="k")
    nk1 = n.format(s="k - 1")
    return f"""
        WITH lv(level, k) AS (VALUES {lv})
        SELECT level,
               CAST({nk} + {nk1} AS BIGINT) AS n_segments,
               ROUND(CAST(({nk} + {nk1}) * sqrt(0.5) AS DOUBLE), 6) AS total_length
        FROM lv
    """


def _q_contour_polylines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour polyline assembly (alg/contour.cpp stitching): on the linear
    field each level is ONE open chain whose point count and length follow
    the anti-diagonal closed form."""
    import numpy as np

    from engine import contour, raster

    T = raster.TILE_SIZE
    grids = {}
    for tx in (0, 1):
        c = np.arange(T)[None, :] + tx * T
        r = np.arange(T)[:, None]
        grids[(tx, 0)] = (c + r).astype(np.int64)
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [3, 3], "tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(grids[(0, 0)]), raster.tile_to_bytes(grids[(1, 0)])]}
        )
    )
    out = contour.contour_polylines(tiles_df, _CONTOUR_LEVELS)
    return out.select(
        "level", "n_points", F.round("length", 6).alias("length"), F.col("closed").cast("int").alias("closed")
    )


def _sql_contour_polylines() -> str:
    lv = ", ".join(f"({repr(l)}, {int(l)})" for l in _CONTOUR_LEVELS)
    n = "GREATEST(0, LEAST(510, {s}) - GREATEST(0, {s} - 254) + 1)"
    nk = n.format(s="k")
    nk1 = n.format(s="k - 1")
    return f"""
        WITH lv(level, k) AS (VALUES {lv})
        SELECT level,
               CAST({nk} + {nk1} + 1 AS BIGINT) AS n_points,
               ROUND(CAST(({nk} + {nk1}) * sqrt(0.5) AS DOUBLE), 6) AS length,
               0 AS closed
        FROM lv
    """


_LINEREF_PTS = [(-150.0, -60.0), (-60.0, -20.0), (0.0, 0.0), (60.0, 20.0), (150.0, 60.0)]


def _q_lineref_locate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing (ogrlineref get_pos, apps/ogrlineref.cpp:54-87):
    project every event point onto a fixed polyline → (measure, offset)."""
    from engine import lineref

    pts = _points(spark, sf_dir)
    out = lineref.locate_points(pts, _LINEREF_PTS)
    return out.select(
        "event_id", F.round("measure", 6).alias("measure"), F.round("offset", 6).alias("offset")
    )


def _sql_lineref_locate() -> str:
    from engine.lineref import Polyline

    pl = Polyline(_LINEREF_PTS)
    seg_rows = ", ".join(
        f"({i}, {repr(float(pl.x1[i]))}, {repr(float(pl.y1[i]))}, {repr(float(pl.dx[i]))}, "
        f"{repr(float(pl.dy[i]))}, {repr(float(pl.len2[i]))}, {repr(float(pl.seglen[i]))}, "
        f"{repr(float(pl.cum[i]))})"
        for i in range(pl.x1.shape[0])
    )
    return f"""
        WITH seg(idx, x1, y1, dx, dy, len2, seglen, cum) AS (VALUES {seg_rows}),
        pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        ), proj AS (
            SELECT event_id, idx, cum, seglen,
                   LEAST(GREATEST(((lon - x1) * dx + (lat - y1) * dy) / len2, 0.0), 1.0) AS t,
                   lon, lat, x1, y1, dx, dy
            FROM pts, seg
        ), d AS (
            SELECT event_id, idx, cum + t * seglen AS measure,
                   (lon - (x1 + t * dx)) * (lon - (x1 + t * dx))
                 + (lat - (y1 + t * dy)) * (lat - (y1 + t * dy)) AS d2
            FROM proj
        ), r AS (
            SELECT event_id, measure, d2,
                   ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY d2, idx) AS rn
            FROM d
        )
        SELECT event_id, ROUND(measure, 6) AS measure, ROUND(sqrt(d2), 6) AS offset
        FROM r WHERE rn = 1
    """


def _q_grid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGridDataMetric* (alg/gdalgrid.cpp:834+): min/max/range/count/
    average-distance per output cell over events within a 1.5° radius, on a
    32×32 grid of cell centers covering lon,lat ∈ [-16,16)."""
    from engine import joins

    # grid anchored at lon=-180 so it overlaps the fixture's point span at
    # every sf (sf0.001 points only reach lon ∈ [-180, -170))
    centers = spark.range(32 * 32).select(
        F.col("id").cast("int").alias("qid"),
        (-180.0 + (F.col("id") % 32) + 0.5).alias("lon"),
        (-16.0 + F.floor(F.col("id") / 32) + 0.5).alias("lat"),
    )
    pts = _points(spark, sf_dir).select(
        "lon", "lat", (F.col("event_id") % 97).cast("double").alias("z")
    )
    out = joins.grid_metrics(centers, pts, "z", radius=1.5, zoom=6, distance_pts=True)
    return out.select(
        "qid", "minimum", "maximum", "range", "count",
        F.round("average_distance", 6).alias("average_distance"),
        F.round("average_distance_pts", 6).alias("average_distance_pts"),
    )


def _sql_grid_metrics() -> str:
    return f"""
        WITH centers AS (
            SELECT CAST(i AS INT) AS qid,
                   -180.0 + (i % 32) + 0.5 AS clon,
                   -16.0 + floor(i / 32) + 0.5 AS clat
            FROM (SELECT UNNEST(range(1024)) AS i)
        ), pts AS (
            SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat,
                   CAST(event_id % 97 AS DOUBLE) AS z
            FROM events
        ), hits AS (
            SELECT qid, z, lon, lat,
                   sqrt((clon - lon) * (clon - lon) + (clat - lat) * (clat - lat)) AS d
            FROM centers, pts
            WHERE (clon - lon) * (clon - lon) + (clat - lat) * (clat - lat) <= 2.25
        ), idx AS (
            SELECT qid, lon, lat,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY lon, lat) AS i
            FROM hits
        ), pair_agg AS (
            SELECT a.qid,
                   ROUND(CAST(SUM(CAST(sqrt((a.lon - b.lon) * (a.lon - b.lon)
                                          + (a.lat - b.lat) * (a.lat - b.lat))
                                     AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6)
                       AS average_distance_pts
            FROM idx a JOIN idx b ON a.qid = b.qid AND a.i < b.i
            GROUP BY a.qid
        ), main AS (
            SELECT qid, MIN(z) AS minimum, MAX(z) AS maximum,
                   MAX(z) - MIN(z) AS range, COUNT(*) AS "count",
                   ROUND(CAST(SUM(CAST(d AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6) AS average_distance
            FROM hits
            GROUP BY qid
            HAVING COUNT(*) >= 1
        )
        SELECT main.*, pair_agg.average_distance_pts
        FROM main LEFT JOIN pair_agg ON main.qid = pair_agg.qid
    """


def _q_st_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGRGeometry::Distance (ogr/ogrgeometry.cpp:2039) as the ST_Distance
    kernel: distance from each event point to a fixed rectangle (0 inside);
    the oracle is the closed-form point-to-box distance."""
    from engine import geom as geommod
    from engine import geomops

    rect = geommod.wkb_polygon([[(-170.0, -30.0), (-150.0, -30.0), (-150.0, 20.0), (-170.0, 20.0)]])
    pts = _points(spark, sf_dir).where(F.col("event_id") < 3000)

    @F.pandas_udf("double")
    def _dist(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            [
                geomops.geometry_distance(geommod.wkb_point(float(x), float(y)), rect)
                for x, y in zip(lon, lat)
            ]
        )

    return pts.select("event_id", F.round(_dist("lon", "lat"), 6).alias("dist"))


def _sql_st_distance() -> str:
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
            WHERE event_id < 3000
        )
        SELECT event_id,
               ROUND(sqrt(greatest(-170.0 - lon, lon - (-150.0), 0.0)
                          * greatest(-170.0 - lon, lon - (-150.0), 0.0)
                        + greatest(-30.0 - lat, lat - 20.0, 0.0)
                          * greatest(-30.0 - lat, lat - 20.0, 0.0)), 6) AS dist
        FROM pts
    """


def _q_grid_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGridMovingAverage (alg/gdalgrid.cpp:580): mean of point values
    within a 1.5° radius per output cell — the plain windowed value-average
    variant (metrics/IDW are separate queries)."""
    from engine import joins

    centers = spark.range(32 * 32).select(
        F.col("id").cast("int").alias("qid"),
        (-180.0 + (F.col("id") % 32) + 0.5).alias("lon"),
        (-16.0 + F.floor(F.col("id") / 32) + 0.5).alias("lat"),
    )
    pts = _points(spark, sf_dir).select(
        "lon", "lat", (F.col("event_id") % 97).cast("double").alias("z")
    )
    out = joins.grid_moving_average(centers, pts, "z", radius=1.5, zoom=6)
    return out.select("qid", F.round("moving_avg", 6).alias("moving_avg"), "count")


def _sql_grid_moving_average() -> str:
    return f"""
        WITH centers AS (
            SELECT CAST(i AS INT) AS qid,
                   -180.0 + (i % 32) + 0.5 AS clon,
                   -16.0 + floor(i / 32) + 0.5 AS clat
            FROM (SELECT UNNEST(range(1024)) AS i)
        ), pts AS (
            SELECT {_LON_SQL} AS lon, {_LAT_SQL} AS lat,
                   CAST(event_id % 97 AS DOUBLE) AS z
            FROM events
        ), hits AS (
            SELECT qid, z
            FROM centers, pts
            WHERE (clon - lon) * (clon - lon) + (clat - lat) * (clat - lat) <= 2.25
        )
        SELECT qid,
               ROUND(CAST(SUM(CAST(z AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6) AS moving_avg,
               COUNT(*) AS "count"
        FROM hits GROUP BY qid HAVING COUNT(*) >= 1
    """


def _q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvexHull (ogr/ogrgeometry.cpp:2138) as a distributed combiner:
    per-partition partial hulls → hull-of-hulls.  Lattice diamonds
    |x|+|y| ≤ s have exactly 4 hull vertices and area 2s² (collinear edge
    points excluded, GEOS behavior) — the closed-form oracle."""
    from engine import geomops

    sizes = (5, 7, 9, 11)
    rows = []
    for gi, s in enumerate(sizes):
        for x in range(-s, s + 1):
            for y in range(-s, s + 1):
                if abs(x) + abs(y) <= s:
                    rows.append((gi, float(x), float(y)))
    pdf = pd.DataFrame(rows, columns=["grp", "lon", "lat"])
    df = spark.createDataFrame(pdf).repartition(16)
    out = geomops.group_convex_hull(df, "grp")
    return out.select("grp", "n_vertices", F.round("hull_area", 6).alias("hull_area"))


def _sql_convex_hull() -> str:
    return """
        WITH s(grp, sz) AS (VALUES (0, 5), (1, 7), (2, 9), (3, 11))
        SELECT grp, 4 AS n_vertices, ROUND(CAST(2 * sz * sz AS DOUBLE), 6) AS hull_area
        FROM s
    """


def _lshape_params(i: int):
    w = 3 + i % 5
    h = 2 + i % 4
    t = 1 + i % 2
    u = 3 + i % 6
    return w, h, t, u


def _q_centroid_lshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid + area (ogr/ogrgeometry.cpp:3520 Centroid, OGR_GEOM_AREA)
    of 20 parameterized L-shaped polygons via the shoelace kernel; the
    oracle recomputes both as area-weighted rectangle sums."""
    import numpy as np

    from engine import geom as geommod
    from engine import geomops

    rows = []
    for i in range(20):
        w, h, t, u = _lshape_params(i)
        dx, dy = 5.0 * i, 3.0 * i
        ring = [(dx, dy), (dx + w, dy), (dx + w, dy + h), (dx + t, dy + h), (dx + t, dy + h + u), (dx, dy + h + u)]
        rows.append((i, geommod.wkb_polygon([ring])))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "geom_wkb"]))

    @F.pandas_udf("area double, cx double, cy double")
    def _cen(wkb: pd.Series) -> pd.DataFrame:
        out = []
        for b in wkb:
            rings = geommod.polygon_rings(b)
            a, cx, cy = geomops.polygon_area_centroid(np.asarray(rings[0]))
            out.append((a, cx, cy))
        return pd.DataFrame(out, columns=["area", "cx", "cy"])

    return df.select("pid", _cen("geom_wkb").alias("_c")).select(
        "pid",
        F.round("_c.area", 6).alias("area"),
        F.round("_c.cx", 6).alias("cx"),
        F.round("_c.cy", 6).alias("cy"),
    )


def _sql_centroid_lshape() -> str:
    return """
        WITH p AS (
            SELECT CAST(i AS INT) AS pid,
                   3 + i % 5 AS w, 2 + i % 4 AS h, 1 + i % 2 AS t, 3 + i % 6 AS u,
                   5.0 * i AS dx, 3.0 * i AS dy
            FROM (SELECT UNNEST(range(20)) AS i)
        )
        SELECT pid,
               ROUND(CAST(w * h + t * u AS DOUBLE), 6) AS area,
               ROUND((w * h * (dx + w / 2.0) + t * u * (dx + t / 2.0)) / (w * h + t * u), 6) AS cx,
               ROUND((w * h * (dy + h / 2.0) + t * u * (dy + h + u / 2.0)) / (w * h + t * u), 6) AS cy
        FROM p
    """


def _q_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """segmentize (ogr/ogrgeometry.cpp:595): 24 two-segment polylines split
    at max length 3; point counts are ceil arithmetic, length invariant."""
    import numpy as np

    from engine import geomops

    rows = []
    for i in range(24):
        L1 = 5 + i % 11
        L2 = 4 + (3 * i) % 9
        line = np.array([(0.0, 0.0), (float(L1), 0.0), (float(L1), float(L2))])
        out = geomops.segmentize(line, 3.0)
        tot = float(np.sum(np.hypot(np.diff(out[:, 0]), np.diff(out[:, 1]))))
        rows.append((i, int(out.shape[0]), tot))
    pdf = pd.DataFrame(rows, columns=["lid", "n_points", "total_length"])
    return spark.createDataFrame(pdf).select(
        F.col("lid").cast("int"), "n_points", F.round("total_length", 6).alias("total_length")
    )


def _sql_segmentize() -> str:
    return """
        SELECT CAST(i AS INT) AS lid,
               CAST(1 + CEIL((5 + i % 11) / 3.0) + CEIL((4 + (3 * i) % 9) / 3.0) AS INT) AS n_points,
               ROUND(CAST((5 + i % 11) + (4 + (3 * i) % 9) AS DOUBLE), 6) AS total_length
        FROM (SELECT UNNEST(range(24)) AS i)
    """


def _q_buffer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer (ogr/ogrgeometry.cpp:2358) of the first 100 event points:
    inscribed 32-gon (quadsegs=8); ring area = ½·n·r²·sin(2π/n)."""
    import numpy as np

    from engine import geomops

    pts = _points(spark, sf_dir).where(F.col("event_id") < 100)

    @F.pandas_udf("n_vertices int, buf_area double")
    def _buf(eid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        out = []
        for e, x, y in zip(eid, lon, lat):
            r = 0.5 + (int(e) % 5) * 0.1
            ring = geomops.buffer_point(float(x), float(y), r, quadsegs=8)
            a = abs(0.5 * float(np.sum(ring[:, 0] * np.roll(ring[:, 1], -1) - np.roll(ring[:, 0], -1) * ring[:, 1])))
            out.append((ring.shape[0], a))
        return pd.DataFrame(out, columns=["n_vertices", "buf_area"])

    return pts.select("event_id", _buf("event_id", "lon", "lat").alias("_b")).select(
        "event_id", F.col("_b.n_vertices").alias("n_vertices"), F.round("_b.buf_area", 6).alias("buf_area")
    )


def _sql_buffer_points() -> str:
    return """
        SELECT event_id, 32 AS n_vertices,
               ROUND(0.5 * 32 * ((0.5 + (event_id % 5) * 0.1) * (0.5 + (event_id % 5) * 0.1))
                     * sin(2 * pi() / 32), 6) AS buf_area
        FROM events WHERE event_id < 100
    """


def _q_polygonize_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALPolygonize (alg/polygonize.cpp:495): 12 rectangles (several
    crossing the tile seam) + one donut → ring counts and areas have a
    closed form; ring tracing, seam merge and hole detection all exercised."""
    import numpy as np

    from engine import polygonize as pz
    from engine import raster

    T = raster.TILE_SIZE
    a = np.zeros((T, T), dtype=np.int64)
    b = np.zeros((T, T), dtype=np.int64)

    def _burn(x0, y0, w, h, val):
        xs, xe = x0, x0 + w
        a[y0 : y0 + h, max(xs, 0) : min(xe, T)] = val
        if xe > T:
            b[y0 : y0 + h, max(xs - T, 0) : xe - T] = val

    for i in range(12):
        _burn(230 + 5 * i, 20 * i + 5, 4 + i % 7, 3 + i % 5, i + 1)
    _burn(300, 30, 12, 10, 99)
    b[33 : 33 + 2, 300 - T + 3 : 300 - T + 3 + 4] = 0  # hole in the donut
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [0, 0], "tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(a), raster.tile_to_bytes(b)]}
        )
    )
    out = pz.polygonize(tiles_df)
    # 8CONNECTED variant (alg/polygonize.cpp:484,513): an 8-pixel diagonal
    # staircase value 200 crossing the vertical tile seam — one polygon,
    # one pinched exterior ring, area 8 (4-connect would emit 8 unit rows)
    c = np.zeros((T, T), dtype=np.int64)
    d = np.zeros((T, T), dtype=np.int64)
    for k in range(4):
        c[60 + k, T - 4 + k] = 200
    for k in range(4):
        d[64 + k, k] = 200
    tiles8 = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [0, 0], "tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(c), raster.tile_to_bytes(d)]}
        )
    )
    out8 = pz.polygonize(tiles8, connectedness=8)
    cols = lambda df: df.select(  # noqa: E731
        F.col("value").cast("int").alias("value"), "n_rings", F.round("area", 6).alias("area")
    )
    return cols(out).unionAll(cols(out8))


def _sql_polygonize_shapes() -> str:
    return """
        SELECT CAST(i + 1 AS INT) AS value, 1 AS n_rings,
               ROUND(CAST((4 + i % 7) * (3 + i % 5) AS DOUBLE), 6) AS area
        FROM (SELECT UNNEST(range(12)) AS i)
        UNION ALL
        SELECT 99, 2, 112.0
        UNION ALL
        SELECT 200, 1, 8.0
    """


def _q_median_cut_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALComputeMedianCutPCT (alg/gdalmediancut.cpp): three pure-color
    clusters → each median-cut box isolates one color, so the palette is
    the exact 5-bit box center: 31·8+4 = 252 / 0·8+4 = 4."""
    import numpy as np

    from engine import quantize, raster

    T = raster.TILE_SIZE
    r = np.zeros((T, T), dtype=np.int64)
    g = np.zeros((T, T), dtype=np.int64)
    b = np.zeros((T, T), dtype=np.int64)
    r[:, : T // 3] = 250
    g[:, T // 3 : 2 * T // 3] = 250
    b[:, 2 * T // 3 :] = 250
    rgb = spark.createDataFrame(
        pd.DataFrame(
            [(0, 0, raster.tile_to_bytes(r), raster.tile_to_bytes(g), raster.tile_to_bytes(b))],
            columns=["tx", "ty", "data_r", "data_g", "data_b"],
        )
    )
    pal = quantize.compute_median_cut_pct(rgb, n_colors=3)
    pdf = pd.DataFrame(sorted(map(tuple, pal.tolist())), columns=["pr", "pg", "pb"])
    return spark.createDataFrame(pdf.astype("int32"))


def _sql_median_cut_palette() -> str:
    return """
        SELECT CAST(pr AS INT) AS pr, CAST(pg AS INT) AS pg, CAST(pb AS INT) AS pb
        FROM (VALUES (4, 4, 252), (4, 252, 4), (252, 4, 4)) t(pr, pg, pb)
    """


def _q_nearblack_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearblack (apps/nearblack.cpp): collar fixture over two tiles; the
    per-value pixel counts after collar removal have a closed form."""
    import numpy as np

    from engine import nearblack, raster

    T = raster.TILE_SIZE
    a = np.full((T, T), 200, dtype=np.int64)
    b = np.full((T, T), 200, dtype=np.int64)
    a[0:10, :] = 3
    b[0:10, 0:10] = 3
    b[:, T - 5 :] = 2
    a[50, 100:120] = 0  # interior dark run survives
    tiles_df = spark.createDataFrame(
        pd.DataFrame(
            {"tx": [0, 1], "ty": [0, 0],
             "data": [raster.tile_to_bytes(a), raster.tile_to_bytes(b)]}
        )
    )
    out = nearblack.nearblack(tiles_df, threshold=10, nodata=-1)

    def _counts(batches):
        import numpy as np

        for pdf in batches:
            for rr in pdf.itertuples():
                gg = raster.bytes_to_tile(rr.data)
                vals, cnts = np.unique(gg, return_counts=True)
                yield pd.DataFrame({"value": vals.astype("int32"), "pixel_count": cnts.astype("int64")})

    return (
        out.mapInPandas(_counts, "value int, pixel_count long")
        .groupBy("value")
        .agg(F.sum("pixel_count").alias("pixel_count"))
    )


def _sql_nearblack_counts() -> str:
    # collar: rows 0..9 -> 256+10 px each (west), east collar 5 px on 256
    # rows, minus the 10-row overlap rows already blanked to the east? no —
    # east collar column range [507,512) is distinct from west collar
    # [0,266); nodata total = 10*266 + 256*5; interior dark run: 20 px of 0;
    # remainder of 2*256*256 pixels is 200
    return """
        SELECT CAST(v AS INT) AS value, CAST(n AS BIGINT) AS pixel_count
        FROM (VALUES (-1, 10 * 266 + 256 * 5), (0, 20),
                     (200, 2 * 256 * 256 - (10 * 266 + 256 * 5) - 20)) t(v, n)
    """


def _q_st_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial predicates (ogr/ogrgeometry.cpp Touches:3060 Within:3226
    Contains:3308 Overlaps:3391) via the overlay-kernel relate: 60 side-2
    squares against the 10° grid; relations are floor arithmetic."""
    import numpy as np

    from engine import geom as geommod
    from engine import predicates

    rows = []
    for i in range(60):
        x0 = -178.0 + (i * 37) % 350
        y0 = -88.0 + (i * 53) % 170
        ring = [(x0, y0), (x0 + 2, y0), (x0 + 2, y0 + 2), (x0, y0 + 2)]
        rows.append((i, geommod.wkb_polygon([ring])))
    squares = spark.createDataFrame(
        pd.DataFrame({"pid": pd.array([r[0] for r in rows], dtype="int32"),
                      "geom_wkb": [r[1] for r in rows]})
    )
    grid = spark.createDataFrame(_grid_polygons_pdf())
    return predicates.layer_relate(squares, grid, res=10.0)


def _sql_st_relations() -> str:
    return """
        WITH sq AS (
            SELECT CAST(i AS INT) AS a_id,
                   -178.0 + (i * 37) % 350 AS sx0, -88.0 + (i * 53) % 170 AS sy0
            FROM (SELECT UNNEST(range(60)) AS i)
        ), cells AS (
            SELECT CAST(r * 36 + c AS INT) AS b_id,
                   -180.0 + c * 10.0 AS cx0, -90.0 + r * 10.0 AS cy0
            FROM (SELECT UNNEST(range(18)) AS r), (SELECT UNNEST(range(36)) AS c)
        ), pairs AS (
            SELECT a_id, b_id,
                   least(sx0 + 2, cx0 + 10) - greatest(sx0, cx0) AS w,
                   least(sy0 + 2, cy0 + 10) - greatest(sy0, cy0) AS h
            FROM sq, cells
            WHERE least(sx0 + 2, cx0 + 10) >= greatest(sx0, cx0)
              AND least(sy0 + 2, cy0 + 10) >= greatest(sy0, cy0)
        )
        SELECT a_id, b_id,
               CASE WHEN w > 0 AND h > 0 AND w * h >= 4.0 THEN 'within'
                    WHEN w > 0 AND h > 0 THEN 'overlaps'
                    ELSE 'touches' END AS relation
        FROM pairs
    """


def _q_dissolve_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True overlapping-union dissolve (UnionCascaded,
    ogr/ogrgeometry.cpp:2657): per group two overlapping rectangles whose
    union area follows inclusion–exclusion: 10·(22+g)."""
    from engine import geom as geommod
    from engine import vector

    def rect(x0, y0, x1, y1):
        return geommod.wkb_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]])

    rows = []
    for g in range(10):
        dx = 40.0 * g
        rows.append((g, rect(dx, 0, dx + 15 + g, 10)))
        rows.append((g, rect(dx + 10, 0, dx + 22 + 2 * g, 10)))
    pdf = pd.DataFrame(rows, columns=["grp", "geom_wkb"])
    pdf["grp"] = pdf["grp"].astype("int32")
    out = vector.dissolve_union(spark.createDataFrame(pdf), "grp")
    return out.select("grp", "n_members", F.round("area", 6).alias("area"))


def _sql_dissolve_union() -> str:
    # A = [0, 15+g], B = [10, 22+2g] (same y span 10): overlap width 5+g,
    # union area = 10*((15+g) + (12+2g) - (5+g)) = 10*(22+2g)
    return """
        SELECT CAST(g AS INT) AS grp, CAST(2 AS BIGINT) AS n_members,
               ROUND(CAST(10 * (22 + 2 * g) AS DOUBLE), 6) AS area
        FROM (SELECT UNNEST(range(10)) AS g)
    """


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textops.bottom_k_fingerprint(F.col("text"), k=4, shingle=5).alias("fingerprint")
    )


def _sql_doc_fingerprint() -> str:
    h = _H60_SQL.format(x="s")
    return f"""
        WITH sh AS (
            SELECT doc_id,
                   list_sort(list_distinct([substring(text, i, 5)
                              for i in range(1, greatest(length(text) - 4, 1) + 1)])) AS s5
            FROM documents
        ), hs AS (
            SELECT doc_id, list_sort(list_transform(s5, s -> {h})) AS hv FROM sh
        )
        SELECT doc_id,
               array_to_string(list_transform(hv[1:4], x -> CAST(x AS VARCHAR)), ',') AS fingerprint
        FROM hs
    """


# -- general SRS phase 1: Lambert conformal conic (engine/srs.py) -----------

_LCC_PARAMS = dict(lat1=33.0, lat2=45.0, lat0=23.0, lon0=-96.0)
_STERE_LAT0, _STERE_LON0, _STERE_K0 = 40.0, -100.0, 0.9999  # Snyder's oblique example
_TMERC_LAT0, _TMERC_K0 = 49.0, 0.9996012717                 # OSGB origin/scale


def _q_warp_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-SRS reprojection, THREE closed-form projections per-point
    value-checked (gdalwarp -t_srs, ogr/ogrct.cpp:39-68; engine/srs.py):

    * ``lcc``   — LCC(33,45,23,-96)/WGS84 (Snyder 15-1..15-11), points
      south of 60°S excluded (outside the cone's useful range);
    * ``stere`` — OBLIQUE stereographic centered (40°N, 100°W), k0=0.9999,
      Clarke 1866 (Snyder 21-24/25/27 over conformal latitude 3-1) on the
      quarter-sphere lat ≥ -20 ∧ lon ≤ 0 (well away from the antipode);
    * ``tmerc`` — general transverse Mercator, Airy 1830, lat_0=49,
      k0=0.9996012717 (the OSGB parameter set; Snyder 8-9..8-13 with the
      M0 term) with a PER-POINT central meridian floor(lon)+0.5 so the
      series stays in its validity band for every event.

    Output (event_id, proj, x_mm, y_mm) in integer millimeters so the
    driver hash never sees a float."""
    import numpy as np

    from engine import srs

    # The LCC transformer is deliberately built through a WKT1 ROUND-TRIP
    # (proj4 -> OGC WKT1 -> proj4 -> make_transformer) so the driver gate
    # value-checks the dialect-translation layer too: the round-trip is
    # coordinate-identity-preserving (tests/test_srs.py pins it per
    # projection), so the oracle's Snyder closed forms stay unchanged.
    lcc = srs.make_transformer(srs.wkt1_to_proj4(srs.proj4_to_wkt1(
        f"+proj=lcc +lat_1={_LCC_PARAMS['lat1']} +lat_2={_LCC_PARAMS['lat2']} "
        f"+lat_0={_LCC_PARAMS['lat0']} +lon_0={_LCC_PARAMS['lon0']} "
        "+x_0=0 +y_0=0 +ellps=WGS84"
    )))
    ob = srs.ObliqueStereographicTransformer(
        _STERE_LAT0, _STERE_LON0, _STERE_K0, ellipsoid="clrk66"
    )
    a_t, e2_t, _ = srs._ellipsoid("airy")
    ep2_t = e2_t / (1.0 - e2_t)
    m0_t = float(srs._m_arc_gen(np.radians(_TMERC_LAT0), a_t, e2_t))
    pts = _points(spark, sf_dir)

    def _mm(tag, fn):
        @F.pandas_udf("x_mm long, y_mm long")
        def _proj(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            x, y = fn(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
            return pd.DataFrame({"x_mm": np.round(x * 1000.0).astype("int64"),
                                 "y_mm": np.round(y * 1000.0).astype("int64")})

        return _proj

    def _tmerc_fn(lon, lat):
        lon0 = np.floor(lon) + 0.5  # per-point central meridian
        return srs.tmerc_forward(lon, lat, lon0, _TMERC_K0, a_t, e2_t, ep2_t, m0_t)

    parts = []
    for tag, fn, flt in (
        ("lcc", lcc.forward, F.col("lat") >= -60.0),
        ("stere", ob.forward, (F.col("lat") >= -20.0) & (F.col("lon") <= 0.0)),
        ("tmerc", _tmerc_fn, F.lit(True)),
    ):
        p = pts.where(flt).select("event_id", _mm(tag, fn)("lon", "lat").alias("_p"))
        parts.append(
            p.select(
                "event_id", F.lit(tag).alias("proj"),
                F.col("_p.x_mm").alias("x_mm"), F.col("_p.y_mm").alias("y_mm"),
            )
        )
    # 'approx' tag — the -et approximate transformer
    # (alg/gdaltransformer.cpp:2584 GDALApproxTransform): one regular
    # 257-pixel LCC scanline per integer-latitude band in [-60, 60), the
    # warp-grid shape the reference applies -et to.  The CONTRACT is the
    # error bound, so the row value-checks the bound itself: x_mm = points
    # within max_error of the exact transform (must equal y_mm = all
    # points), and the exact-call count must show real savings (asserted,
    # not hashed — it is adaptive).
    from engine.transformer import approx_transform

    bands = spark.range(120).select((F.col("id") - 60 + F.lit(0.5)).alias("lat0"))

    def _band(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        rows = []
        for lat0 in pdf["lat0"]:
            # 0.125°-wide 257-px scanline (~54 m/px, a z11-ish warp row) —
            # the pixel-scale span -et is designed for; the band index
            # varies the lon origin so the check sweeps the cone
            lon_start = -120.0 + (int(lat0 + 60.0) % 40)
            lons = lon_start + np.arange(257) * (0.125 / 256.0)
            lats = np.full(257, float(lat0))
            calls = [0]

            def _exact(xx, yy):
                calls[0] += xx.shape[0]
                return lcc.forward(xx, yy)

            ax, ay = approx_transform(_exact, lons, lats, max_error=0.125)
            ex, ey = lcc.forward(lons, lats)
            within = int(
                ((np.abs(ax - ex) <= 0.125) & (np.abs(ay - ey) <= 0.125)).sum()
            )
            assert calls[0] < 257, "approx transformer made no savings"
            rows.append((int(within), 257))
        return pd.DataFrame(rows, columns=["within", "total"])

    ap = (
        bands.repartition(8)
        .mapInPandas(lambda it: (_band(pdf) for pdf in it), "within long, total long")
        .agg(F.sum("within").alias("x_mm"), F.sum("total").alias("y_mm"))
        .select(
            F.lit(-1).cast("long").alias("event_id"), F.lit("approx").alias("proj"),
            "x_mm", "y_mm",
        )
    )
    parts.append(ap)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_warp_lcc() -> str:
    import numpy as np

    from engine import srs

    t = srs.LCCTransformer(**_LCC_PARAMS)
    E = repr(t.e)
    # identical constants + operation order as LCCTransformer.forward
    phi = f"({DEG} * lat)"
    s = f"sin({phi})"
    tt = f"(tan({PI} / 4.0 - {phi} / 2.0) / pow((1.0 - {E} * {s}) / (1.0 + {E} * {s}), {E} / 2.0))"
    rho = f"({repr(t.aF)} * pow({tt}, {repr(t.n)}))"
    th = f"({repr(t.n)} * (({DEG} * lon) - {repr(float(t._lam0))}))"
    lcc_sel = f"""
        SELECT event_id, 'lcc' AS proj,
               CAST(ROUND({rho} * sin({th}) * 1000.0) AS BIGINT) AS x_mm,
               CAST(ROUND(({repr(t.rho0)} - {rho} * cos({th})) * 1000.0) AS BIGINT) AS y_mm
        FROM pts WHERE lat >= -60.0"""

    # oblique stereographic (ObliqueStereographicTransformer.forward order)
    ob = srs.ObliqueStereographicTransformer(
        _STERE_LAT0, _STERE_LON0, _STERE_K0, ellipsoid="clrk66"
    )
    EO = repr(ob.e)
    so = f"sin({phi})"
    chi = f"(2.0 * atan(tan({PI} / 4.0 + {phi} / 2.0) * pow((1.0 - {EO} * {so}) / (1.0 + {EO} * {so}), {EO} / 2.0)) - {PI} / 2.0)"
    dlam = f"(({DEG} * lon) - {repr(float(ob._lam0))})"
    sx1, cx1 = repr(float(np.sin(ob.chi1))), repr(float(np.cos(ob.chi1)))
    A = f"({repr(ob._akm)} / ({cx1} * (1.0 + {sx1} * sin({chi}) + {cx1} * cos({chi}) * cos({dlam}))))"
    ob_x = f"({A} * cos({chi}) * sin({dlam}))"
    ob_y = f"({A} * ({cx1} * sin({chi}) - {sx1} * cos({chi}) * cos({dlam})))"
    stere_sel = f"""
        SELECT event_id, 'stere' AS proj,
               CAST(ROUND({ob_x} * 1000.0) AS BIGINT) AS x_mm,
               CAST(ROUND({ob_y} * 1000.0) AS BIGINT) AS y_mm
        FROM pts WHERE lat >= -20.0 AND lon <= 0.0"""

    # general tmerc, Airy 1830, lat_0=49, per-point CM (tmerc_forward order)
    a_t, e2_t, _ = srs._ellipsoid("airy")
    ep2_t = e2_t / (1.0 - e2_t)
    m0_t = float(srs._m_arc_gen(np.radians(_TMERC_LAT0), a_t, e2_t))
    AT, E2, EP2 = repr(a_t), repr(e2_t), repr(ep2_t)
    K0 = repr(_TMERC_K0)
    e4, e6 = repr(e2_t ** 2), repr(e2_t ** 3)
    sl = f"sin({phi})"
    cl = f"cos({phi})"
    NN = f"({AT} / sqrt(1 - {E2} * pow({sl}, 2)))"
    TT = f"pow({sl} / {cl}, 2)"
    CC = f"({EP2} * pow({cl}, 2))"
    AA = f"((({DEG} * lon) - ({DEG} * (floor(lon) + 0.5))) * {cl})"
    MM = (
        f"({AT} * ((1 - {E2} / 4 - 3 * {e4} / 64 - 5 * {e6} / 256) * {phi}"
        f" - (3 * {E2} / 8 + 3 * {e4} / 32 + 45 * {e6} / 1024) * sin(2 * {phi})"
        f" + (15 * {e4} / 256 + 45 * {e6} / 1024) * sin(4 * {phi})"
        f" - (35 * {e6} / 3072) * sin(6 * {phi})))"
    )
    tm_x = (
        f"({K0} * {NN} * ({AA} + (1 - {TT} + {CC}) * pow({AA}, 3) / 6"
        f" + (5 - 18 * {TT} + pow({TT}, 2) + 72 * {CC} - 58 * {EP2}) * pow({AA}, 5) / 120))"
    )
    tm_y = (
        f"({K0} * ({MM} - {repr(m0_t)} + {NN} * ({sl} / {cl}) * ("
        f"pow({AA}, 2) / 2 + (5 - {TT} + 9 * {CC} + 4 * pow({CC}, 2)) * pow({AA}, 4) / 24"
        f" + (61 - 58 * {TT} + pow({TT}, 2) + 600 * {CC} - 330 * {EP2}) * pow({AA}, 6) / 720)))"
    )
    tmerc_sel = f"""
        SELECT event_id, 'tmerc' AS proj,
               CAST(ROUND({tm_x} * 1000.0) AS BIGINT) AS x_mm,
               CAST(ROUND({tm_y} * 1000.0) AS BIGINT) AS y_mm
        FROM pts"""

    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM events
        )
        {lcc_sel}
        UNION ALL
        {stere_sel}
        UNION ALL
        {tmerc_sel}
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS event_id, 'approx' AS proj,
               CAST(120 * 257 AS BIGINT) AS x_mm, CAST(120 * 257 AS BIGINT) AS y_mm
    """


# -- antimeridian (WRAPDATELINE) --------------------------------------------


def _q_dateline_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRAPDATELINE (ogr/ogrgeometryfactory.cpp:2436): a 6°-wide segment
    centered on each event point, in unwrapped lon space, is split at ±180
    and each part wrapped (engine/dateline.py); outputs part count, total
    length (invariant 6°) and the covering z6 geodetic tile-x range across
    all parts — a crossing segment must cover both seam tiles (0 and 127),
    which unsplit geometries get silently wrong."""
    from engine import dateline, geom as geommod

    pts = _points(spark, sf_dir)

    @F.pandas_udf("n_parts long, len_micro long, gtx_min long, gtx_max long")
    def _split(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        import numpy as np

        out = []
        for x, y in zip(lon, lat):
            wkb = geommod.wkb_linestring([(x - 3.0, y), (x + 3.0, y)])
            parts = dateline.split_wkb(wkb)
            total = 0.0
            tmins, tmaxs = [], []
            for pw in parts:
                _, coords = geommod.wkb_loads(pw)
                arr = np.asarray(coords, dtype=np.float64)
                total += float(abs(arr[-1, 0] - arr[0, 0]))
                a, b = sorted((float(arr[0, 0]), float(arr[-1, 0])))
                t0, t1 = dateline.geodetic_tile_cover_x(a, b, 6)
                tmins.append(t0)
                tmaxs.append(t1)
            out.append((len(parts), round(total * 1e6), min(tmins), max(tmaxs)))
        return pd.DataFrame(out, columns=["n_parts", "len_micro", "gtx_min", "gtx_max"])

    return pts.select("event_id", _split("lon", "lat").alias("_d")).select(
        "event_id", F.col("_d.n_parts").alias("n_parts"),
        F.col("_d.len_micro").alias("len_micro"),
        F.col("_d.gtx_min").alias("gtx_min"), F.col("_d.gtx_max").alias("gtx_max"),
    )


def _sql_dateline_split() -> str:
    res = repr(tiles.geodetic_resolution(6))
    tmin = f"greatest(0, CAST(floor(((180.0 + lon - 3.0) / {res}) / 256.0) AS BIGINT))"
    tmax = f"least(127, CAST(ceil(((180.0 + lon + 3.0) / {res}) / 256.0) - 1 AS BIGINT))"
    return f"""
        WITH pts AS (
            SELECT event_id, {_LON_SQL} AS lon FROM events
        )
        SELECT event_id,
               CAST(CASE WHEN lon > 177.0 OR lon < -177.0 THEN 2 ELSE 1 END AS BIGINT) AS n_parts,
               CAST(6000000 AS BIGINT) AS len_micro,
               CASE WHEN lon > 177.0 OR lon < -177.0 THEN 0 ELSE {tmin} END AS gtx_min,
               CASE WHEN lon > 177.0 OR lon < -177.0 THEN 127 ELSE {tmax} END AS gtx_max
        FROM pts
    """


# ---------------------------------------------------------------------------
# Consolidated driver rows (round 3): the driver's correctness check caps at
# 50 rows, so small same-family queries are folded into one multi-op row
# each — every operator family keeps a driver-verified row.  Doubles are
# quantized to integer micro-units (CAST(ROUND(x*1e6) AS BIGINT)) so the
# value hash never touches a float column (the r1/r2 raster_stats lesson).
# ---------------------------------------------------------------------------

_MICRO_SQL = "CAST(ROUND(({x}) * 1000000) AS BIGINT)"


def _micro(col) -> F.Column:
    return F.round(col * 1e6).cast("long")


_NULL_L = "CAST(NULL AS BIGINT)"


def _q_constructive_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructive-geometry suite in one driver row (ogr/ogrgeometry.cpp:
    Distance:2039, ConvexHull:2138, Centroid:3520, Segmentize:595,
    Buffer:2358): each sub-op keeps its original fixture + kernel, results
    are projected onto (op, id, v1, v2, v3) with micro-quantized measures."""
    nul = F.lit(None).cast("long")
    d = _q_st_distance(spark, sf_dir).select(
        F.lit("distance").alias("op"), F.col("event_id").cast("long").alias("id"),
        _micro(F.col("dist")).alias("v1"), nul.alias("v2"), nul.alias("v3"),
    )
    h = _q_convex_hull(spark, sf_dir).select(
        F.lit("hull").alias("op"), F.col("grp").cast("long").alias("id"),
        F.col("n_vertices").cast("long").alias("v1"),
        _micro(F.col("hull_area")).alias("v2"), nul.alias("v3"),
    )
    c = _q_centroid_lshape(spark, sf_dir).select(
        F.lit("centroid").alias("op"), F.col("pid").cast("long").alias("id"),
        _micro(F.col("area")).alias("v1"), _micro(F.col("cx")).alias("v2"),
        _micro(F.col("cy")).alias("v3"),
    )
    s = _q_segmentize(spark, sf_dir).select(
        F.lit("segmentize").alias("op"), F.col("lid").cast("long").alias("id"),
        F.col("n_points").cast("long").alias("v1"),
        _micro(F.col("total_length")).alias("v2"), nul.alias("v3"),
    )
    b = _q_buffer_points(spark, sf_dir).select(
        F.lit("buffer").alias("op"), F.col("event_id").cast("long").alias("id"),
        F.col("n_vertices").cast("long").alias("v1"),
        _micro(F.col("buf_area")).alias("v2"), nul.alias("v3"),
    )
    return d.unionByName(h).unionByName(c).unionByName(s).unionByName(b)


def _sql_constructive_geometry() -> str:
    m = _MICRO_SQL
    return f"""
        SELECT 'distance' AS op, CAST(event_id AS BIGINT) AS id,
               {m.format(x='dist')} AS v1, {_NULL_L} AS v2, {_NULL_L} AS v3
        FROM ({_sql_st_distance()})
        UNION ALL
        SELECT 'hull', CAST(grp AS BIGINT), CAST(n_vertices AS BIGINT),
               {m.format(x='hull_area')}, {_NULL_L}
        FROM ({_sql_convex_hull()})
        UNION ALL
        SELECT 'centroid', CAST(pid AS BIGINT), {m.format(x='area')},
               {m.format(x='cx')}, {m.format(x='cy')}
        FROM ({_sql_centroid_lshape()})
        UNION ALL
        SELECT 'segmentize', CAST(lid AS BIGINT), CAST(n_points AS BIGINT),
               {m.format(x='total_length')}, {_NULL_L}
        FROM ({_sql_segmentize()})
        UNION ALL
        SELECT 'buffer', CAST(event_id AS BIGINT), CAST(n_vertices AS BIGINT),
               {m.format(x='buf_area')}, {_NULL_L}
        FROM ({_sql_buffer_points()})
    """


def _q_palette_nearblack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-cut palette (alg/gdalmediancut.cpp) + nearblack collar removal
    (apps/nearblack.cpp) folded into one driver row on (op, a, b, c)."""
    nul = F.lit(None).cast("long")
    pal = _q_median_cut_palette(spark, sf_dir).select(
        F.lit("palette").alias("op"), F.col("pr").cast("long").alias("a"),
        F.col("pg").cast("long").alias("b"), F.col("pb").cast("long").alias("c"),
    )
    nb = _q_nearblack_counts(spark, sf_dir).select(
        F.lit("nearblack").alias("op"), F.col("value").cast("long").alias("a"),
        F.col("pixel_count").cast("long").alias("b"), nul.alias("c"),
    )
    return pal.unionByName(nb)


def _sql_palette_nearblack() -> str:
    return f"""
        SELECT 'palette' AS op, CAST(pr AS BIGINT) AS a, CAST(pg AS BIGINT) AS b,
               CAST(pb AS BIGINT) AS c
        FROM ({_sql_median_cut_palette()})
        UNION ALL
        SELECT 'nearblack', CAST(value AS BIGINT), CAST(pixel_count AS BIGINT), {_NULL_L}
        FROM ({_sql_nearblack_counts()})
    """


def _q_layer_algebra_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six polygon×polygon layer-algebra ops (ogrlayer.cpp Intersection
    :1954, Union :2220, SymDifference :2564, Identity :2875, Update :3149,
    Erase :3660) in one driver row — each op runs the real engine composition
    (engine/algebra.py) on the 10°-grid × offset-15°-grid fixture; rows are
    (op, a_id, b_id, area_micro) with sub-nano slivers dropped."""
    from engine import algebra

    a = spark.createDataFrame(_grid_polygons_pdf())
    b = spark.createDataFrame(_grid15_polygons_pdf())

    def tag(df: DataFrame, op: str, has_b: bool = True) -> DataFrame:
        bcol = F.col("b_id").cast("long") if has_b else F.lit(None).cast("long")
        return df.where(F.col("area") > 1e-9).select(
            F.lit(op).alias("op"),
            F.col("a_id").cast("long").alias("a_id"),
            bcol.alias("b_id"),
            _micro(F.round(F.col("area"), 6)).alias("area_micro"),
        )

    return (
        tag(algebra.layer_intersection(a, b, res=10.0), "intersection")
        .unionByName(tag(algebra.layer_erase(a, b, res=10.0), "erase", has_b=False))
        .unionByName(tag(algebra.layer_sym_difference(a, b, res=10.0), "sym_difference"))
        .unionByName(tag(algebra.layer_union(a, b, res=10.0), "union"))
        .unionByName(tag(algebra.layer_identity(a, b, res=10.0), "identity"))
        .unionByName(tag(algebra.layer_update(a, b, res=10.0), "update"))
    )


def _sql_layer_algebra_poly() -> str:
    # rectangle-math oracles: inter = pairwise overlaps, el/er = per-feature
    # leftovers (both grids internally non-overlapping → covered = Σ overlaps)
    m = _MICRO_SQL.format(x="ROUND(CAST(v AS DOUBLE), 6)")
    return f"""
        WITH {_ALGEBRA_LAYERS_SQL}, inter AS (
            SELECT a_id, b_id,
                   (least(ax1, bx1) - greatest(ax0, bx0))
                 * (least(ay1, by1) - greatest(ay0, by0)) AS v
            FROM a, b
            WHERE least(ax1, bx1) > greatest(ax0, bx0)
              AND least(ay1, by1) > greatest(ay0, by0)
        ), cov_a AS (
            SELECT a_id, SUM(v) AS covered FROM inter GROUP BY a_id
        ), cov_b AS (
            SELECT b_id, SUM(v) AS covered FROM inter GROUP BY b_id
        ), el AS (
            SELECT a.a_id, 100.0 - COALESCE(cov_a.covered, 0) AS v
            FROM a LEFT JOIN cov_a USING (a_id)
            WHERE 100.0 - COALESCE(cov_a.covered, 0) > 1e-9
        ), er AS (
            SELECT b.b_id, 225.0 - COALESCE(cov_b.covered, 0) AS v
            FROM b LEFT JOIN cov_b USING (b_id)
            WHERE 225.0 - COALESCE(cov_b.covered, 0) > 1e-9
        ), whole_b AS (SELECT b_id, 225.0 AS v FROM b),
        tagged AS (
            SELECT 'intersection' AS op, a_id, b_id, v FROM inter
            UNION ALL SELECT 'erase', a_id, NULL, v FROM el
            UNION ALL SELECT 'sym_difference', a_id, NULL, v FROM el
            UNION ALL SELECT 'sym_difference', NULL, b_id, v FROM er
            UNION ALL SELECT 'union', a_id, b_id, v FROM inter
            UNION ALL SELECT 'union', a_id, NULL, v FROM el
            UNION ALL SELECT 'union', NULL, b_id, v FROM er
            UNION ALL SELECT 'identity', a_id, b_id, v FROM inter
            UNION ALL SELECT 'identity', a_id, NULL, v FROM el
            UNION ALL SELECT 'update', NULL, b_id, v FROM whole_b
            UNION ALL SELECT 'update', a_id, NULL, v FROM el
        )
        SELECT op, CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
               {m} AS area_micro
        FROM tagged
    """


def _q_layer_algebra_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineString×Polygon layer algebra (Clip ogrlayer.cpp:3424, Erase :3660
    with line inputs) in one driver row: (op, a_id, n_parts, len_micro)."""
    clip_ = _q_layer_clip_lines(spark, sf_dir).select(
        F.lit("clip").alias("op"), F.col("a_id").cast("long").alias("a_id"),
        F.col("n_parts").cast("long").alias("n_parts"),
        _micro(F.col("length")).alias("len_micro"),
    )
    erase_ = _q_layer_erase_lines(spark, sf_dir).select(
        F.lit("erase").alias("op"), F.col("a_id").cast("long").alias("a_id"),
        F.col("n_parts").cast("long").alias("n_parts"),
        _micro(F.col("length")).alias("len_micro"),
    )
    return clip_.unionByName(erase_)


def _sql_layer_algebra_lines() -> str:
    m = _MICRO_SQL.format(x="length")
    return f"""
        SELECT 'clip' AS op, CAST(a_id AS BIGINT) AS a_id,
               CAST(n_parts AS BIGINT) AS n_parts, {m} AS len_micro
        FROM ({_sql_layer_clip_lines()})
        UNION ALL
        SELECT 'erase', CAST(a_id AS BIGINT), CAST(n_parts AS BIGINT), {m}
        FROM ({_sql_layer_erase_lines()})
    """


def _q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve suite (UnionCascaded, ogr/ogrgeometry.cpp:2657): grid-layer
    dissolve by group + true overlapping-union dissolve, one driver row."""
    g = _q_dissolve_area(spark, sf_dir).select(
        F.lit("grid").alias("op"), F.col("grp").cast("long").alias("grp"),
        F.col("n_parts").cast("long").alias("n"), _micro(F.col("area")).alias("area_micro"),
    )
    u = _q_dissolve_union(spark, sf_dir).select(
        F.lit("union").alias("op"), F.col("grp").cast("long").alias("grp"),
        F.col("n_members").cast("long").alias("n"), _micro(F.col("area")).alias("area_micro"),
    )
    return g.unionByName(u)


def _sql_dissolve() -> str:
    m = _MICRO_SQL.format(x="area")
    return f"""
        SELECT 'grid' AS op, CAST(grp AS BIGINT) AS grp, CAST(n_parts AS BIGINT) AS n,
               {m} AS area_micro
        FROM ({_sql_dissolve_area()})
        UNION ALL
        SELECT 'union', CAST(grp AS BIGINT), CAST(n_members AS BIGINT), {m}
        FROM ({_sql_dissolve_union()})
    """


def _q_grid_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGrid data-metrics + moving-average (alg/gdalgrid.cpp:834,580) in
    one driver row: (op, qid, v1..v5) micro-quantized."""
    nul = F.lit(None).cast("long")
    met = _q_grid_metrics(spark, sf_dir).select(
        F.lit("metrics").alias("op"), F.col("qid").cast("long").alias("qid"),
        _micro(F.col("minimum")).alias("v1"), _micro(F.col("maximum")).alias("v2"),
        _micro(F.col("range")).alias("v3"), F.col("count").cast("long").alias("v4"),
        _micro(F.col("average_distance")).alias("v5"),
        _micro(F.col("average_distance_pts")).alias("v6"),
    )
    avg = _q_grid_moving_average(spark, sf_dir).select(
        F.lit("avg").alias("op"), F.col("qid").cast("long").alias("qid"),
        _micro(F.col("moving_avg")).alias("v1"), F.col("count").cast("long").alias("v2"),
        nul.alias("v3"), nul.alias("v4"), nul.alias("v5"), nul.alias("v6"),
    )
    return met.unionByName(avg)


def _sql_grid_interp() -> str:
    m = _MICRO_SQL
    return f"""
        SELECT 'metrics' AS op, CAST(qid AS BIGINT) AS qid,
               {m.format(x='minimum')} AS v1, {m.format(x='maximum')} AS v2,
               {m.format(x='"range"')} AS v3, CAST("count" AS BIGINT) AS v4,
               {m.format(x='average_distance')} AS v5,
               {m.format(x='average_distance_pts')} AS v6
        FROM ({_sql_grid_metrics()})
        UNION ALL
        SELECT 'avg', CAST(qid AS BIGINT), {m.format(x='moving_avg')},
               CAST("count" AS BIGINT), {_NULL_L}, {_NULL_L}, {_NULL_L}, {_NULL_L}
        FROM ({_sql_grid_moving_average()})
    """


def _q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour suite (alg/contour.cpp): per-level segment counts/lengths +
    stitched-polyline assembly in one driver row (op, level, n, len_micro,
    closed)."""
    nul = F.lit(None).cast("long")
    lin = _q_contour_linear(spark, sf_dir).select(
        F.lit("linear").alias("op"), F.col("level").cast("double").alias("level"),
        F.col("n_segments").cast("long").alias("n"),
        _micro(F.col("total_length")).alias("len_micro"), nul.alias("closed"),
    )
    pol = _q_contour_polylines(spark, sf_dir).select(
        F.lit("polyline").alias("op"), F.col("level").cast("double").alias("level"),
        F.col("n_points").cast("long").alias("n"),
        _micro(F.col("length")).alias("len_micro"), F.col("closed").cast("long").alias("closed"),
    )
    return lin.unionByName(pol)


def _sql_contour() -> str:
    m = _MICRO_SQL
    return f"""
        SELECT 'linear' AS op, CAST(level AS DOUBLE) AS level,
               CAST(n_segments AS BIGINT) AS n,
               {m.format(x='total_length')} AS len_micro, {_NULL_L} AS closed
        FROM ({_sql_contour_linear()})
        UNION ALL
        SELECT 'polyline', CAST(level AS DOUBLE), CAST(n_points AS BIGINT),
               {m.format(x='length')}, CAST(closed AS BIGINT)
        FROM ({_sql_contour_polylines()})
    """


def _q_doc_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite in one per-doc row: token stats + quality
    (stopword ratio as ppm integer) + language ID + bottom-k fingerprint —
    one scan of documents, all JVM-side (engine/textops.py)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    # The fixture text is single-line punctuation-free word soup — the C4
    # rules would be vacuous (every page drops).  Derive a line-structured
    # variant deterministically IN the query (every ' merge ' becomes a
    # sentence break; doc_id-keyed suffixes exercise the javascript /
    # lorem-ipsum / brace branches); the oracle applies the identical
    # derivation, so all rule branches are value-checked, not just typed.
    c4src = F.replace(F.col("text"), F.lit(" merge "), F.lit(".\n"))
    c4src = F.when(F.col("doc_id") % 13 == 0, F.concat(c4src, F.lit("\nplease enable javascript support now."))).otherwise(c4src)
    c4src = F.when(F.col("doc_id") % 17 == 0, F.concat(c4src, F.lit("\nlorem ipsum dolor sit amet today."))).otherwise(c4src)
    c4src = F.when(F.col("doc_id") % 19 == 0, F.concat(c4src, F.lit("\ncurly brace { appears here"))).otherwise(c4src)
    c4_kept = textops.c4_kept_lines(c4src)
    c4_keep = (
        (F.size(c4_kept) >= 3)
        & ~F.lower(c4src).contains("lorem ipsum")
        & ~c4src.contains("{")
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        n_stop.cast("long").alias("n_stopwords"),
        _micro(n_stop.cast("double") / F.size(toks).cast("double")).alias("stopword_ppm"),
        textops.lang_id(F.col("text")).alias("lang_pred"),
        textops.bottom_k_fingerprint(F.col("text"), k=4, shingle=5).alias("fingerprint"),
        F.size(c4_kept).cast("long").alias("c4_lines_kept"),
        c4_keep.cast("int").alias("c4_keep"),
        F.md5(F.concat_ws("\n", c4_kept).cast("binary")).alias("c4_kept_hash"),
        textops.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def _sql_doc_text_metrics() -> str:
    stops = ", ".join(f"'{s}'" for s in _STOPWORDS)
    lang_counts = []
    for lang in textops._LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS[lang])
        lang_counts.append(
            f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({words}))) AS c_{lang}"
        )
    whens = " ".join(
        f"WHEN c_{lang} = best AND best > 0 THEN '{lang}'" for lang in textops._LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in textops._LANG_ORDER) + ")"
    h = _H60_SQL.format(x="s")
    ratio_ppm = _MICRO_SQL.format(
        x=f"CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)"
        f" / CAST(len(toks) AS DOUBLE)"
    )
    c4_line = (
        "l -> regexp_matches(trim(l), '[.!?\"]$') "
        "AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5 "
        "AND NOT contains(lower(l), 'javascript')"
    )
    bpe_pat = textops.BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
        WITH t AS (
            SELECT doc_id, text, string_split(text, ' ') AS toks,
                   {', '.join(lang_counts)},
                   list_sort(list_distinct([substring(text, i, 5)
                              for i in range(1, greatest(length(text) - 4, 1) + 1)])) AS s5,
                   list_filter(string_split(c4src, chr(10)), {c4_line}) AS c4k, c4src
            FROM (
                SELECT *,
                       CASE WHEN doc_id % 19 = 0 THEN c4b || chr(10) || 'curly brace {{ appears here' ELSE c4b END AS c4src
                FROM (
                    SELECT *,
                           CASE WHEN doc_id % 17 = 0 THEN c4a || chr(10) || 'lorem ipsum dolor sit amet today.' ELSE c4a END AS c4b
                    FROM (
                        SELECT *,
                               CASE WHEN doc_id % 13 = 0 THEN c40 || chr(10) || 'please enable javascript support now.' ELSE c40 END AS c4a
                        FROM (SELECT *, replace(text, ' merge ', '.' || chr(10)) AS c40 FROM documents)
                    )
                )
            )
        ), b AS (
            SELECT *, {best} AS best,
                   list_sort(list_transform(s5, s -> {h})) AS hv,
                   CASE WHEN len(c4k) >= 3 AND NOT contains(lower(c4src), 'lorem ipsum')
                             AND NOT contains(c4src, '{{') THEN 1 ELSE 0 END AS c4_keep
            FROM t
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
               CAST(len(list_filter(toks, x -> x IN ({stops}))) AS BIGINT) AS n_stopwords,
               {ratio_ppm} AS stopword_ppm,
               CASE {whens} ELSE 'und' END AS lang_pred,
               array_to_string(list_transform(hv[1:4], x -> CAST(x AS VARCHAR)), ',') AS fingerprint,
               CAST(len(c4k) AS BIGINT) AS c4_lines_kept,
               c4_keep,
               md5(coalesce(array_to_string(c4k, chr(10)), '')) AS c4_kept_hash,
               CAST(len(list_filter(regexp_extract_all(text, '({bpe_pat})'),
                                    t -> regexp_matches(t, '\\S'))) AS BIGINT) AS n_bpe_tokens
        FROM b
    """


_GOPHER_FRACTIONS = {"en": 0.5, "de": 0.25}


def _corpus_gsrc_col() -> F.Column:
    """Deterministic line/paragraph structure for the Gopher rules: the
    fixture text is single-line word soup, so ' merge ' becomes a line break
    and doc_id-keyed tails force duplicate lines (…%7) / paragraphs (…%11) so
    every repetition branch is value-checked, not vacuously zero."""
    g = F.replace(F.col("text"), F.lit(" merge "), F.lit("\n"))
    g = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(g, F.lit("\nspark graft tail line\nspark graft tail line")),
    ).otherwise(g)
    g = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(g, F.lit("\n\ntail paragraph block\n\ntail paragraph block")),
    ).otherwise(g)
    # …%3 docs gain the required stopwords so the keep decision fires both
    # ways (the fixture vocabulary alone fails the stop-word gate everywhere)
    g = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(g, F.lit("\nthe data of batch and stream that have with be good")),
    ).otherwise(g)
    return g


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation suite in one per-doc row (engine/corpus.py): all
    Gopher quality + repetition metrics (Rae et al. 2021 App. A1) with the
    keep decision, GPT-3-style benchmark decontamination (eval set = the
    first 3 docs, n=8), and the deterministic stratified-sampling flag —
    doubles quantized to ppm integers so the value hash never sees a float."""
    from engine import corpus

    docs = _read(spark, sf_dir, "documents")
    gdocs = docs.select("doc_id", _corpus_gsrc_col().alias("text"))
    q = corpus.gopher_quality_df(gdocs)
    evals = docs.orderBy("doc_id").limit(3).select("text")
    dec = corpus.decontaminate_df(docs, evals, n=8)
    flag = corpus.sample_flag("lang", _GOPHER_FRACTIONS, "doc_id", seed=7)
    ppm = [
        ("mean_word_len", "mean_word_len_ppm"),
        ("symbol_word_ratio", "symbol_ppm"),
        ("bullet_line_frac", "bullet_ppm"),
        ("ellipsis_line_frac", "ellipsis_ppm"),
        ("alpha_word_frac", "alpha_ppm"),
        ("dup_line_frac", "dup_line_ppm"),
        ("dup_para_frac", "dup_para_ppm"),
        ("dup_line_char_frac", "dup_line_char_ppm"),
        ("dup_para_char_frac", "dup_para_char_ppm"),
        *[(f"top{n}gram_char_frac", f"top{n}_ppm") for n in (2, 3, 4)],
        *[(f"dup{n}gram_char_frac", f"dup{n}_ppm") for n in range(5, 11)],
    ]
    qsel = q.select(
        "doc_id",
        "word_count",
        "stopword_hits",
        *[_micro(F.col(src)).alias(dst) for src, dst in ppm],
        "gopher_keep",
    )
    samp = docs.select("doc_id", flag.cast("int").alias("sample_kept"))
    spans = corpus.dedup_spans_df(gdocs, k=10).select(
        "doc_id",
        F.col("n_removed").alias("span_removed"),
        F.md5(F.col("clean_text").cast("binary")).alias("span_clean_md5"),
    )
    # URL operators (engine/urlops.py) over a deterministic per-doc URL —
    # pure string pipeline, exact in both engines
    from engine import urlops

    url = _corpus_url_col()
    urls = docs.select(
        "doc_id",
        urlops.url_normalize(url).alias("url_norm"),
        urlops.surt_key(url).alias("surt"),
        urlops.registered_domain(urlops.url_host(url)).alias("reg_domain"),
    )
    return (
        qsel.join(dec, on="doc_id")
        .join(samp, on="doc_id")
        .join(spans, on="doc_id")
        .join(urls, on="doc_id")
    )


def _corpus_url_col() -> F.Column:
    """Deterministic synthetic URL per doc exercising every normalization
    rule: case, www, default port, tracking params, unsorted query,
    trailing slash, fragment, and a multi-label public suffix every third
    doc."""
    host = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("WWW.shop"), (F.col("doc_id") % 50).cast("string"), F.lit(".co.uk")),
    ).otherwise(
        F.concat(F.lit("www.Site"), (F.col("doc_id") % 50).cast("string"), F.lit(".Example.com"))
    )
    return F.concat(
        F.lit("https://"),
        host,
        F.lit(":443/p/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=x&b=2&a=1#frag"),
    )


def _sql_corpus_curation() -> str:
    from engine import corpus, urlops

    url_sql = (
        "('https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.shop' || "
        "CAST(doc_id % 50 AS VARCHAR) || '.co.uk' ELSE 'www.Site' || "
        "CAST(doc_id % 50 AS VARCHAR) || '.Example.com' END) || ':443/p/' || "
        "CAST(doc_id AS VARCHAR) || '/?utm_source=x&b=2&a=1#frag')"
    )
    url_host = urlops.url_parts_sql("u")["host"]
    url_cols = (
        f"{urlops.url_normalize_sql('u')} AS url_norm, "
        f"{urlops.surt_key_sql('u')} AS surt, "
        f"{urlops.registered_domain_sql(url_host)} AS reg_domain"
    )

    m = _MICRO_SQL
    words = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    lines = (
        "list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),"
        " s -> s <> '')"
    )
    paras = (
        "list_filter(list_transform(string_split_regex(text, '\\n\\s*\\n'),"
        " s -> trim(s)), s -> s <> '')"
    )

    def pack(kind: str, arr: str) -> str:
        return (
            f"list_transform({arr}, x -> struct_pack(kind := '{kind}',"
            f" key := x, chars := length(x)))"
        )

    grams = {
        n: (
            f"list_transform(range(1, greatest(len(words) - {n - 1}, 0) + 1),"
            f" i -> array_to_string(words[i:i+{n - 1}], chr(32)))"
        )
        for n in range(2, 11)
    }
    items = " || ".join(
        [pack("line", "lines"), pack("para", "paras")]
        + [pack(f"g{n}", grams[n]) for n in range(2, 11)]
    )
    top_cols = ", ".join(
        f"coalesce(max(CASE WHEN kind = 'g{n}' THEN cnt * chars END), 0) AS top{n}"
        for n in (2, 3, 4)
    )
    dup_cols = ", ".join(
        f"sum(CASE WHEN kind = 'g{n}' THEN (cnt - 1) * chars ELSE 0 END) AS dup{n}"
        for n in range(5, 11)
    )
    frac_fams = ", ".join(
        [
            "CASE WHEN n_lines > 0 THEN dupl::DOUBLE / n_lines ELSE 0 END AS dup_line_frac",
            "CASE WHEN n_paras > 0 THEN dupp::DOUBLE / n_paras ELSE 0 END AS dup_para_frac",
            "CASE WHEN tchars > 0 THEN duplc::DOUBLE / tchars ELSE 0 END AS dup_line_char_frac",
            "CASE WHEN tchars > 0 THEN duppc::DOUBLE / tchars ELSE 0 END AS dup_para_char_frac",
        ]
        + [
            f"CASE WHEN tchars > 0 THEN top{n}::DOUBLE / tchars ELSE 0 END AS top{n}f"
            for n in (2, 3, 4)
        ]
        + [
            f"CASE WHEN tchars > 0 THEN dup{n}::DOUBLE / tchars ELSE 0 END AS dup{n}f"
            for n in range(5, 11)
        ]
    )
    sw_hits = " + ".join(
        f"list_contains(words, '{s}')::INT" for s in corpus.GOPHER_STOPWORDS
    )
    keep = " AND ".join(
        [
            "wc BETWEEN 50 AND 100000",
            "mwl BETWEEN 3.0 AND 10.0",
            "sym <= 0.1",
            "bullet <= 0.9",
            "ell <= 0.3",
            "alpha >= 0.8",
            "sw >= 2",
            "dup_line_frac <= 0.30",
            "dup_para_frac <= 0.30",
            "dup_line_char_frac <= 0.20",
            "dup_para_char_frac <= 0.20",
        ]
        + [f"top{n}f <= {thr}" for n, thr in corpus.GOPHER_TOP_NGRAM_MAX.items()]
        + [f"dup{n}f <= {thr}" for n, thr in corpus.GOPHER_DUP_NGRAM_MAX.items()]
    )
    g8 = corpus.ngram_hashes_sql("text", 8)
    flag = corpus.sample_flag_sql("lang", _GOPHER_FRACTIONS, "doc_id", seed=7)
    ppm_out = ", ".join(
        [
            m.format(x="q.mwl") + " AS mean_word_len_ppm",
            m.format(x="q.sym") + " AS symbol_ppm",
            m.format(x="q.bullet") + " AS bullet_ppm",
            m.format(x="q.ell") + " AS ellipsis_ppm",
            m.format(x="q.alpha") + " AS alpha_ppm",
            # coalesce: a doc whose derived text has NO items at all is
            # absent from rep (LEFT JOIN -> NULL) while Spark emits 0.0
            m.format(x="coalesce(r.dup_line_frac, 0)") + " AS dup_line_ppm",
            m.format(x="coalesce(r.dup_para_frac, 0)") + " AS dup_para_ppm",
            m.format(x="coalesce(r.dup_line_char_frac, 0)") + " AS dup_line_char_ppm",
            m.format(x="coalesce(r.dup_para_char_frac, 0)") + " AS dup_para_char_ppm",
        ]
        + [m.format(x=f"coalesce(r.top{n}f, 0)") + f" AS top{n}_ppm" for n in (2, 3, 4)]
        + [m.format(x=f"coalesce(r.dup{n}f, 0)") + f" AS dup{n}_ppm" for n in range(5, 11)]
    )
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN g2 || chr(10) ||
                             'the data of batch and stream that have with be good'
                        ELSE g2 END AS text
            FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0
                        THEN g1 || chr(10) || chr(10) || 'tail paragraph block'
                               || chr(10) || chr(10) || 'tail paragraph block'
                        ELSE g1 END AS g2
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN g0 || chr(10) || 'spark graft tail line'
                                    || chr(10) || 'spark graft tail line'
                            ELSE g0 END AS g1
                FROM (SELECT doc_id,
                             replace(text, ' merge ', chr(10)) AS g0
                      FROM documents)
            )
            )
        ), src AS (
            SELECT doc_id, text, length(text) AS tchars,
                   {words} AS words, {lines} AS lines, {paras} AS paras
            FROM base
        ), q AS (
            SELECT doc_id,
                   len(words) AS wc,
                   CASE WHEN len(words) > 0 THEN
                       list_sum(list_transform(words, w -> length(w)))::DOUBLE
                           / len(words) ELSE 0 END AS mwl,
                   CASE WHEN len(words) > 0 THEN
                       (len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.'))
                        + len(regexp_extract_all(text, '…')))::DOUBLE
                           / len(words) ELSE 0 END AS sym,
                   CASE WHEN len(lines) > 0 THEN
                       len(list_filter(lines, l -> regexp_matches(l, '^[•‣▶\\*\\-]')))::DOUBLE
                           / len(lines) ELSE 0 END AS bullet,
                   CASE WHEN len(lines) > 0 THEN
                       len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::DOUBLE
                           / len(lines) ELSE 0 END AS ell,
                   CASE WHEN len(words) > 0 THEN
                       len(list_filter(words, w -> regexp_matches(w, '[a-z]')))::DOUBLE
                           / len(words) ELSE 0 END AS alpha,
                   CAST({sw_hits} AS BIGINT) AS sw
            FROM src
        ), it AS (
            SELECT doc_id, tchars, len(lines) AS n_lines, len(paras) AS n_paras,
                   unnest({items}) AS it
            FROM src
        ), counts AS (
            SELECT doc_id, it.kind AS kind, it.key AS key, count(*) AS cnt,
                   any_value(it.chars) AS chars, any_value(tchars) AS tchars,
                   any_value(n_lines) AS n_lines, any_value(n_paras) AS n_paras
            FROM it GROUP BY 1, 2, 3
        ), repsum AS (
            SELECT doc_id,
                   any_value(tchars) AS tchars,
                   any_value(n_lines) AS n_lines,
                   any_value(n_paras) AS n_paras,
                   sum(CASE WHEN kind = 'line' THEN cnt - 1 ELSE 0 END) AS dupl,
                   sum(CASE WHEN kind = 'para' THEN cnt - 1 ELSE 0 END) AS dupp,
                   sum(CASE WHEN kind = 'line' THEN (cnt - 1) * chars ELSE 0 END) AS duplc,
                   sum(CASE WHEN kind = 'para' THEN (cnt - 1) * chars ELSE 0 END) AS duppc,
                   {top_cols}, {dup_cols}
            FROM counts GROUP BY doc_id
        ), rep AS (
            SELECT doc_id, {frac_fams} FROM repsum
        ), eval_grams AS (
            SELECT DISTINCT unnest({g8}) AS h
            FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 3)
        ), doc_grams AS (
            SELECT doc_id, unnest({g8}) AS h FROM documents
        ), dec AS (
            SELECT d.doc_id, count(*) AS ngrams_total,
                   sum((e.h IS NOT NULL)::INT) AS ngrams_hit
            FROM doc_grams d LEFT JOIN eval_grams e USING (h)
            GROUP BY d.doc_id
        ), spans AS (
            {corpus.dedup_spans_sql("base", k=10)}
        ), urls AS (
            SELECT doc_id, {url_cols}
            FROM (SELECT doc_id, {url_sql} AS u FROM documents)
        )
        SELECT d.doc_id,
               CAST(q.wc AS BIGINT) AS word_count,
               q.sw AS stopword_hits,
               {ppm_out},
               CASE WHEN {keep} THEN 1 ELSE 0 END AS gopher_keep,
               CAST(coalesce(dec.ngrams_total, 0) AS BIGINT) AS ngrams_total,
               CAST(coalesce(dec.ngrams_hit, 0) AS BIGINT) AS ngrams_hit,
               CASE WHEN coalesce(dec.ngrams_hit, 0) > 0 THEN 1 ELSE 0 END AS contaminated,
               {flag}::INT AS sample_kept,
               s.n_removed AS span_removed,
               md5(s.clean_text) AS span_clean_md5,
               urls.url_norm, urls.surt, urls.reg_domain
        FROM documents d
        JOIN q USING (doc_id)
        LEFT JOIN rep r USING (doc_id)
        LEFT JOIN dec USING (doc_id)
        JOIN spans s USING (doc_id)
        JOIN urls USING (doc_id)
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_pip_tile_join(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries (the driver's correctness check caps at 50 rows):
    small same-family queries are consolidated so every operator family in
    SURVEY.md §2 keeps a driver-verified row."""
    return {
        "tile_assign": _q_tile_assign,
        "corpus_curation": _q_corpus_curation,
        "tile_density_z5": _q_tile_density_z5,
        "pyramid_rollup": _q_pyramid_rollup,
        "pip_tile_join": _q_pip_tile_join,
        "knn": _q_knn,
        "point_pixel_lookup": _q_point_pixel_lookup,
        "summary_lineitem": _q_summary_lineitem,
        "distinct_returnflag": _q_distinct_returnflag,
        "first_match_join": _q_first_match_join,
        "ogr_quirks_filter": _q_ogr_quirks_filter,
        "substr_concat": _q_substr_concat,
        "union_all_layers": _q_union_all_layers,
        "hstore": _q_hstore,
        "dedup_docs": _q_dedup_docs,
        "doc_text_metrics": _q_doc_text_metrics,
        "embedding_topk": _q_embedding_topk,
        "simhash": _q_simhash,
        "minhash_lsh": _q_minhash_lsh,
        "ngram_jaccard": _q_ngram_jaccard,
        "ogr2ogr_transform": _q_ogr2ogr_transform,
        "orderby_topk": _q_orderby_topk,
        "like_escape": _q_like_escape,
        "spatial_filter_rect": _q_spatial_filter_rect,
        "extent_manifest": _q_extent_manifest,
        "dissolve": _q_dissolve,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "raster_stats": _q_raster_stats,
        "raster_histogram": _q_raster_histogram,
        "ogrsql_where": _q_ogrsql_where,
        "ogrsql_summary": _q_ogrsql_summary,
        "ogrsql_join": _q_ogrsql_join,
        "ogrsql_special_fields": _q_ogrsql_special_fields,
        "summary_dates": _q_summary_dates,
        "quadkey_prefix_rollup": _q_quadkey_prefix_rollup,
        "layer_algebra_poly": _q_layer_algebra_poly,
        "layer_algebra_lines": _q_layer_algebra_lines,
        "asof_join": _q_asof_join,
        "proximity_grid": _q_proximity_grid,
        "sieve_value_counts": _q_sieve_value_counts,
        "contour": _q_contour,
        "lineref_locate": _q_lineref_locate,
        "grid_interp": _q_grid_interp,
        "polygonize_shapes": _q_polygonize_shapes,
        "palette_nearblack": _q_palette_nearblack,
        "st_relations": _q_st_relations,
        "constructive_geometry": _q_constructive_geometry,
        "warp_lcc": _q_warp_lcc,
        "dateline_split": _q_dateline_split,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tile_assign": _sql_tile_assign(),
        "corpus_curation": _sql_corpus_curation(),
        "tile_density_z5": _sql_tile_density_z5(),
        "pyramid_rollup": _sql_pyramid_rollup(),
        "pip_tile_join": _sql_pip_tile_join(),
        "knn": _sql_knn(),
        "point_pixel_lookup": _sql_point_pixel_lookup(),
        "summary_lineitem": _sql_summary_lineitem(),
        "distinct_returnflag": _sql_distinct_returnflag(),
        "first_match_join": _sql_first_match_join(),
        "ogr_quirks_filter": _sql_ogr_quirks_filter(),
        "substr_concat": _sql_substr_concat(),
        "union_all_layers": _sql_union_all_layers(),
        "hstore": _sql_hstore(),
        "dedup_docs": _sql_dedup_docs(),
        "doc_text_metrics": _sql_doc_text_metrics(),
        "embedding_topk": _sql_embedding_topk(),
        "simhash": _sql_simhash(),
        "minhash_lsh": _sql_minhash_lsh(),
        "ngram_jaccard": _sql_ngram_jaccard(),
        "ogr2ogr_transform": _sql_ogr2ogr_transform(),
        "orderby_topk": _sql_orderby_topk(),
        "like_escape": _sql_like_escape(),
        "spatial_filter_rect": _sql_spatial_filter_rect(),
        "extent_manifest": _sql_extent_manifest(),
        "dissolve": _sql_dissolve(),
        "ann_lsh": _sql_ann_lsh(),
        "ann_ivf": _sql_ann_ivf(),
        "raster_stats": _sql_raster_stats(),
        "raster_histogram": _sql_raster_histogram(),
        "ogrsql_where": _sql_ogrsql_where(),
        "ogrsql_summary": _sql_ogrsql_summary(),
        "ogrsql_join": _sql_ogrsql_join(),
        "ogrsql_special_fields": _sql_ogrsql_special_fields(),
        "summary_dates": _sql_summary_dates(),
        "quadkey_prefix_rollup": _sql_quadkey_prefix_rollup(),
        "layer_algebra_poly": _sql_layer_algebra_poly(),
        "layer_algebra_lines": _sql_layer_algebra_lines(),
        "asof_join": _sql_asof_join(),
        "proximity_grid": _sql_proximity_grid(),
        "sieve_value_counts": _sql_sieve_value_counts(),
        "contour": _sql_contour(),
        "lineref_locate": _sql_lineref_locate(),
        "grid_interp": _sql_grid_interp(),
        "polygonize_shapes": _sql_polygonize_shapes(),
        "palette_nearblack": _sql_palette_nearblack(),
        "st_relations": _sql_st_relations(),
        "constructive_geometry": _sql_constructive_geometry(),
        "warp_lcc": _sql_warp_lcc(),
        "dateline_split": _sql_dateline_split(),
    }
