"""Empty-input probes: every operator must return 0 rows (or an empty
result), never raise, when fed df.limit(0) — the degenerate-partition case
any real cluster run hits (empty file splits, filtered-out partitions).
Hostile-input probes: a null or truncated geometry fails the layer algebra
with an error that names the feature."""

import numpy as np
import pandas as pd
import pytest

from engine import (
    algebra,
    components,
    contour,
    geom,
    geomops,
    joins,
    lineclip,
    lineref,
    nearblack,
    polygonize,
    predicates,
    proximity,
    quantize,
    raster,
    sinks,
    vector,
)

T = raster.TILE_SIZE


@pytest.fixture(scope="module")
def empty_tiles(spark):
    g = np.zeros((T, T), dtype=np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"zoom": [3], "tx": [0], "ty": [0], "data": [raster.tile_to_bytes(g)]})
    )
    return df.limit(0)


@pytest.fixture(scope="module")
def empty_polys(spark):
    pdf = pd.DataFrame(
        {"pid": pd.array([0], dtype="int32"),
         "geom_wkb": [geom.wkb_polygon([[(0, 0), (1, 0), (1, 1), (0, 1)]])]}
    )
    return spark.createDataFrame(pdf).limit(0)


@pytest.fixture(scope="module")
def empty_points(spark):
    pdf = pd.DataFrame({"event_id": pd.array([1], dtype="int64"), "lon": [0.0], "lat": [0.0]})
    return spark.createDataFrame(pdf).limit(0)


def test_empty_tile_operators(spark, empty_tiles):
    assert components.connected_components(empty_tiles).count() == 0
    assert components.sieve_filter(empty_tiles, 10).count() == 0
    assert polygonize.polygonize(empty_tiles).count() == 0
    assert proximity.proximity(empty_tiles, (7,), maxdist=10.0).count() == 0
    assert proximity.fill_nodata(empty_tiles, nodata=-1, maxdist=5.0).count() == 0
    assert contour.contour_segments(empty_tiles, [1.5]).count() == 0
    assert contour.contour_polylines(empty_tiles, [1.5]).count() == 0
    assert nearblack.nearblack(empty_tiles).count() == 0
    assert sinks.kml_superoverlay(empty_tiles).count() == 0
    assert raster.pyramid_reduce(empty_tiles, method="mode").count() == 0
    from engine import warp

    assert warp.warp_mercator_to_geodetic(
        empty_tiles.sparkSession, empty_tiles, 3, 2, resampling="bilinear"
    ).count() == 0


def test_empty_layer_algebra(spark, empty_polys):
    one = spark.createDataFrame(
        pd.DataFrame(
            {"pid": pd.array([0], dtype="int32"),
             "geom_wkb": [geom.wkb_polygon([[(0, 0), (5, 0), (5, 5), (0, 5)]])]}
        )
    )
    assert algebra.layer_intersection(empty_polys, one).count() == 0
    assert algebra.layer_intersection(one, empty_polys).count() == 0
    assert algebra.layer_erase(empty_polys, one).count() == 0
    # erase with empty method: input passes through whole
    assert algebra.layer_erase(one, empty_polys).count() == 1
    assert algebra.layer_clip(one, empty_polys).count() == 0
    assert predicates.layer_relate(empty_polys, one).count() == 0
    assert vector.dissolve_union(empty_polys, "pid").count() == 0


def _layer(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["fid", "geom_wkb"]).astype({"fid": "int32"}), "fid int, geom_wkb binary"
    )


@pytest.mark.parametrize("bad", [None, "truncated"])
def test_layer_algebra_names_a_bad_geometry(spark, bad):
    """A null or truncated geom_wkb in either layer fails the polygon and
    line ops with a ValueError naming the layer side and the feature id."""
    square = geom.wkb_polygon([[(0, 0), (5, 0), (5, 5), (0, 5)]])
    line = geom.wkb_linestring([(-1.0, 1.0), (6.0, 1.0)])
    if bad == "truncated":
        bad = square[:-9]
    what = "null geom_wkb" if bad is None else "unreadable geom_wkb"
    polys = _layer(spark, [(1, square)])
    for ok, op in [
        (polys, algebra.layer_intersection),
        (polys, algebra.layer_erase),
        (polys, algebra.layer_union),
        (_layer(spark, [(1, line)]), lineclip.layer_clip_lines),
        (_layer(spark, [(1, line)]), lineclip.layer_erase_lines),
    ]:
        with pytest.raises(Exception, match=f"ValueError: input layer feature 7: {what}"):
            op(_layer(spark, [(7, bad)]).unionByName(ok), polys).collect()
        with pytest.raises(Exception, match=f"ValueError: method layer feature 7: {what}"):
            op(ok, _layer(spark, [(7, bad)]).unionByName(polys)).collect()


def test_empty_point_operators(spark, empty_points):
    assert geomops.group_convex_hull(
        empty_points.withColumn("grp", empty_points.event_id.cast("int")), "grp"
    ).count() == 0
    assert lineref.locate_points(empty_points, [(0.0, 0.0), (1.0, 0.0)]).count() == 0
    centers = empty_points.selectExpr("cast(event_id as int) qid", "lon", "lat")
    pts = spark.createDataFrame(pd.DataFrame({"lon": [0.0], "lat": [0.0], "z": [1.0]}))
    assert joins.grid_metrics(centers, pts, "z", radius=1.0, zoom=6).count() == 0


def test_empty_quantize(spark, empty_tiles):
    rgb = empty_tiles.selectExpr("tx", "ty", "data as data_r", "data as data_g", "data as data_b")
    assert quantize.color_histogram(rgb).count() == 0
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    assert quantize.apply_palette(rgb, pal).count() == 0


def test_empty_pq_train(spark):
    """pq_train on zero rows returns an empty codebook, not StopIteration
    (the r5 fused Lloyd loop derives dsub from the seed set)."""
    from engine import ann

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[0.0] * 16]})
    ).limit(0)
    cb = ann.pq_train(emb, m=4, ksub=4, max_iters=2)
    assert cb.count() == 0
    assert [f.name for f in cb.schema.fields] == ["sub", "code", "cvec"]


def test_empty_tiff_operators(spark, empty_tiles, tmp_path):
    from engine import tiff

    assert sinks.png_tiles(empty_tiles).count() == 0
    assert sinks.png_tiles(empty_tiles, ramp=[(0, 0, 0, 0), (1, 255, 255, 255)]).count() == 0
    assert sinks.write_tile_directory(sinks.png_tiles(empty_tiles), str(tmp_path)) == 0
    tiffs = tiff.tiles_to_geotiff(empty_tiles)
    assert tiffs.count() == 0
    assert tiff.geotiff_to_tiles(tiffs.select("tiff")).count() == 0
    # a COG has a mandatory extent — an empty table is a clear error, not
    # a crash deep in the layout math
    with pytest.raises(ValueError, match="empty tile table"):
        tiff.write_cog(empty_tiles, str(tmp_path / "empty.tif"))
