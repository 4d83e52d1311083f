"""Minimum end-to-end slice (SURVEY.md §7 P3/P4): pages → geotag →
tile-assign → point-in-polygon join, verified row-exact against the
single-process oracle; broadcast and shuffle plans must emit identical rows;
salting must not change results."""

import numpy as np
import pandas as pd
import pytest

from engine import geom, joins, oracle
from engine.fixtures import make_gazetteer, make_pages, make_polygons, subdivide_polygons
from engine.geotag import geotag_all, geotag_first


@pytest.fixture(scope="module")
def data(spark):
    gaz = make_gazetteer(n=400, n_countries=50)
    pages = make_pages(n=800, gazetteer=gaz, seed=10)
    polys = make_polygons(n=80)
    return {
        "gaz_pdf": gaz,
        "pages_pdf": pages,
        "polys_pdf": polys,
        "pages": spark.createDataFrame(pages),
        "gaz": spark.createDataFrame(gaz),
        "polys": spark.createDataFrame(polys),
    }


def _oracle_points(data):
    """Single-process geotag: every (url, place) pair via token scan."""
    gaz = {r.name: (r.lon, r.lat) for r in data["gaz_pdf"].itertuples()}
    out = []
    for r in data["pages_pdf"].itertuples():
        for tok in r.text.split(" "):
            if tok in gaz:
                out.append((r.url, tok, *gaz[tok]))
    return out


def test_geotag_matches_oracle(spark, data):
    got = sorted(
        (r.url, r.name, r.lon, r.lat)
        for r in geotag_all(data["pages"], data["gaz"]).collect()
    )
    assert got == sorted(_oracle_points(data))


def test_geotag_first_is_first_by_position(spark, data):
    rows = geotag_first(data["pages"], data["gaz"]).collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls))  # exactly one row per geotagged page
    # first token by position in the text
    gaz = set(data["gaz_pdf"]["name"])
    expect = {}
    for r in data["pages_pdf"].itertuples():
        for tok in r.text.split(" "):
            if tok in gaz:
                expect[r.url] = tok
                break
    got = {r.url: r.name for r in rows}
    assert got == expect


def _polys_rings(polys_pdf):
    out = []
    for r in polys_pdf.itertuples():
        rings = [rg.tolist() for rg in geom.polygon_rings(r.geom_wkb)]
        out.append((r.polygon_id, rings))
    return out


def test_pip_broadcast_matches_oracle(spark, data):
    tagged = geotag_first(data["pages"], data["gaz"])
    got = sorted(
        (r.url, r.polygon_id)
        for r in joins.pip_join_broadcast(tagged, data["polys_pdf"]).collect()
    )
    pts = [(r.url, r.lon, r.lat) for r in tagged.collect()]
    expect = oracle.pip_join_oracle(pts, _polys_rings(data["polys_pdf"]))
    assert got == expect
    assert len(got) > 0


@pytest.mark.parametrize("n_salt", [None, 4])
def test_pip_shuffle_matches_broadcast(spark, data, n_salt):
    tagged = geotag_first(data["pages"], data["gaz"])
    bc = sorted(
        (r.url, r.polygon_id)
        for r in joins.pip_join_broadcast(tagged, data["polys_pdf"]).collect()
    )
    sh = sorted(
        (r.url, r.polygon_id)
        for r in joins.pip_join_shuffle(tagged, data["polys"], zoom=6, n_salt=n_salt).collect()
    )
    assert sh == bc


def test_pip_large_subdivided_layer_parity(spark, data):
    """polys-large (subdivided) must produce the same matched pairs as the
    coarse layer matched by name (same covered area, finer pieces)."""
    tagged = geotag_first(data["pages"], data["gaz"]).cache()
    large_pdf = subdivide_polygons(data["polys_pdf"], factor=3)
    large = spark.createDataFrame(large_pdf)
    got = joins.pip_join_shuffle(tagged, large, zoom=6, keep_cols=("url",))
    # map subdivided pid → name, compare (url, name) sets vs broadcast on coarse
    name_of = dict(zip(large_pdf["polygon_id"], large_pdf["name"]))
    got_pairs = {(r.url, name_of[r.polygon_id]) for r in got.collect()}
    coarse_name = dict(zip(data["polys_pdf"]["polygon_id"], data["polys_pdf"]["name"]))
    bc_pairs = {
        (r.url, coarse_name[r.polygon_id])
        for r in joins.pip_join_broadcast(tagged, data["polys_pdf"]).collect()
    }
    # subdivision introduces interior shared edges: a point on such an edge
    # matches ≥1 subcell of the same parent, and may also match its parent's
    # neighbor only if it was on the coarse boundary too → name-sets equal
    assert got_pairs == bc_pairs


def test_with_tile_matches_oracle(spark, data):
    merc = oracle.GlobalMercatorOracle()
    tagged = geotag_first(data["pages"], data["gaz"])
    out = joins.with_tile(tagged, zoom=8).collect()
    assert len(out) > 0
    for r in out:
        otx, oty = merc.lonlat_to_tile(r.lon, r.lat, 8)
        assert (r.tx, r.ty) == (otx, oty)
        assert r.quadkey == merc.quad_tree(otx, oty, 8)


def test_hot_cell_salting_parity(spark, data):
    """Salting the cells the occupancy pass measures as hot (pages_hot: half
    the geotags on one place) emits exactly the unsalted shuffle join's
    rows; with no hot cell (the spread pages) the salted call is the
    unsalted plan, with the same rows."""
    hot_pages = spark.createDataFrame(make_pages(n=800, gazetteer=data["gaz_pdf"], seed=10, hot_cell_frac=0.5))
    for pages, n_hot in ((hot_pages, 1), (data["pages"], 0)):
        tagged = geotag_first(pages, data["gaz"])
        assert len(joins._point_occupancy(tagged, 5, "lon", "lat")[1]) == n_hot
        plain = sorted((r.url, r.polygon_id) for r in joins.pip_join_shuffle(tagged, data["polys"], zoom=5).collect())
        salted = joins.pip_join_shuffle(tagged, data["polys"], zoom=5, n_salt=4)
        assert sorted((r.url, r.polygon_id) for r in salted.collect()) == plain and len(plain) > 0, n_hot


def _shuffled_rows(spark, action) -> list:
    """Rows written by each shuffle Exchange of the SQL executions that
    ``action`` runs, sorted, read from Spark's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    before = {int(e.executionId()) for e in seq(store.executionsList())}
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    out = []
    for ex in seq(store.executionsList()):
        if int(ex.executionId()) in before:
            continue
        values, it = {}, store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        for node in seq(store.planGraph(ex.executionId()).allNodes()):
            out += [
                int(values[int(m.accumulatorId())].replace(",", ""))
                for m in seq(node.metrics())
                if node.name() == "Exchange" and m.name() == "shuffle records written"
            ]
    return sorted(out)


def test_salting_replicates_only_the_hot_cells(spark, data):
    """With one cell holding more than N / P of the points (P = the
    session's shuffle partitions), the salted join shuffles the points once
    and the polygon cover's cold rows once and its hot rows ``n_salt``
    times, and emits the broadcast join's rows."""
    rng = np.random.default_rng(11)
    n = 600
    lon = np.concatenate([rng.normal(12.3, 0.05, n // 2), rng.uniform(-179.0, 179.0, n // 2)])
    lat = np.concatenate([rng.normal(45.2, 0.05, n // 2), rng.uniform(-80.0, 80.0, n // 2)])
    pts = spark.createDataFrame(pd.DataFrame({"url": [f"p{i}" for i in range(n)], "lon": lon, "lat": lat}))
    occupied, hot = joins._point_occupancy(pts, 8, "lon", "lat")
    assert len(hot) == 1 and int(spark.conf.get("spark.sql.shuffle.partitions")) < n // 2
    cover = [r.cell for r in joins.polygon_cover_cells(data["polys"], 8, occupied).collect()]
    n_hot = sum(c in hot for c in cover)
    assert 0 < n_hot < len(cover)
    got = []
    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh = joins.pip_join_shuffle(pts, data["polys"], zoom=8, n_salt=4)
        shuffled = _shuffled_rows(spark, lambda: got.extend(sorted((r.url, r.polygon_id) for r in sh.collect())))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
    assert shuffled == sorted([n, len(cover) - n_hot + 4 * n_hot]), (shuffled, len(cover), n_hot)
    assert got == sorted((r.url, r.polygon_id) for r in joins.pip_join_broadcast(pts, data["polys_pdf"]).collect())


def test_hot_cell_skew_fixture(spark):
    """pages_hot: 50% of geotags in one cell; salted shuffle still exact."""
    gaz = make_gazetteer(n=200, n_countries=20)
    pages = make_pages(n=600, gazetteer=gaz, seed=20, hot_cell_frac=0.5)
    polys_pdf = make_polygons(n=40)
    sdf_pages = spark.createDataFrame(pages)
    sdf_gaz = spark.createDataFrame(gaz)
    sdf_polys = spark.createDataFrame(polys_pdf)
    tagged = geotag_all(sdf_pages, sdf_gaz).withColumnRenamed("name", "place")
    bc = sorted(
        (r.url, r.place, r.polygon_id)
        for r in joins.pip_join_broadcast(tagged, polys_pdf, keep_cols=("url", "place")).collect()
    )
    sh = sorted(
        (r.url, r.place, r.polygon_id)
        for r in joins.pip_join_shuffle(
            tagged, sdf_polys, zoom=6, keep_cols=("url", "place"), n_salt=8
        ).collect()
    )
    assert sh == bc and len(bc) > 0


def test_knn_broadcast_matches_rings(spark):
    """Both kNN physical plans emit identical rows."""
    import pandas as pd

    from engine import joins
    from pyspark.sql import functions as F

    rng = np.random.default_rng(14)
    pts = spark.createDataFrame(
        pd.DataFrame({"name": [f"p{i}" for i in range(3000)],
                      "lon": rng.uniform(-170, 170, 3000),
                      "lat": rng.uniform(-75, 75, 3000)})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"qid": list(range(40)),
                      "lon": rng.uniform(-170, 170, 40),
                      "lat": rng.uniform(-75, 75, 40)})
    )
    a = joins.knn_join(qs, pts, k=5, zoom=4, max_ring=8, strategy="rings").collect()
    b = joins.knn_join(qs, pts, k=5, strategy="broadcast").collect()
    ka = sorted((r.qid, r.rank, r.neighbor, round(r.dist, 9)) for r in a)
    kb = sorted((r.qid, r.rank, r.neighbor, round(r.dist, 9)) for r in b)
    assert ka == kb


def test_knn_rings_reach_points_at_the_world_edges(spark):
    """The ring join keys its points on the world-clamped tile, so points
    beyond the mercator latitude limits and at lon -180° (tile -1 by the
    tile rule) are reached: its rows equal knn_join_broadcast's for queries
    next to them."""
    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(
        pd.DataFrame({"name": [f"p{i}" for i in range(304)],
                      "lon": np.concatenate([[10.0, 12.0, -40.0, -180.0], rng.uniform(-170, 170, 300)]),
                      "lat": np.concatenate([[88.0, 89.5, -87.0, 0.0], rng.uniform(-75, 75, 300)])})
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"qid": [0, 1, 2], "lon": [10.0, -179.5, -40.0], "lat": [84.9, 0.5, -84.0]})
    )

    def rows(df):
        return sorted((r.qid, r.rank, r.neighbor, round(r.dist, 9)) for r in df.collect())

    rings = rows(joins.knn_join(qs, pts, k=3, zoom=4, max_ring=8, strategy="rings"))
    assert rings == rows(joins.knn_join_broadcast(qs, pts, k=3))
    assert [r[2] for r in rings if r[1] == 1] == ["p0", "p3", "p2"]


def test_knn_rings_keep_duplicate_point_rows(spark):
    """Two identical point rows and two points that share an id are all
    candidates of the ring join, as of knn_join_broadcast: each (query,
    point row) pair is a candidate once, so nothing is deduplicated, and
    the rows of both plans are equal for k = 2 and 4."""
    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        pd.DataFrame({"name": ["dup", "dup", "twin", "twin"] + [f"p{i}" for i in range(200)],
                      "lon": np.concatenate([[1.0, 1.0, 1.5, 3.0], rng.uniform(-170, 170, 200)]),
                      "lat": np.concatenate([[1.0, 1.0, 1.0, 1.0], rng.uniform(-75, 75, 200)])})
    )
    qs = spark.createDataFrame(pd.DataFrame({"qid": [0, 1], "lon": [1.1, 2.9], "lat": [1.0, 1.1]}))

    def rows(df):
        return sorted((r.qid, r.rank, r.neighbor, round(r.dist, 9)) for r in df.collect())

    for k in (2, 4):
        rings = rows(joins.knn_join(qs, pts, k=k, zoom=4, max_ring=8, strategy="rings"))
        assert rings == rows(joins.knn_join_broadcast(qs, pts, k=k)), k
    assert [r[2] for r in rings if r[0] == 0] == ["dup", "dup", "twin", "twin"]


def test_knn_plans_skip_non_finite_coordinates(spark):
    """A query or point whose lon or lat is NaN, ±inf or null takes no part
    in kNN: the ring plan, the broadcast plan and geocode_reverse return
    the same rows, none for such a query and none naming such a point."""
    from engine.geotag import geocode_reverse

    nan, inf = float("nan"), float("inf")
    rng = np.random.default_rng(8)
    bad = [("nan_lon", nan, 1.0), ("null_lon", None, 1.0), ("inf_lat", 1.0, inf), ("null_lat", 1.0, None)]
    good = [(f"p{i}", float(lo), float(la)) for i, (lo, la) in enumerate(zip(rng.uniform(-170, 170, 200), rng.uniform(-75, 75, 200)))]
    pts = spark.createDataFrame(bad + good, "name string, lon double, lat double")
    qs = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, None, 1.0), (2, inf, 0.0), (3, nan, 0.0), (4, 0.0, -inf), (5, -20.0, 30.0)],
        "qid long, lon double, lat double",
    )

    def rows(df, name="neighbor"):
        return sorted((r.qid, r.rank, r[name], round(r.dist, 9)) for r in df.collect())

    rings = rows(joins.knn_join(qs, pts, k=2, zoom=4, max_ring=8, strategy="rings"))
    assert rings == rows(joins.knn_join(qs, pts, k=2, strategy="broadcast"))
    assert rings == rows(joins.knn_join(qs, pts, k=2))
    assert rings == rows(geocode_reverse(qs, pts, k=2), "name")
    assert {r[0] for r in rings} == {0, 5} and len(rings) == 4
    assert not {r[2] for r in rings} & {b[0] for b in bad}


def test_geocode_reverse_matches_oracle(spark, data):
    """geocode_reverse (OGRGeocodeReverse analog): every query resolves to
    the brute-force nearest gazetteer place, ties broken by name; repeated
    runs are identical (the cache-table determinism contract)."""
    import numpy as np

    from engine.geotag import geocode_reverse

    rng = np.random.default_rng(7)
    qs = [(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-179, 179, 40), rng.uniform(-80, 80, 40)))]
    queries = spark.createDataFrame(qs, "qid long, lon double, lat double")
    got = {r.qid: (r.name, r.dist, r.country_id)
           for r in geocode_reverse(queries, data["gaz"]).collect()}
    gaz = data["gaz_pdf"]
    glon = gaz["lon"].to_numpy(float)
    glat = gaz["lat"].to_numpy(float)
    gname = gaz["name"].to_numpy()
    gcountry = gaz["country_id"].to_numpy()
    for qid, lon, lat in qs:
        d = np.sqrt((glon - lon) ** 2 + (glat - lat) ** 2)
        order = np.lexsort((gname, d))
        i = order[0]
        assert got[qid][0] == gname[i], qid
        assert abs(got[qid][1] - d[i]) < 1e-12
        assert got[qid][2] == gcountry[i]
    again = {r.qid: r.name for r in geocode_reverse(queries, data["gaz"]).collect()}
    assert again == {q: v[0] for q, v in got.items()}


def _cover_multiset(rows):
    from collections import Counter

    return Counter((r.polygon_id, r.cell, bytes(r.geom_wkb)) for r in rows)


def _meshgrid_tiles(minx, miny, maxx, maxy, zoom, pad=0):
    """The per-window meshgrid expansion polygon_cover_cells used to run,
    grown by ``pad``: the reference for the vectorized window rule.
    Corners clamp to the mercator world (a NaN lon to -180°, a NaN lat to
    the southern limit) and their tiles to [0, 2^zoom - 1]; the pad is
    applied after that clip and clipped again."""
    from engine import tiles

    lim, top = tiles.MERCATOR_LAT_MAX, 2**zoom - 1

    def tile(lon, lat, d):
        lon = -180.0 if np.isnan(lon) else min(max(lon, -180.0), 180.0)
        lat = -lim if np.isnan(lat) else min(max(lat, -lim), lim)
        tx, ty = tiles.lonlat_to_tile(np.array([lon]), np.array([lat]), zoom)
        return [min(max(min(max(int(t[0]), 0), top) + d, 0), top) for t in (tx, ty)]

    (tx0, ty0), (tx1, ty1) = tile(minx, miny, -pad), tile(maxx, maxy, pad)
    gx, gy = np.meshgrid(np.arange(tx0, tx1 + 1), np.arange(ty0, ty1 + 1))
    return list(zip(gx.ravel().tolist(), gy.ravel().tolist()))


def _meshgrid_cover(polys_pdf, zoom):
    """:func:`_meshgrid_tiles` of each polygon's bbox as the cover's
    (polygon_id, cell, wkb) multiset."""
    from collections import Counter

    shift = 2 ** (zoom + 1)
    out = Counter()
    for r in polys_pdf.itertuples():
        for tx, ty in _meshgrid_tiles(r.minx, r.miny, r.maxx, r.maxy, zoom):
            out[(int(r.polygon_id), tx * shift + ty, bytes(r.geom_wkb))] += 1
    return out


def test_window_tiles_match_meshgrid():
    """The one window rule (joins._window_tiles) emits the per-window
    meshgrid's tiles, grouped by window, at zooms 0, 4 and 8: boxes across
    ±180° and beyond ±85.0511°, NaN corners, and pads that reach the world
    edge or grow a box beyond ±180° back into the world."""
    nan = float("nan")
    boxes = [
        (-200.0, -10.0, -170.0, 10.0),
        (170.0, -95.0, 190.0, -80.0),
        (-180.0, -90.0, 180.0, 90.0),
        (10.0, 84.0, 40.0, 89.9),
        (190.0, 86.0, 200.0, 88.0),  # wholly beyond +180° and the north limit
        (-210.0, -89.0, -190.0, -87.0),  # wholly beyond -180° and the south limit
        (45.0, 20.0, 45.0, 21.0),
        (12.3, 45.2, 12.3, 45.2),
        (179.9, -85.0, 179.9, 85.0),
        (nan, 0.0, 10.0, 10.0),
        (0.0, nan, 10.0, 10.0),
        (0.0, 0.0, nan, nan),
        (nan, nan, nan, nan),
    ]
    minx, miny, maxx, maxy = (np.array(c, dtype=np.float64) for c in zip(*boxes))
    for zoom in (0, 4, 8):
        for pad in (0, 1, 3, 2**zoom):
            box, (row, tx, ty) = joins._window_tiles(minx, miny, maxx, maxy, zoom, pad)
            got = [sorted(zip(tx[row == i].tolist(), ty[row == i].tolist())) for i in range(len(boxes))]
            want = [sorted(_meshgrid_tiles(*b, zoom, pad)) for b in boxes]
            assert got == want, (zoom, pad)
            assert np.all(np.diff(row) >= 0)
            x0, y0, x1, y1 = box
            assert ((x0 >= 0) & (y0 >= 0) & (x1 <= 2**zoom - 1) & (y1 <= 2**zoom - 1)).all()


def _bbox_polys(boxes, first_id=0):
    rows = []
    for i, (x0, y0, x1, y1) in enumerate(boxes):
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        rows.append((first_id + i, geom.wkb_polygon([ring]), float(x0), float(y0), float(x1), float(y1)))
    pdf = pd.DataFrame(rows, columns=["polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy"])
    pdf["polygon_id"] = pdf["polygon_id"].astype(np.int32)
    return pdf


def test_polygon_cover_cells_matches_meshgrid(spark, data):
    """The vectorized cover emits the same multiset of (polygon_id, cell,
    wkb) rows as the per-polygon meshgrid, for bboxes clamped at ±180° and
    at the mercator latitude limit, zero-width bboxes and empty input
    partitions."""
    edge = _bbox_polys(
        [
            (-200.0, -10.0, -170.0, 10.0),  # clamped at -180°
            (170.0, -95.0, 190.0, -80.0),  # clamped at +180° and the south limit
            (-180.0, -90.0, 180.0, 90.0),  # the whole world
            (10.0, 84.0, 40.0, 89.9),  # clamped at the north limit
            (45.0, 20.0, 45.0, 21.0),  # zero width on a tile boundary at z4
            (12.3, 45.2, 12.3, 45.2),  # a point bbox
        ],
        first_id=1000,
    )
    pdf = pd.concat([data["polys_pdf"][edge.columns], edge], ignore_index=True)
    polys = spark.createDataFrame(pdf).repartition(3 * len(pdf))
    for zoom in (0, 4):
        got = _cover_multiset(joins.polygon_cover_cells(polys, zoom).collect())
        assert got == _meshgrid_cover(pdf, zoom), zoom


def test_shuffle_udfs_over_empty_partitions(spark):
    """Both Arrow UDFs of the shuffle join handle a DataFrame with empty
    partitions (3 rows over 8 partitions), and an empty input batch gives
    no cover rows and a zero-row refine batch of the output types."""
    import pyarrow as pa

    polys_pdf = _bbox_polys([(0.0, 0.0, 10.0, 10.0), (5.0, 5.0, 15.0, 15.0), (-20.0, -5.0, -10.0, 5.0)])
    polys = spark.createDataFrame(polys_pdf).repartition(8)
    cover = joins.polygon_cover_cells(polys, 3)
    assert cover.rdd.glom().map(len).collect().count(0) > 0
    assert _cover_multiset(cover.collect()) == _meshgrid_cover(polys_pdf, 3)

    cand_pdf = pd.DataFrame(
        {
            "url": ["in-a", "in-both", "outside"],
            "lon": [2.0, 7.0, 50.0],
            "lat": [2.0, 7.0, 50.0],
            "polygon_id": np.array([0, 1, 0], dtype=np.int32),
            "geom_wkb": [polys_pdf["geom_wkb"][0], polys_pdf["geom_wkb"][1], polys_pdf["geom_wkb"][0]],
        }
    )
    cand = spark.createDataFrame(cand_pdf).repartition(8)
    points = cand.select("url", "lon", "lat")
    got = sorted((r.url, r.polygon_id) for r in joins._pip_refine(cand, points, "lon", "lat", ("url",)).collect())
    assert got == [("in-a", 0), ("in-both", 1)]

    empty_poly = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int32()), pa.array([], pa.binary())] + [pa.array([], pa.float64())] * 4,
        names=["polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy"],
    )
    row, (cell,) = joins._cover_windows(empty_poly, 8)
    assert len(row) == 0 and cell.type == pa.int64()
    empty_cand = pa.RecordBatch.from_arrays(
        [pa.array([], pa.string()), pa.array([], pa.float64()), pa.array([], pa.float64()),
         pa.array([], pa.int32()), pa.array([], pa.binary())],
        names=["url", "lon", "lat", "polygon_id", "geom_wkb"],
    )
    out = joins._refine_batch(empty_cand)
    assert out.num_rows == 0
    assert out.schema.names == ["url", "lon", "lat", "polygon_id"]
    assert out.schema.types == [pa.string(), pa.float64(), pa.float64(), pa.int32()]


def test_salted_shuffle_with_empty_refine_partitions(spark, data):
    """Salted shuffle join of points on one hot spot plus points scattered
    over cells no polygon covers, so that some refine partitions get no
    candidates: its rows equal the broadcast join's."""
    rng = np.random.default_rng(31)
    n = 400
    lon = np.concatenate([rng.normal(12.3, 0.05, n // 2), rng.uniform(-179.0, 179.0, n // 2)])
    lat = np.concatenate([rng.normal(45.2, 0.05, n // 2), rng.uniform(-80.0, 80.0, n // 2)])
    pts = spark.createDataFrame(pd.DataFrame({"url": [f"p{i}" for i in range(n)], "lon": lon, "lat": lat}))
    polys_pdf = pd.concat(
        [
            _bbox_polys([(12.0, 45.0, 12.5, 45.5), (12.2, 45.1, 12.4, 45.3)]),
            data["polys_pdf"][data["polys_pdf"]["name"].str.startswith(("concave", "holed"))][
                ["polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy"]
            ],
        ],
        ignore_index=True,
    )
    bc = sorted((r.url, r.polygon_id) for r in joins.pip_join_broadcast(pts, polys_pdf).collect())
    sh = joins.pip_join_shuffle(pts, spark.createDataFrame(polys_pdf), zoom=8, n_salt=4)
    assert sorted((r.url, r.polygon_id) for r in sh.collect()) == bc and len(bc) > n // 4


def test_shuffle_joins_keep_duplicate_point_rows(spark):
    """Two identical point rows inside a polygon come back twice from every
    plan: the salted shuffle gives both the same salt and emits each (point
    row, polygon) pair once per row, with no dedup, as the broadcast plan
    does.  Their cell holds 3 of the 4 points, over N / P, so it is hot and
    salted."""
    polys_pdf = _bbox_polys([(0.0, 0.0, 10.0, 10.0), (20.0, 20.0, 30.0, 30.0)], first_id=1)
    pts = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "a", "b", "c"], "lon": [2.0, 2.0, 3.0, 50.0], "lat": [2.0, 2.0, 4.0, 50.0]})
    )
    polys = spark.createDataFrame(polys_pdf)

    def rows(df):
        return sorted((r.url, r.polygon_id) for r in df.collect())

    bc = rows(joins.pip_join_broadcast(pts, polys_pdf))
    assert bc == [("a", 1), ("a", 1), ("b", 1)]
    (hot,) = joins._point_occupancy(pts, 6, "lon", "lat")[1]
    assert hot == joins._lonlat_cells(np.array([2.0]), np.array([2.0]), 6)[0]
    assert rows(joins.pip_join_shuffle(pts, polys, zoom=6, n_salt=4)) == bc
    assert rows(joins.pip_join_shuffle(pts, polys, zoom=6)) == bc


def test_with_cell_packs_with_tile_coordinates(spark):
    """with_cell's packed id is ``tx * 2**(zoom+1) + ty`` of with_tile's
    tile, at zooms 0, 8 and 20, for points on tile edges (pixel coordinates
    multiples of 256), at ±180° and at the mercator latitude limit."""
    from engine import tiles

    lons, lats = [-180.0, 180.0, 0.0, 12.3, -179.999], [-85.0511, 85.0511, 0.0, 45.2, -85.05112878]
    for zoom in (0, 8, 20):
        # tile-edge lon/lat: the inverse of whole-tile pixel coordinates
        k = np.array([1, 2 ** zoom // 2, max(2 ** zoom - 1, 1)], dtype=np.float64) * tiles.TILE_SIZE
        edge_lon, edge_lat = tiles.meters_to_lonlat(*tiles.pixels_to_meters(k, k, zoom))
        lon = np.concatenate([np.repeat(lons, len(lats)), np.repeat(edge_lon, len(k))])
        lat = np.concatenate([np.tile(lats, len(lons)), np.tile(edge_lat, len(k))])
        pts = spark.createDataFrame(pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat}))
        cell = {r.id: r.cell for r in joins.with_cell(pts, zoom).collect()}
        tile = joins.with_tile(pts, zoom).collect()
        assert len(cell) == len(tile) == len(lon)
        for r in tile:
            assert cell[r.id] == r.tx * 2 ** (zoom + 1) + r.ty, (zoom, r)
        # the edge points sit on a tile edge, up to the round trip's rounding
        px, _ = tiles.lonlat_to_pixels(edge_lon, edge_lat, zoom)
        assert np.allclose(px / tiles.TILE_SIZE, np.round(px / tiles.TILE_SIZE), rtol=0, atol=1e-6)


def _hostile_points(spark, zoom):
    """(name, point frame) inputs of the occupancy-filtered shuffle join:
    every frame has (url string, lon double, lat double) and is built from
    Python rows, so NaN stays NaN and None stays null."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from engine import tiles

    schema = StructType(
        [StructField("url", StringType()), StructField("lon", DoubleType()), StructField("lat", DoubleType())]
    )

    def frame(lon, lat):
        rows = [(f"p{i}", None if x is None else float(x), None if y is None else float(y))
                for i, (x, y) in enumerate(zip(lon, lat))]
        return spark.createDataFrame(rows, schema)

    rng = np.random.default_rng(47)
    k = np.array([1, 2 ** zoom // 2 - 1, 2 ** zoom // 2, 2 ** zoom - 1], dtype=np.float64) * tiles.TILE_SIZE
    edge_lon, edge_lat = tiles.meters_to_lonlat(*tiles.pixels_to_meters(k, k, zoom))
    limits = [-180.0, 180.0, 0.0]
    lat_limits = [-85.0511, 85.0511, 0.0]
    return [
        # most points in cells no polygon covers (the open ocean of make_polygons)
        ("uncovered", frame(rng.uniform(-179.0, 179.0, 300), rng.uniform(-80.0, 80.0, 300))),
        # a few points: most polygon cells hold none
        ("sparse", frame([12.3, 2.5, -60.0], [45.2, 7.5, -30.0])),
        ("empty", frame([], [])),
        (
            "edges_and_limits",
            frame(
                np.concatenate([np.repeat(edge_lon, len(k)), np.repeat(limits, len(lat_limits))]),
                np.concatenate([np.tile(edge_lat, len(k)), np.tile(lat_limits, len(limits))]),
            ),
        ),
        (
            "non_finite_and_null",
            frame(
                [np.nan, np.inf, -np.inf, None, 2.5, 0.0, np.nan, 12.3],
                [0.0, 0.0, 0.0, 0.0, np.nan, None, np.inf, 45.2],
            ),
        ),
    ]


def _hostile_polygons(data):
    """make_polygons plus boxes that touch ±180°, the mercator latitude
    limits and the equator / prime meridian."""
    return pd.concat(
        [
            data["polys_pdf"][["polygon_id", "geom_wkb", "minx", "miny", "maxx", "maxy"]],
            _bbox_polys(
                [
                    (-180.0, -85.0511, -170.0, -80.0),
                    (170.0, 80.0, 180.0, 85.0511),
                    (-180.0, 80.0, -175.0, 85.06),
                    (-5.0, -5.0, 0.0, 0.0),
                    (0.0, 0.0, 5.0, 5.0),
                ],
                first_id=1000,
            ),
        ],
        ignore_index=True,
    )


@pytest.mark.parametrize("zoom", [6, 13])
def test_occupancy_filtered_shuffle_matches_broadcast(spark, data, zoom):
    """The shuffle join, whose polygon cover keeps only the cells that hold
    a point (an exact bitmap at zoom 6, a hashed one at zoom 13), emits the
    broadcast join's rows unsalted and salted, for points in uncovered
    cells, polygons whose cells hold no point, an empty point frame, points
    on tile edges and at ±180° / ±85.0511°, and NaN, ±inf and null
    coordinates."""
    polys_pdf = _hostile_polygons(data)
    polys = spark.createDataFrame(polys_pdf)
    for name, pts in _hostile_points(spark, zoom):
        bc = sorted((r.url, r.polygon_id) for r in joins.pip_join_broadcast(pts, polys_pdf).collect())
        for n_salt in (None, 4):
            sh = joins.pip_join_shuffle(pts, polys, zoom=zoom, n_salt=n_salt)
            assert sorted((r.url, r.polygon_id) for r in sh.collect()) == bc, (name, n_salt)
        if name in ("uncovered", "edges_and_limits"):
            assert bc, name


def test_occupancy_keeps_exactly_the_point_cells(spark, data):
    """Up to zoom 11 the filtered cover is the full cover restricted to the
    cells that hold a point.  Above zoom 11 the bitmap is indexed by
    ``cell mod 2^23``: a polygon cell that shares its bit with a point's
    cell is kept although no point is in it, and every cell that holds a
    point is kept."""
    from collections import Counter

    from engine import tiles

    polys = spark.createDataFrame(_hostile_polygons(data))
    rng = np.random.default_rng(5)
    lon, lat = rng.uniform(-60.0, 60.0, 500), rng.uniform(-50, 50, 500)
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))

    def covers(zoom, points, polys):
        occupied, _ = joins._point_occupancy(points, zoom, "lon", "lat")
        cells = {r.cell for r in joins.with_cell(points, zoom).collect()}
        full = _cover_multiset(joins.polygon_cover_cells(polys, zoom).collect())
        kept = _cover_multiset(joins.polygon_cover_cells(polys, zoom, occupied).collect())
        return cells, full, kept

    for zoom in (0, 4, 8):
        cells, full, kept = covers(zoom, pts, polys)
        assert kept == Counter({k: v for k, v in full.items() if k[1] in cells}), zoom
        assert sum(kept.values()) < sum(full.values()) or zoom == 0
    # zoom 12, boxes of 0.2° around six of the points
    boxes = spark.createDataFrame(_bbox_polys([(x - 0.1, y - 0.1, x + 0.1, y + 0.1) for x, y in zip(lon[:6], lat[:6])]))
    cells, full, kept = covers(12, pts, boxes)
    occupied = Counter({k: v for k, v in full.items() if k[1] in cells})
    assert len(occupied) >= 6 and occupied.items() <= kept.items() < full.items()
    # a point 1024 tiles east of a polygon's only zoom-12 cell has that
    # cell's bit: (tx + 2^10) * 2^13 + ty = cell + 2^23
    (tx,), (ty,) = tiles.lonlat_to_tile(np.array([10.0]), np.array([10.0]), 12)
    (far_lon,), _, _, _ = tiles.tile_lonlat_bounds([tx + 1024], [ty], 12)
    far = spark.createDataFrame(pd.DataFrame({"lon": [far_lon + 1e-6], "lat": [10.0]}))
    box = spark.createDataFrame(_bbox_polys([(10.0, 10.0, 10.0, 10.0)], first_id=1))
    cells, full, kept = covers(12, far, box)
    assert kept == full and len(full) == 1 and not {k[1] for k in full} & cells


def test_nondeterministic_point_plan_joins_unfiltered(spark, data):
    """A point frame whose analyzed plan is not deterministic gets no
    occupancy bitmap (a second evaluation could yield other cells), and its
    shuffle join still emits the broadcast join's rows."""
    from pyspark.sql import functions as F

    tagged = geotag_first(data["pages"], data["gaz"])
    nondet = tagged.where(F.rand(7) >= 0.0)
    assert joins._point_occupancy(tagged, 6, "lon", "lat") is not None
    assert joins._point_occupancy(nondet, 6, "lon", "lat") is None
    bc = sorted((r.url, r.polygon_id) for r in joins.pip_join_broadcast(tagged, data["polys_pdf"]).collect())
    for n_salt in (None, 4):
        sh = joins.pip_join_shuffle(nondet, data["polys"], zoom=6, n_salt=n_salt)
        assert sorted((r.url, r.polygon_id) for r in sh.collect()) == bc, n_salt


def test_shuffle_joins_reach_points_beyond_the_latitude_limit(spark):
    """A polygon that reaches past the mercator latitude limit meets the
    points beyond it in the cell-shuffle joins, as in the broadcast join:
    both sides of the cell equi-join clamp to the world's edge tiles,
    unsalted and salted; each point's cell holds 1 of the 2 points, over
    N / P, so both cells are hot and salted."""
    polys_pdf = _bbox_polys([(0.0, 80.0, 20.0, 89.9)], first_id=1)
    pts = spark.createDataFrame(pd.DataFrame({"url": ["in", "beyond"], "lon": [10.0, 10.0], "lat": [84.0, 88.0]}))
    want = [("beyond", 1), ("in", 1)]
    assert sorted((r.url, r.polygon_id) for r in joins.pip_join_broadcast(pts, polys_pdf).collect()) == want
    assert len(joins._point_occupancy(pts, 6, "lon", "lat")[1]) == 2
    polys = spark.createDataFrame(polys_pdf)
    for n_salt in (None, 4):
        plan = joins.pip_join_shuffle(pts, polys, zoom=6, n_salt=n_salt)
        assert sorted((r.url, r.polygon_id) for r in plan.collect()) == want, n_salt

