"""Tiling stage vs the single-process oracle: burn, pyramid, checksum,
manifest/resume, determinism across parallelism (FIXTURES.md §5/§8)."""

import os
import re

import numpy as np
import pytest

from engine import oracle, raster
from engine.fixtures import make_gazetteer, make_pages
from engine.geotag import geotag_first
from engine.oracle import (
    burn_tiles_oracle,
    gdal_checksum_oracle,
    pyramid_reduce_oracle,
)


def test_checksum_matches_oracle_scalar():
    rng = np.random.default_rng(1)
    grid = rng.integers(0, 1000, (64, 64)).astype(np.int64)
    assert raster.gdal_checksum(grid) == gdal_checksum_oracle(grid.tolist())
    # negative values: C truncating modulo
    grid2 = rng.integers(-500, 500, (32, 32)).astype(np.int64)
    assert raster.gdal_checksum(grid2) == gdal_checksum_oracle(grid2.tolist())


def test_checksum_float_semantics():
    # NaN/Inf → 0x80000000; +0.5 floor; clamp (alg/gdalchecksum.cpp:101-119)
    g = np.array([[1.4, 2.5], [np.nan, np.inf]])
    v = raster.gdal_checksum_float(g)
    # manual: 1.9->1, 3.0->3, nan->-2147483648, inf->-2147483648
    vals = [1, 3, -2147483648, -2147483648]
    primes = [7, 11, 13, 17]
    expect = sum(int(np.fmod(x, p)) for x, p in zip(vals, primes)) & 0xFFFF
    assert v == expect


@pytest.fixture(scope="module")
def geo_points(spark):
    gaz = make_gazetteer(n=300, n_countries=30)
    pages = make_pages(n=1000, gazetteer=gaz, seed=31)
    tagged = geotag_first(spark.createDataFrame(pages), spark.createDataFrame(gaz)).cache()
    pts = [(r.lon, r.lat) for r in tagged.select("lon", "lat").collect()]
    return tagged, pts


@pytest.mark.parametrize("zoom", [4, 6])
def test_burn_matches_oracle(spark, geo_points, zoom):
    tagged, pts = geo_points
    got = {
        (r.tx, r.ty): raster.bytes_to_tile(r.data)
        for r in raster.burn_base_tiles(tagged, zoom).collect()
    }
    expect = burn_tiles_oracle(pts, zoom)
    assert set(got) == set(expect)
    for key in expect:
        assert np.array_equal(got[key], np.array(expect[key])), f"tile {key} differs"


def test_pyramid_matches_oracle(spark, geo_points):
    tagged, pts = geo_points
    z = 5
    base = raster.burn_base_tiles(tagged, z)
    reduced = {
        (r.tx, r.ty): raster.bytes_to_tile(r.data)
        for r in raster.pyramid_reduce(base).collect()
    }
    expect = pyramid_reduce_oracle(burn_tiles_oracle(pts, z))
    assert set(reduced) == set(expect)
    for key in expect:
        assert np.array_equal(reduced[key], np.array(expect[key]))


def test_tile_checksums_and_counts(spark, geo_points):
    tagged, pts = geo_points
    z = 5
    cks = {
        (r.tx, r.ty): (r.checksum, r.page_count)
        for r in raster.tile_checksums(raster.burn_base_tiles(tagged, z)).collect()
    }
    expect = burn_tiles_oracle(pts, z)
    assert sum(c for _, (_, c) in cks.items()) == len(pts)  # every point lands once
    for key, grid in expect.items():
        assert cks[key][0] == gdal_checksum_oracle(grid)


def test_determinism_across_parallelism(spark, geo_points):
    """Same tile checksums at different repartitionings (the local analog of
    the reference's multithread-identical-output tests, SURVEY.md §5.3)."""
    tagged, _ = geo_points
    z = 6

    def run(nparts):
        df = tagged.repartition(nparts)
        return sorted(
            (r.tx, r.ty, r.checksum)
            for r in raster.tile_checksums(raster.burn_base_tiles(df, z)).collect()
        )

    assert run(1) == run(7) == run(32)


def test_pipeline_resume(spark, geo_points, tmp_path):
    from engine import pipeline

    tagged, pts = geo_points
    base = str(tmp_path / "tiles")
    out1 = pipeline.run_tiling(spark, tagged, base, base_zoom=6, min_zoom=4)
    n1 = {(r.zoom, r.tx, r.ty): r.data for r in out1.collect()}
    assert pipeline.completed_levels(spark, base) == {4, 5, 6}

    # simulate a crash after base level: delete upper levels + their manifest
    import shutil

    for z in (4, 5):
        shutil.rmtree(os.path.join(base, f"zoom={z}"))
    for f in os.listdir(os.path.join(base, pipeline.MANIFEST_DIR)):
        if f.startswith("zoom_4") or f.startswith("zoom_5"):
            os.remove(os.path.join(base, pipeline.MANIFEST_DIR, f))
    assert pipeline.completed_levels(spark, base) == {6}

    # resume: must NOT recompute level 6 (mtime unchanged) and must rebuild 4,5
    import pathlib

    z6_mtime = max(p.stat().st_mtime for p in pathlib.Path(base, "zoom=6").glob("*.parquet"))
    out2 = pipeline.run_tiling(spark, tagged, base, base_zoom=6, min_zoom=4, resume=True)
    n2 = {(r.zoom, r.tx, r.ty): r.data for r in out2.collect()}
    z6_mtime2 = max(p.stat().st_mtime for p in pathlib.Path(base, "zoom=6").glob("*.parquet"))
    assert z6_mtime == z6_mtime2  # completed partition untouched
    assert set(n1) == set(n2)
    assert all(bytes(n1[k]) == bytes(n2[k]) for k in n1)  # identical tables

    # manifest lineage: row counts present for every level
    mf = pipeline.read_manifest(spark, base)
    rows = {r.zoom: r for r in mf.collect()}
    assert rows[6].stage == "burn_base" and rows[6].in_rows == len(pts)
    assert rows[5].stage == "pyramid_reduce"
    assert rows[5].in_rows == rows[6].out_rows  # lineage chains

    # per-partition lineage sidecar: partition sums reconcile to the level
    from pyspark.sql import functions as F

    for z in (4, 5, 6):
        lin = spark.read.parquet(os.path.join(base, "_lineage", f"zoom={z}"))
        agg = lin.agg(
            F.sum("n_tiles").alias("t"), F.sum("page_count").alias("p")
        ).collect()[0]
        assert int(agg.t) == rows[z].out_rows
        assert int(agg.p) == rows[z].total_count
        assert lin.count() == rows[z].n_partitions


def test_pipeline_resume_reads_the_manifest_on_the_driver(spark, geo_points, tmp_path):
    """Resume reads the manifest commit log with ``json`` on the driver: a
    finished pyramid resumes without a Spark job, and a truncated record is
    an error naming its file instead of "nothing done"."""
    from engine import pipeline

    tagged, _ = geo_points
    base = str(tmp_path / "tiles")
    pipeline.run_tiling(spark, tagged, base, base_zoom=5, min_zoom=4)
    sc = spark.sparkContext
    sc.setJobGroup("resume-finished", "resume of a finished pyramid")
    try:
        pipeline.run_tiling(spark, tagged, base, base_zoom=5, min_zoom=4, resume=True)
        assert pipeline.completed_levels(spark, base) == {4, 5}
        assert pipeline.dataset_metadata(spark, base) == {}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("resume-finished") == []

    mdir = os.path.join(base, pipeline.MANIFEST_DIR)
    victim = os.path.join(mdir, sorted(os.listdir(mdir))[0])
    with open(victim) as f:
        text = f.read()
    with open(victim, "w") as f:
        f.write(text[: len(text) // 2])
    with pytest.raises(ValueError, match=re.escape(victim)):
        pipeline.run_tiling(spark, tagged, base, base_zoom=5, min_zoom=4, resume=True)

    # a resumed stage is read back with the schema its record carries: no
    # inference job, the same schema as the committed frame
    stages = str(tmp_path / "stages")
    first = {
        "run_stage": pipeline.run_stage(spark, "z5", lambda: raster.burn_base_tiles(tagged, 5), stages),
        "run_doc_stage": pipeline.run_doc_stage(spark, "docs", lambda: tagged.select("url", "lon", "lat"), stages),
    }

    def boom():
        raise AssertionError("resume must not re-invoke the producer")

    sc.setJobGroup("resume-stages", "resume of finished stages")
    try:
        resumed = {
            "run_stage": pipeline.run_stage(spark, "z5", boom, stages, resume=True),
            "run_doc_stage": pipeline.run_doc_stage(spark, "docs", boom, stages, resume=True),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("resume-stages") == []
    for runner, df in resumed.items():
        assert df.schema == first[runner].schema, runner
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, first[runner].collect())), runner


def test_kml_superoverlay_sink(spark):
    import xml.etree.ElementTree as ET

    import numpy as np
    import pandas as pd

    from engine import raster, sinks, tiles as tmod

    df = spark.createDataFrame(
        pd.DataFrame(
            {"zoom": [3, 4], "tx": [2, 4], "ty": [5, 10],
             "data": [raster.tile_to_bytes(np.zeros((256, 256), dtype=np.int64))] * 2}
        )
    )
    rows = {r.path: r.kml for r in sinks.kml_superoverlay(df, max_zoom=4).collect()}
    assert set(rows) == {"3/2/5.kml", "4/4/10.kml"}
    ns = {"k": "http://www.opengis.net/kml/2.2"}
    root = ET.fromstring(rows["3/2/5.kml"])
    box = root.find(".//k:Region/k:LatLonAltBox", ns)
    w, s, e, n = (float(v) for v in tmod.tile_lonlat_bounds(2, 5, 3))
    assert abs(float(box.find("k:north", ns).text) - n) < 1e-9
    assert abs(float(box.find("k:west", ns).text) - w) < 1e-9
    links = root.findall(".//k:NetworkLink", ns)
    assert len(links) == 4  # z+1 <= max_zoom -> children linked
    hrefs = {l.find(".//k:href", ns).text for l in links}
    assert hrefs == {"4/4/10.kml", "4/5/10.kml", "4/4/11.kml", "4/5/11.kml"}
    # leaf at max_zoom: no child links, unbounded LOD
    leaf = ET.fromstring(rows["4/4/10.kml"])
    assert not leaf.findall(".//k:NetworkLink", ns)
    assert leaf.find(".//k:Lod/k:maxLodPixels", ns).text == "-1"


def test_run_stage_checkpoint_and_resume(spark, tmp_path):
    """Generic stage runner: a rasterize stage persists with manifest +
    lineage sidecar; a resumed run reads the parquet back WITHOUT invoking
    the producer again (mid-pipeline resume, mission brief)."""
    import pandas as pd

    from engine import geom, pipeline, raster

    rect = geom.wkb_polygon([[(-10.0, -5.0), (25.0, -5.0), (25.0, 20.0), (-10.0, 20.0)]])
    polys = spark.createDataFrame(pd.DataFrame({"pid": [0], "geom_wkb": [rect]}))
    base = str(tmp_path / "stages")

    calls = {"n": 0}

    def produce():
        calls["n"] += 1
        return raster.rasterize_polygons(polys, zoom=3)

    out1 = pipeline.run_stage(spark, "rasterize_rect", produce, base)
    n1 = out1.count()
    assert calls["n"] == 1 and n1 > 0
    # manifest + per-partition lineage sidecar exist
    m = pipeline.read_manifest(spark, base)
    rec = [r for r in m.collect() if r.stage == "rasterize_rect"]
    assert len(rec) == 1 and rec[0].n_tiles == n1
    lin = spark.read.parquet(f"{base}/_lineage/stage=rasterize_rect")
    assert lin.count() >= 1

    def boom():
        raise AssertionError("resume must not re-invoke the producer")

    out2 = pipeline.run_stage(spark, "rasterize_rect", boom, base, resume=True)
    assert out2.count() == n1
    got1 = {(r.tx, r.ty): bytes(r.data) for r in out1.collect()}
    got2 = {(r.tx, r.ty): bytes(r.data) for r in out2.collect()}
    assert got1 == got2


def test_rerun_leaves_one_record_per_key(spark, geo_points, tmp_path):
    """A re-run retracts the earlier records of its own level or stage,
    matched on the parsed record (stage ``tile`` is a filename prefix of
    ``tile_assign``), and never an ``_edit`` record."""
    from engine import pipeline

    tagged, _ = geo_points
    base = str(tmp_path / "out")
    docs = tagged.select("url", "lon", "lat")
    for _ in range(2):
        pipeline.run_tiling(spark, tagged, base, base_zoom=5, min_zoom=4)
        for stage in ("tile_assign", "tile"):
            pipeline.run_doc_stage(spark, stage, lambda: docs, base)
        pipeline.edit_metadata(spark, base, srs="EPSG:3857")
    keys = sorted(str(r.get("zoom", r["stage"])) for r in pipeline._manifest_records(base))
    assert keys == ["4", "5", "_edit", "_edit", "tile", "tile_assign"]


def _manifest_records(base: str) -> dict:
    """Manifest records keyed by zoom (levels) or stage name, as written."""
    import json

    from engine import pipeline

    mdir = os.path.join(base, pipeline.MANIFEST_DIR)
    recs = [json.loads(open(os.path.join(mdir, f)).read()) for f in os.listdir(mdir)]
    return {r.get("zoom", r["stage"]): r for r in recs}


def _tile_commit_oracle(persisted):
    """A persisted tile table's manifest metrics and lineage rows by separate
    passes: a whole-table ``tile_checksums`` aggregate, then a per-file one
    (keyed by the ``part-NNNNN`` number of the file each tile was read from)
    with the xor folded over a collected list."""
    from pyspark.sql import functions as F

    xor_fold = F.expr("aggregate(collect_list(checksum), 0, (a, x) -> int(a ^ x))")
    part = F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int")
    cks = raster.tile_checksums(persisted).join(persisted.select("tx", "ty", part.alias("part_id")), ["tx", "ty"])
    stats = cks.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.min("tx").alias("min_tx"),
        F.max("tx").alias("max_tx"),
        F.min("ty").alias("min_ty"),
        F.max("ty").alias("max_ty"),
        F.sum("page_count").alias("total_count"),
        xor_fold.alias("ck_xor"),
    ).collect()[0].asDict()
    lineage = (
        cks.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("page_count").alias("page_count"),
            xor_fold.alias("ck_xor"),
        )
    )
    rows = sorted(tuple(r) for r in lineage.collect())
    stats["n_partitions"] = len(rows)
    return stats, [(f.name, f.dataType) for f in lineage.schema], rows


@pytest.mark.parametrize("empty", [False, True], ids=["points", "no_points"])
def test_tile_commit_matches_separate_passes(spark, geo_points, tmp_path, empty):
    """run_tiling and run_stage take every manifest field and lineage row
    from the data write's own pass; each must equal what separate passes
    over the persisted table give, for an empty producer too."""
    from pyspark.sql import functions as F

    from engine import pipeline

    tagged = geo_points[0].limit(0) if empty else geo_points[0]
    tiling, stages = str(tmp_path / "tiling"), str(tmp_path / "stages")
    pipeline.run_tiling(spark, tagged, tiling, base_zoom=5, min_zoom=4)
    persisted = pipeline.run_stage(spark, "z5", lambda: raster.burn_base_tiles(tagged, 5), stages)
    assert persisted.schema == spark.read.parquet(f"{stages}/stage=z5").schema

    levels, named = _manifest_records(tiling), _manifest_records(stages)
    assert levels[5]["in_rows"] == tagged.count()
    assert levels[4]["in_rows"] == levels[5]["out_rows"]
    cases = [
        (levels[z], spark.read.parquet(f"{tiling}/zoom={z}").withColumn("zoom", F.lit(z)), f"{tiling}/_lineage/zoom={z}")
        for z in (5, 4)
    ]
    cases.append((named["z5"], spark.read.parquet(f"{stages}/stage=z5"), f"{stages}/_lineage/stage=z5"))
    for rec, table, lineage_path in cases:
        stats, schema, rows = _tile_commit_oracle(table)
        assert {k: rec[k] for k in stats} == stats
        got = spark.read.parquet(lineage_path)
        assert [(f.name, f.dataType) for f in got.schema] == schema
        assert sorted(tuple(r) for r in got.collect()) == rows
        if empty:
            assert stats == {
                "n_tiles": 0, "min_tx": None, "max_tx": None, "min_ty": None, "max_ty": None,
                "total_count": None, "ck_xor": 0, "n_partitions": 0,
            }


def test_pyramid_delta_update_matches_full_recompute(spark):
    """Incremental pyramid maintenance: burning only the NEW points and
    updating ancestor tiles must equal a full recompute bit-for-bit, while
    recomputing only the delta's ancestor keys."""
    import numpy as np
    import pandas as pd

    from engine import raster
    from engine.fixtures import make_gazetteer, make_pages
    from engine.geotag import geotag_first

    gaz = make_gazetteer(n=150)
    old = spark.createDataFrame(make_pages(n=1200, gazetteer=gaz, seed=21))
    new = spark.createDataFrame(make_pages(n=300, gazetteer=gaz, seed=22))
    gdf = spark.createDataFrame(gaz)
    p_old = geotag_first(old, gdf)
    p_new = geotag_first(new, gdf)
    bz, mz = 5, 3

    def full_levels(points):
        lv = {bz: raster.burn_base_tiles(points, bz)}
        for z in range(bz, mz, -1):
            lv[z - 1] = raster.pyramid_reduce(lv[z])
        return lv

    existing = {z: df.cache() for z, df in full_levels(p_old).items()}
    for df in existing.values():
        df.count()
    expect = full_levels(p_old.unionByName(p_new))

    delta = raster.burn_base_tiles(p_new, bz)
    got, changed = raster.pyramid_delta_update(existing, delta)

    for z in range(mz, bz + 1):
        a = {
            (r.tx, r.ty): r.checksum
            for r in raster.tile_checksums(expect[z]).collect()
        }
        b = {
            (r.tx, r.ty): r.checksum
            for r in raster.tile_checksums(got[z]).collect()
        }
        assert a == b, f"zoom {z}"

    # partial-recompute property: changed keys are EXACTLY the delta's
    # ancestors, and (on this fixture) fewer than the full level
    delta_keys = {(r.tx, r.ty) for r in delta.select("tx", "ty").collect()}
    anc = delta_keys
    for z in range(bz - 1, mz - 1, -1):
        anc = {(tx // 2, ty // 2) for tx, ty in anc}
        ch = {(r.tx, r.ty) for r in changed[z].collect()}
        assert ch == anc, f"zoom {z}"
    full_n = expect[bz].count()
    assert len(delta_keys) < full_n  # the fixture actually exercises reuse


def test_png_tiles_sink(spark):
    """gdal2tiles' tile-render step: the z/x/y.png images the superoverlay
    hrefs point at.  Grayscale clamp + nodata alpha; ramp mode must equal
    the gdaldem color_relief interpolation channel-for-channel."""
    import numpy as np

    from engine import png, sinks
    from engine.focal import color_relief
    from engine.raster import TILE_SCHEMA, bytes_to_tile, tile_to_bytes

    rng = np.random.default_rng(6)
    g = rng.integers(0, 300, (256, 256)).astype(np.int32)
    g[:10, :10] = 0
    df = spark.createDataFrame([(5, 3, 9, tile_to_bytes(g))], TILE_SCHEMA)

    rows = sinks.png_tiles(df).collect()
    assert rows[0].path == "5/3/9.png"
    img = png.decode_png(bytes(rows[0].png))
    assert img.shape == (256, 256, 4)
    assert (img[:10, :10, 3] == 0).all()                     # nodata alpha
    assert (img[:, :, 0] == np.minimum(g, 255).astype(np.uint8)).all()

    ramp = [(0, 0, 0, 255), (150, 0, 255, 0), (300, 255, 0, 0)]
    img2 = png.decode_png(bytes(sinks.png_tiles(df, ramp=ramp).collect()[0].png))
    packed = bytes_to_tile(bytes(color_relief(df, ramp).collect()[0].data))
    assert (img2[:, :, 0] == ((packed >> 16) & 255)).all()
    assert (img2[:, :, 1] == ((packed >> 8) & 255)).all()
    assert (img2[:, :, 2] == (packed & 255)).all()
    assert (img2[:10, :10, 3] == 0).all()


def test_write_tile_directory_and_jpeg_format(tmp_path, spark):
    """End-to-end gdal2tiles output: PNG + KML trees on disk, plus the
    --tile-format jpeg variant decoded back by the engine's own codec."""
    import os

    import numpy as np

    from engine import jpeg, sinks
    from engine.raster import TILE_SCHEMA, tile_to_bytes

    x = np.linspace(0, 4 * np.pi, 256)
    g = (60 + 50 * np.sin(x)[None, :] * np.cos(x)[:, None]).astype(np.int32)
    df = spark.createDataFrame(
        [(5, 3, 9, tile_to_bytes(g)), (5, 4, 9, tile_to_bytes(g))], TILE_SCHEMA)

    root = str(tmp_path / "tiles")
    n = sinks.write_tile_directory(sinks.png_tiles(df), root)
    n += sinks.write_tile_directory(sinks.kml_superoverlay(df), root)
    assert n == 4
    assert os.path.exists(os.path.join(root, "5/3/9.png"))
    assert os.path.exists(os.path.join(root, "5/4/9.kml"))

    rows = sinks.png_tiles(df, tile_format="jpeg").collect()
    assert rows[0].path.endswith(".jpg")
    img = jpeg.decode_jpeg(bytes(rows[0].png))
    assert img.shape == (256, 256, 3)
    assert np.abs(img[:, :, 0].astype(int) - np.minimum(g, 255)).max() <= 12


def test_burn_base_tiles_pip_fused_identity(spark):
    """Fused PIP→pixel→partial-count operator == composed
    pip_join_broadcast ∘ burn_base_tiles, including overlap multiplicity
    (a point inside two polygons burns twice) and dropped non-matches."""
    import pandas as pd

    from engine import joins
    from engine.geom import wkb_polygon

    # two OVERLAPPING squares + one far square; points in the overlap, in one,
    # and outside everything
    polys = pd.DataFrame(
        {
            "polygon_id": [1, 2, 3],
            "geom_wkb": [
                wkb_polygon([[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]]),
                wkb_polygon([[(5, 5), (15, 5), (15, 15), (5, 15), (5, 5)]]),
                wkb_polygon([[(100, 40), (110, 40), (110, 50), (100, 50), (100, 40)]]),
            ],
        }
    )
    rng = np.random.default_rng(7)
    lon = np.concatenate(
        [rng.uniform(0, 15, 400), rng.uniform(100, 110, 100), rng.uniform(-170, -160, 50)]
    )
    lat = np.concatenate(
        [rng.uniform(0, 15, 400), rng.uniform(40, 50, 100), rng.uniform(-50, -40, 50)]
    )
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))

    for zoom in (3, 6):
        fused = {
            (r.tx, r.ty): raster.bytes_to_tile(r.data)
            for r in raster.burn_base_tiles_pip(pts, polys, zoom).collect()
        }
        composed = {
            (r.tx, r.ty): raster.bytes_to_tile(r.data)
            for r in raster.burn_base_tiles(
                joins.pip_join_broadcast(pts, polys, keep_cols=()), zoom
            ).collect()
        }
        assert set(fused) == set(composed)
        for key in composed:
            assert np.array_equal(fused[key], composed[key]), f"z{zoom} tile {key}"
        # overlap multiplicity really occurred: burns exceed the distinct
        # matched points (deterministic seed 7: 435 burns vs ~390 matches —
        # union of the two squares covers 175/225 of the sample box and the
        # 25-unit² overlap double-counts)
        total = sum(g.sum() for g in fused.values())
        assert total == 435


def test_burn_base_tiles_pip_empty(spark):
    import pandas as pd

    from engine.geom import wkb_polygon

    polys = pd.DataFrame(
        {"polygon_id": [1], "geom_wkb": [wkb_polygon([[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]])]}
    )
    pts = spark.createDataFrame(pd.DataFrame({"lon": [50.0], "lat": [50.0]}))
    assert raster.burn_base_tiles_pip(pts.limit(0), polys, 5).count() == 0
    # no matches at all → empty tile table, not an error
    assert raster.burn_base_tiles_pip(pts, polys, 5).count() == 0


def test_density_burns_drop_non_finite_points(spark):
    """A NaN, infinite or null coordinate burns nowhere: both density burns
    over finite plus non-finite points equal the burns over the finite
    points alone (a NaN's tile used to pack into tile (0, ty)'s key)."""
    import pandas as pd

    from engine.geom import wkb_polygon

    nan, inf = float("nan"), float("inf")
    assert raster._density_batch(np.array([nan, inf, -inf, 10.0]), np.array([0.0, 0.0, 0.0, nan]), 3).num_rows == 0
    finite = [(10.0, 5.0), (10.5, 5.2), (-70.0, 40.0), (151.2, -33.9)]
    bad = [(nan, 0.0), (inf, 0.0), (-inf, 0.0), (10.0, nan), (10.0, -inf), (None, 5.0), (10.0, None)]
    world = wkb_polygon([[(-180, -85), (180, -85), (180, 85), (-180, 85), (-180, -85)]])
    polys = pd.DataFrame({"polygon_id": [1], "geom_wkb": [world]})
    clean = spark.createDataFrame(finite, "lon double, lat double")
    dirty = spark.createDataFrame(bad[:4] + finite + bad[4:], "lon double, lat double")

    def tiles(df):
        return sorted((r.tx, r.ty, bytes(r.data)) for r in df.collect())

    for zoom in (3, 6):
        assert tiles(raster.burn_base_tiles(dirty, zoom)) == tiles(raster.burn_base_tiles(clean, zoom))
        pip = [tiles(raster.burn_base_tiles_pip(df, polys, zoom)) for df in (dirty, clean)]
        assert pip[0] == pip[1] == tiles(raster.burn_base_tiles(clean, zoom))


def test_encoders_and_composed_burns_null_non_finite_points(spark):
    """with_tile, with_cell and with_pixel give a point with a NaN,
    infinite or null coordinate null columns (they used to write tile
    −2^63) and encode the finite points of the same batch as alone;
    burn_base_tiles above zoom 20 and burn_points drop such a point."""
    from engine import joins, tiles

    nan, inf = float("nan"), float("inf")
    finite = [(10.0, 5.0), (10.5, 5.2), (-70.0, 40.0), (151.2, -33.9)]
    bad = [(nan, 0.0), (inf, 0.0), (-inf, 0.0), (10.0, nan), (10.0, -inf), (None, 5.0), (10.0, None)]
    rows = [(i, i + 1, *p) for i, p in enumerate(bad[:4] + finite + bad[4:])]
    dirty = spark.createDataFrame(rows, "id long, v long, lon double, lat double")
    clean = dirty.where("id between 4 and 7")
    lon, lat = (np.array([p[k] for p in finite]) for k in (0, 1))

    def by_id(df, cols):
        got = {r.id: tuple(r[c] for c in cols) for r in df.collect()}
        assert all(v == (None,) * len(cols) for i, v in got.items() if not 4 <= i <= 7), got
        return [got[i] for i in range(4, 8)]

    tx, ty = tiles.lonlat_to_tile(lon, lat, 8)
    want = list(zip(tx.tolist(), ty.tolist(), tiles.quadkey(tx, ty, 8).tolist()))
    assert by_id(joins.with_tile(dirty, 8), ["tx", "ty", "quadkey"]) == want
    assert by_id(joins.with_cell(dirty, 8), ["cell"]) == [(int(x) * 2**9 + int(y),) for x, y in zip(tx, ty)]
    want = list(zip(*(a.tolist() for a in raster._pixels(lon, lat, 21))))
    assert by_id(raster.with_pixel(dirty, 21), ["tx", "ty", "ix", "iy"]) == want

    def tiles_of(df):
        return sorted((r.tx, r.ty, bytes(r.data)) for r in df.collect())

    assert tiles_of(raster.burn_base_tiles(dirty, 21)) == tiles_of(raster.burn_base_tiles(clean, 21))
    for alg in ("add", "replace"):
        burn = [tiles_of(raster.burn_points(df, 6, "v", alg, "id")) for df in (dirty, clean)]
        assert burn[0] == burn[1] and burn[0], alg


def test_burn_base_tiles_fused_partial_identity(spark):
    """The below-boundary partial-count plan in burn_base_tiles must be
    bit-identical to the composed with_pixel → JVM count() plan it
    replaced, including edge clamping and the top-origin row flip."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame(
        {
            "lon": np.concatenate([rng.uniform(-180, 180, 30000), [-180.0, 180.0, 0.0]]),
            "lat": np.concatenate([rng.uniform(-85, 85, 30000), [-85.0, 85.0, 0.0]]),
        }
    )
    pts = spark.createDataFrame(pdf)
    for zoom in (2, 7):
        fused = raster.burn_base_tiles(pts, zoom).select("tx", "ty", F.col("data").alias("fused"))
        composed_counts = (
            raster.with_pixel(pts.select("lon", "lat"), zoom)
            .groupBy("tx", "ty", "ix", "iy")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        composed = raster._assemble_density(composed_counts, zoom).select(
            "tx", "ty", F.col("data").alias("composed")
        )
        # compared inside Spark, byte for byte: at zoom 7 each side is ~12k
        # 256 KB tiles, too much to collect twice into the driver
        same = F.col("fused").eqNullSafe(F.col("composed"))
        missing = [F.col(c).isNull().alias(f"no_{c}") for c in ("fused", "composed")]
        row = (
            fused.join(composed, ["tx", "ty"], "full_outer")
            .agg(
                F.count(F.lit(1)).alias("n_tiles"),
                F.collect_list(F.when(~same, F.struct("tx", "ty", *missing))).alias("mismatched"),
            )
            .collect()[0]
        )
        assert row.n_tiles > 0
        assert not row.mismatched, f"z{zoom} tiles differ: {row.mismatched[:20]}"


def test_burn_base_tiles_above_zoom_20_matches_composed_count(spark):
    """Above zoom 20 (the packed key no longer fits) burn_base_tiles runs
    with_pixel → per-pixel count → tile assembly; its tiles equal that
    composed plan's and the single-process oracle's, repeated points
    counting once each."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(29)
    lon, lat = rng.uniform(-170, 170, 30), rng.uniform(-80, 80, 30)
    lon, lat = np.concatenate([lon, lon[:5], [0.0]]), np.concatenate([lat, lat[:5], [0.0]])
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    zoom = 21
    burned = {(r.tx, r.ty): bytes(r.data) for r in raster.burn_base_tiles(pts, zoom).collect()}
    counts = raster.with_pixel(pts, zoom).groupBy("tx", "ty", "ix", "iy").agg(F.count(F.lit(1)).alias("cnt"))
    composed = {(r.tx, r.ty): bytes(r.data) for r in raster._assemble_density(counts, zoom).collect()}
    assert burned == composed
    expect = burn_tiles_oracle(list(zip(lon, lat)), zoom)
    assert set(burned) == set(expect) and sum(raster.bytes_to_tile(b).sum() for b in burned.values()) == lon.size
    for key, grid in expect.items():
        assert np.array_equal(raster.bytes_to_tile(burned[key]), np.array(grid)), key


def test_burn_points_keeps_tiles_whose_burns_sum_to_zero(spark):
    """burn_points keeps every tile it assembles: burns of +3 and -3 on one
    pixel (add) and a single burn of 0 (add and replace) leave all-zero
    tiles in the table."""
    import pandas as pd

    from engine import tiles

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3], "lon": [10.0, 10.0, -60.0], "lat": [20.0, 20.0, -30.0], "v": [3, -3, 0]})
    )
    zoom = 4
    (tx, tx0), (ty, ty0) = tiles.lonlat_to_tile(np.array([10.0, -60.0]), np.array([20.0, -30.0]), zoom)
    add = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in raster.burn_points(pts, zoom, value_col="v").collect()}
    assert set(add) == {(tx, ty), (tx0, ty0)} and not any(g.any() for g in add.values())
    rep = raster.burn_points(pts, zoom, value_col="v", merge_alg="replace", id_col="pid").collect()
    rep = {(r.tx, r.ty): raster.bytes_to_tile(r.data) for r in rep}
    assert set(rep) == set(add) and not rep[(tx0, ty0)].any() and rep[(tx, ty)].sum() == -3
