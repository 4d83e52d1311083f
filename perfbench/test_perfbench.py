"""Tests of the benchmark's own parts: metric parsing, the numpy
references (against the engine's formulas), the stored pages table, the
summary and the sidecar comparison.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import reference  # noqa: E402
import sparkstats  # noqa: E402
import summary  # noqa: E402


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, 0.2 MiB, 1.0 MiB (stage 3.0: task 7))", 1.5 * 2**20),
    ("total (min, med, max (stageId: taskId))\n340 ms (10 ms, 20 ms, 300 ms (stage 1.0: task 2))", 0.34),
    ("total (min, med, max (stageId: taskId))\n11.5 s (2.0 s, 3.0 s, 4.0 s (stage 1.0: task 1))", 11.5),
    ("1,234,567", 1234567.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_interval_union_merges_overlaps_and_clips():
    assert summary._interval_union([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert summary._interval_union([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4.0)


def test_mercator_reference_matches_engine_bit_for_bit():
    from engine import tiles

    rng = np.random.default_rng(3)
    lon = np.concatenate([rng.uniform(-180, 180, 5000), [-180.0, 0.0, 45.0, 179.9999999]])
    lat = np.concatenate([rng.uniform(-85.05, 85.05, 5000), [0.0, 85.05112877980659, 45.0, -85.05112877980659]])
    for z in (3, 8):
        px, py = reference.mercator_pixels(lon, lat, z)
        epx, epy = tiles.lonlat_to_pixels(lon, lat, z)
        assert np.array_equal(px, epx) and np.array_equal(py, epy)
        assert all(np.array_equal(a, b) for a, b in zip(reference.pixel_tile(px, py), tiles.pixels_to_tile(px, py)))


def test_tile_checksum_matches_gdal_checksum():
    from engine import raster

    grid = np.random.default_rng(5).integers(0, 1000, (256, 256)).astype("<i4")
    assert reference.tile_checksum(grid.tobytes()) == raster.gdal_checksum(grid)


def test_pyramid_reference_matches_dense_reduction():
    """The sparse reference equals a dense 2x2 AVERAGE over a full world
    raster at a small zoom."""
    rng = np.random.default_rng(7)
    lon, lat = rng.uniform(-180, 180, 3000), rng.uniform(-80, 80, 3000)
    weight = reference.grid_multiplicity(lon, lat)
    z = 2
    px, py = reference.mercator_pixels(lon, lat, z)
    size = 256 * 2**z
    world = np.zeros((size, size), dtype=np.int64)  # row 0 = north
    np.add.at(world, (size - 1 - np.floor(py).astype(int), np.floor(px).astype(int)), weight)
    got = reference.pyramid_checksums(lon, lat, weight, z, 2)
    for level in range(z, z - 3, -1):
        n = 2**level
        for (tx, ty), ck in got[level].items():
            tile = world[(n - 1 - ty) * 256:(n - ty) * 256, tx * 256:(tx + 1) * 256]
            assert ck == reference.tile_checksum(tile.astype("<i4").tobytes())
        world = (world[0::2, 0::2] + world[0::2, 1::2] + world[1::2, 0::2] + world[1::2, 1::2] + 2) // 4


def test_grid_multiplicity_counts_shared_edges():
    lon = np.array([0.0, -180.0, 45.0, 5.0, -90.0])
    lat = np.array([0.0, 0.0, 45.0, 5.0, 66.51326044311186])
    assert reference.grid_multiplicity(lon, lat).tolist() == [4, 2, 1, 1, 2]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from engine.session import get_spark

    tmp = str(tmp_path_factory.mktemp("spark"))
    session = get_spark("perfbench-tests", master="local[2]", extra_conf={
        "spark.local.dir": tmp, "spark.ui.showConsoleProgress": "false",
    })
    yield session
    session.stop()


def test_stored_pages_round_trip_and_extract_byte_identical(spark, tmp_path):
    import workloads
    from engine import fixtures

    gaz = fixtures.make_gazetteer(n=200)
    pages = fixtures.make_pages(300, gazetteer=gaz, seed=11)
    path = str(tmp_path / "pages")
    workloads.write_parquet(pages, path, n_files=3)
    stored = spark.read.parquet(path)
    assert [(f.name, f.dataType.typeName()) for f in stored.schema.fields] == workloads.PAGES_SCHEMA
    back = stored.toPandas().sort_values("url").reset_index(drop=True)
    want = pages.sort_values("url").reset_index(drop=True)
    for col in ("url", "text", "lang"):
        assert back[col].tolist() == want[col].tolist()
    assert [bytes(b) for b in back["html"]] == want["html"].tolist()
    # toPandas gives naive timestamps in the session time zone (UTC)
    assert (back["warc_ts"].dt.tz_localize("UTC") == want["warc_ts"]).all()

    wl = workloads.PagesE2E(seed=11, workdir=str(tmp_path))
    wl.pages_dir = path
    assert wl.check_inputs(spark) == []


def _sidecar(job_walls, jobs_per_call=3, cpu_model="cpu-a"):
    """A minimal traced sidecar with one Spark layer call."""
    t = 1000.0
    spans = [
        {"id": 0, "layer": "traced_job", "parent": None, "tag": None, "start_s": t, "end_s": t + 2.0},
        {"id": 1, "layer": "pipeline.run_stage", "parent": 0, "tag": "perfbench-1", "start_s": t, "end_s": t + 1.95},
    ]
    jobs = [{"job_id": i, "submit_s": t + 0.5 * i, "complete_s": t + 0.5 * i + 0.4, "status": "SUCCEEDED",
             "stage_ids": [i], "tasks_failed": 0} for i in range(jobs_per_call)]
    stages = [{"stage_id": i, "attempt": 0, "submit_s": t, "num_tasks": 4, "tasks_failed": 0,
               "executor_run_s": 1.0, "executor_cpu_s": 0.5, "jvm_gc_s": 0.0, "input_bytes": 0,
               "output_bytes": 100, "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
               "shuffle_write_records": 1, "task_s": [0.2, 0.2, 0.3, 0.25]} for i in range(jobs_per_call)]
    return {
        "workload": "pages_e2e", "seed": 1, "trace": {
            "spans": spans, "stats": {"perfbench-1": {"jobs": jobs, "stages": stages, "sql": []}},
            "probes": {}, "result": {},
        },
        "host": {"nproc": 4, "cores": 4, "mem_gb": 15.7, "cpu_model": cpu_model, "spark": "4.1.2"},
        "rows": 100, "gen_s": 0.1,
        "setups": [{"session_s": 5.0, "load_s": 1.0, "total_s": 6.0, "cpu_s": 8.0}] * 3,
        "first_job": {"k": 0, "wall_s": 3.0, "cpu_s": 9.0, "ok": True, "errors": []},
        "jobs": [{"k": i + 1, "wall_s": w, "cpu_s": 3 * w, "host_cpu_s": {"busy": 3 * w, "idle": w, "steal": 0.1},
                  "ok": True, "errors": []} for i, w in enumerate(job_walls)],
        "check_failures": [], "rss_samples": [[t, 100.0], [t + 1, 120.0], [t + 2, 121.0], [t + 3, 300.0], [t + 4, 110.0]],
    }


def test_summary_reproduces_layer_columns_and_self_checks():
    side = _sidecar([1.9, 2.1])
    res = summary.result(side)
    m = res["metrics"]
    assert res["correct"] and res["attempted"] == 3 and res["failed"] == 0
    assert set(m) == set(summary.PER_LAYER)
    assert m["pipeline.run_stage.jobs"]["value"] == 3
    assert m["pipeline.run_stage.executor_cpu_s"]["value"] == pytest.approx(1.5)
    assert m["pipeline.run_stage.driver_s"]["value"] == pytest.approx(1.95 - 1.2)
    assert m["trace.overhead_s"]["value"] == pytest.approx(2.0 - 2.0)
    assert m["trace.coverage"]["value"] == pytest.approx(0.975)

    untraced = dict(side, trace=None)
    e2e = summary.result(untraced)["metrics"]
    assert set(e2e) == set(summary.END_TO_END)
    assert e2e["job_cpu_s"]["value"] == pytest.approx(6.0)
    assert e2e["rows_per_cpu_s"]["value"] == pytest.approx(100 / 6.0)
    assert e2e["first_job_cpu_s"]["value"] == 9.0
    assert e2e["peak_rss_mb"]["value"] == 121.0  # the one-sample spike to 300 is ignored
    assert e2e["setup_s"]["value"] == 8.0
    wall = summary.report(untraced)
    assert wall["job_s"]["value"] == pytest.approx(2.0)
    assert wall["rows_per_s"]["value"] == pytest.approx(100 / 2.0)


def test_self_check_flags_cpu_over_cores_times_wall():
    side = _sidecar([2.0, 2.0])
    for s in side["trace"]["stats"]["perfbench-1"]["stages"]:
        s["executor_cpu_s"] = 10.0
    assert not summary.result(side)["correct"]


def test_compare_separates_count_changes_and_refuses_other_hosts():
    a = [_sidecar([2.0, 2.1]), _sidecar([2.05, 2.0])]
    b = [_sidecar([2.0, 2.2], jobs_per_call=2), _sidecar([2.1, 2.0], jobs_per_call=2)]
    lines = compare.compare(a, b)
    assert [line for line in lines if "run_stage.jobs" in line] == ["  pipeline.run_stage.jobs: 3 -> 2"]
    other = copy.deepcopy(b)
    other[0]["host"]["cpu_model"] = "cpu-b"
    with pytest.raises(ValueError):
        compare.compare(a, other)
