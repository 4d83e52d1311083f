"""The benchmark's workloads: inputs from a seed, the timed job, the traced
job, and the output checks.

Each workload is a class with the same life cycle, driven by ``run.py``:

* ``generate()`` builds the pandas inputs from the seed (plus any stored
  files) and the numpy reference of the expected output;
* ``load(spark)`` makes the session-bound inputs (cached DataFrames);
* ``job(spark, k)`` is one timed job; it returns a handle for ``check``;
* ``check(spark, handle)`` compares one job's output with the reference
  and returns a list of failure messages (empty = correct);
* ``check_inputs(spark)`` checks the stored inputs the same way;
* ``traced_job(spark, tracer)`` runs the same job with every layer's
  output forced and persisted in turn, each call in its own span/job tag;
* ``probes(spark, tracer)`` runs the traced-run-only measurements that are
  not part of the job (other plan, single-process kernel, plan census).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from engine import algebra, extract, fixtures, geom, geotag, joins, pipeline, raster

import reference
import sparkstats
from summary import ALGEBRA_OPS

PAGES_SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"), ("text", "string"), ("lang", "string")]


def _force(df):
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _forced(df):
    """Persist ``df`` and materialize it, so the next layer reads the
    cached output instead of recomputing this one."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _force(df)
    return df


def grid_polygons() -> pd.DataFrame:
    """The 648-cell 10-degree world grid (36 x 18 closed rectangles)."""
    rows = []
    for r in range(18):
        for c in range(36):
            x0, y0 = -180.0 + c * 10.0, -90.0 + r * 10.0
            ring = [(x0, y0), (x0 + 10, y0), (x0 + 10, y0 + 10), (x0, y0 + 10)]
            rows.append((r * 36 + c, geom.wkb_polygon([ring])))
    pdf = pd.DataFrame(rows, columns=["polygon_id", "geom_wkb"])
    pdf["polygon_id"] = pdf["polygon_id"].astype("int32")
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Store ``pdf`` as ``n_files`` parquet files (one scan task each) with
    microsecond timestamps: Spark rejects parquet TIMESTAMP(NANOS), which
    is what pandas' datetime64[ns] columns become by default."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def kernel_throughput(pid_wkb: list, lon: np.ndarray, lat: np.ndarray, min_s: float = 0.5) -> dict:
    """Single-process ``geom.VectorPIPIndex``: build once, then query the
    same points until ``min_s`` has passed; → build_s, query Mpts/s."""
    t0 = time.perf_counter()
    index = geom.VectorPIPIndex(pid_wkb)
    build_s = time.perf_counter() - t0
    n, t1 = 0, time.perf_counter()
    while True:
        index.query(lon, lat)
        n += len(lon)
        elapsed = time.perf_counter() - t1
        if elapsed >= min_s:
            break
    return {"build_s": build_s, "points": n, "query_s": elapsed}


class PagesE2E:
    """Stored pages → extract → geotag → z8 tile assignment (persisted via
    ``pipeline.run_doc_stage``) → fused PIP density burn against the 10°
    grid at z3 → AVERAGE pyramid level(s), each level through
    ``pipeline.run_stage`` (manifest + lineage).

    Sized so a whole run fits the benchmark's time budget on a shared
    4-core host: every ``run_stage`` level costs about nine Spark jobs
    whatever the data size, so the base zoom and level count, not the page
    count, set the job's wall time."""

    name = "pages_e2e"
    spark_conf: dict = {}
    n_pages = 5_000
    n_files = 8
    assign_zoom = 8
    base_zoom = 3
    levels = 1

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.pages_dir = os.path.join(workdir, "pages")
        self.rows = self.n_pages

    def generate(self) -> None:
        self.gaz = fixtures.make_gazetteer(seed=self.seed)
        self.pages = fixtures.make_pages(self.n_pages, gazetteer=self.gaz, seed=self.seed)
        write_parquet(self.pages, self.pages_dir, self.n_files)
        self.grid = grid_polygons()
        tagged = reference.geotag_first(self.pages, self.gaz)
        lon, lat = tagged["lon"].to_numpy(), tagged["lat"].to_numpy()
        tx, ty = reference.pixel_tile(*reference.mercator_pixels(lon, lat, self.assign_zoom))
        self.ref_assign = reference.assignment_checksum(tagged["url"], tx, ty)
        self.ref_tiles = reference.pyramid_checksums(
            lon, lat, reference.grid_multiplicity(lon, lat), self.base_zoom, self.levels
        )
        self.tagged_lonlat = (lon, lat)

    def load(self, spark) -> None:
        self.gaz_df = spark.createDataFrame(self.gaz).persist()
        self.gaz_df.count()

    def _zooms(self):
        return range(self.base_zoom - 1, self.base_zoom - 1 - self.levels, -1)

    def job(self, spark, k: int) -> str:
        base = os.path.join(self.workdir, "out", str(k))
        pages = spark.read.parquet(self.pages_dir)
        text = extract.with_extracted_text(pages).select(
            "url", "warc_ts", "lang", F.col("text_extracted").alias("text")
        )
        tiled = joins.with_tile(geotag.geotag_first(text, self.gaz_df), self.assign_zoom)
        assign = pipeline.run_doc_stage(spark, "tile_assign", lambda: tiled, base)
        level = pipeline.run_stage(
            spark, f"z{self.base_zoom}",
            lambda: raster.burn_base_tiles_pip(assign, self.grid, self.base_zoom), base,
        )
        for z in self._zooms():
            level = pipeline.run_stage(spark, f"z{z}", lambda lvl=level: raster.pyramid_reduce(lvl), base)
        return base

    def traced_job(self, spark, tracer) -> str:
        base = os.path.join(self.workdir, "out", "traced")
        cached = []
        with tracer.span("spark.read.parquet"):
            pages = _forced(spark.read.parquet(self.pages_dir))
        cached.append(pages)
        with tracer.span("extract.with_extracted_text"):
            text = _forced(extract.with_extracted_text(pages).select(
                "url", "warc_ts", "lang", F.col("text_extracted").alias("text")
            ))
        cached.append(text)
        with tracer.span("geotag.geotag_first"):
            tagged = _forced(geotag.geotag_first(text, self.gaz_df))
        cached.append(tagged)
        with tracer.span("joins.with_tile"):
            tiled = _forced(joins.with_tile(tagged, self.assign_zoom))
        cached.append(tiled)
        with tracer.span("pipeline.run_doc_stage"):
            assign = pipeline.run_doc_stage(spark, "tile_assign", lambda: tiled, base)
        with tracer.span("raster.burn_base_tiles_pip"):
            burned = _forced(raster.burn_base_tiles_pip(assign, self.grid, self.base_zoom))
        cached.append(burned)
        with tracer.span("pipeline.run_stage"):
            level = pipeline.run_stage(spark, f"z{self.base_zoom}", lambda: burned, base)
        for z in self._zooms():
            with tracer.span("raster.pyramid_reduce"):
                reduced = _forced(raster.pyramid_reduce(level))
            cached.append(reduced)
            with tracer.span("pipeline.run_stage"):
                level = pipeline.run_stage(spark, f"z{z}", lambda r=reduced: r, base)
        for df in cached:
            df.unpersist()
        return base

    def check(self, spark, base: str) -> list:
        failures = []
        assign = spark.read.parquet(os.path.join(base, "stage=tile_assign"))
        crc = F.crc32(F.col("url").cast("binary")) % reference.CRC_MOD
        got = assign.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("tx").alias("sum_tx"),
            F.sum("ty").alias("sum_ty"),
            F.sum(crc * (F.col("tx") * reference.TILE + F.col("ty") + 1)).alias("crc_tile"),
        ).collect()[0].asDict()
        got = {k: int(v or 0) for k, v in got.items()}
        if got != self.ref_assign:
            failures.append(f"tile assignment {got} != reference {self.ref_assign}")
        for z in [self.base_zoom, *self._zooms()]:
            rows = spark.read.parquet(os.path.join(base, f"stage=z{z}")).select("tx", "ty", "data").collect()
            got_z = {(int(r.tx), int(r.ty)): reference.tile_checksum(r.data) for r in rows}
            if got_z != self.ref_tiles[z]:
                bad = sorted(set(got_z.items()) ^ set(self.ref_tiles[z].items()))[:4]
                failures.append(f"z{z} tile checksums differ ({len(got_z)} vs {len(self.ref_tiles[z])} tiles), e.g. {bad}")
        shutil.rmtree(base, ignore_errors=True)
        return failures

    def check_inputs(self, spark) -> list:
        """The stored table keeps the pages schema and html → text
        extraction reproduces every stored text byte for byte."""
        pages = spark.read.parquet(self.pages_dir)
        schema = [(f.name, f.dataType.typeName()) for f in pages.schema.fields]
        failures = [] if schema == PAGES_SCHEMA else [f"stored pages schema {schema}"]
        diff = extract.with_extracted_text(pages).where(
            F.col("text_extracted").isNull() | (F.col("text_extracted") != F.col("text"))
        ).count()
        if diff:
            failures.append(f"{diff} pages extract to text that differs from the stored text")
        return failures

    def probes(self, spark, tracer) -> dict:
        lon, lat = self.tagged_lonlat
        pid_wkb = list(zip(self.grid["polygon_id"].tolist(), self.grid["geom_wkb"].tolist()))
        with tracer.span("geom.VectorPIPIndex.query", spark_tagged=False):
            kernel = kernel_throughput(pid_wkb, lon, lat)
        return {"kernel": kernel}


class PipLargeSkewed:
    """Clustered points, 30% on one hot spot, joined to the 49,802-polygon
    subdivided layer with the salted cell-shuffle PIP join at zoom 8.

    At this benchmark's 100k points the point side would fit Spark's
    automatic broadcast threshold and the planner would broadcast it, so
    the session turns automatic broadcast joins off: the job then runs the
    cell-shuffle plan that inputs of production size get."""

    name = "pip_large_skewed"
    n_points = 100_000
    hot_frac = 0.3
    hot_spot = (12.3, 45.2)
    n_clusters = 16
    zoom = 8
    n_salt = 4
    n_files = 8
    spark_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.rows = self.n_points
        self.ref = None

    def generate(self) -> None:
        # the hot spot and cluster centres are fixed, so every seed asks for
        # the same work; the seed draws the points around them
        layout = np.random.default_rng(0)
        centers = layout.uniform([-170.0, -70.0], [170.0, 70.0], size=(self.n_clusters, 2))
        rng = np.random.default_rng(self.seed)
        n_hot = int(self.n_points * self.hot_frac)
        which = rng.integers(0, self.n_clusters, self.n_points - n_hot)
        lon = np.concatenate([rng.normal(self.hot_spot[0], 0.2, n_hot), rng.normal(centers[which, 0], 2.0)])
        lat = np.concatenate([rng.normal(self.hot_spot[1], 0.2, n_hot), rng.normal(centers[which, 1], 2.0)])
        self.points = pd.DataFrame({
            "point_id": np.arange(self.n_points, dtype=np.int64),
            "lon": np.clip(lon, -179.999, 179.999),
            "lat": np.clip(lat, -84.9, 84.9),
        })
        self.polys = fixtures.subdivide_polygons(fixtures.make_polygons(500), 10)
        write_parquet(self.points, os.path.join(self.workdir, "points"), self.n_files)
        write_parquet(self.polys, os.path.join(self.workdir, "polygons"), self.n_files)

    def load(self, spark) -> None:
        self.pts_df = spark.read.parquet(os.path.join(self.workdir, "points")).persist()
        self.polys_df = spark.read.parquet(os.path.join(self.workdir, "polygons")).persist()
        self.pts_df.count()
        self.polys_df.count()

    def check_inputs(self, spark) -> list:
        got = (self.pts_df.count(), self.polys_df.count())
        want = (len(self.points), len(self.polys))
        return [] if got == want else [f"stored (points, polygons) rows {got} != generated {want}"]

    @staticmethod
    def _signature(df) -> dict:
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("point_id").alias("sum_point_id"),
            F.sum("polygon_id").alias("sum_polygon_id"),
        ).collect()[0]
        return {k: int(v or 0) for k, v in row.asDict().items()}

    def _shuffle(self):
        return joins.pip_join_shuffle(
            self.pts_df, self.polys_df, zoom=self.zoom, keep_cols=("point_id",), n_salt=self.n_salt
        )

    def _broadcast(self):
        return joins.pip_join_broadcast(self.pts_df, self.polys, keep_cols=("point_id",))

    def job(self, spark, k: int) -> dict:
        return self._signature(self._shuffle())

    def traced_job(self, spark, tracer) -> dict:
        with tracer.span("joins.polygon_cover_cells"):
            _force(joins.polygon_cover_cells(self.polys_df, self.zoom))
        with tracer.span("joins.pip_join_shuffle"):
            return self._signature(self._shuffle())

    def check(self, spark, got: dict) -> list:
        # the reference is the broadcast plan's rows on the same inputs
        if self.ref is None:
            self.ref = self._signature(self._broadcast())
        if got != self.ref:
            return [f"shuffle rows {got} != broadcast rows {self.ref}"]
        if got["rows"] == 0:
            return ["the join returned no rows"]
        return []

    def probes(self, spark, tracer) -> dict:
        with tracer.span("joins.pip_join_broadcast"):
            self.ref = self._signature(self._broadcast())
        pid_wkb = list(zip(self.polys["polygon_id"].tolist(), self.polys["geom_wkb"].tolist()))
        with tracer.span("geom.VectorPIPIndex.query", spark_tagged=False):
            kernel = kernel_throughput(
                pid_wkb, self.points["lon"].to_numpy(), self.points["lat"].to_numpy()
            )
        return {"kernel": kernel, "census": algebra_census(spark, tracer)}


def _plan_nodes(df) -> list:
    """Operator names of ``df``'s physical plan as planned (before it runs)."""
    jvm = df.sparkSession.sparkContext._jvm
    text = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    plan = text.split("== Physical Plan ==", 1)[-1]
    names = []
    for line in plan.splitlines():
        body = line.lstrip(" :+-*(0123456789)")
        if body:
            names.append(body.split(" ", 1)[0].split("(", 1)[0])
    return names


def algebra_census(spark, tracer) -> dict:
    """Python operators and exchanges in the planned physical plan of each
    ``layer_algebra_poly`` op over make_polygons(500) x make_polygons(300),
    plus the candidate pairs ``algebra.pair_candidates`` produces.  Counted
    in the calling session, so its join settings shape the exchanges."""
    a = spark.createDataFrame(fixtures.make_polygons(500)[["polygon_id", "geom_wkb"]])
    b = spark.createDataFrame(fixtures.make_polygons(300)[["polygon_id", "geom_wkb"]])
    ops = {}
    for op in ALGEBRA_OPS:
        names = _plan_nodes(getattr(algebra, f"layer_{op}")(a, b))
        ops[op] = {
            "python_operators": sum(n in sparkstats.PYTHON_NODES for n in names),
            "exchanges": sum(n in sparkstats.EXCHANGE_NODES for n in names),
        }
    with tracer.span("algebra.pair_candidates"):
        pairs = algebra.pair_candidates(a, b).count()
    return {"ops": ops, "pair_candidates_rows": int(pairs)}


WORKLOADS = {w.name: w for w in (PagesE2E, PipLargeSkewed)}
