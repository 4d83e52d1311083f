"""Stage runner: checkpointed tile pyramid with lineage/metrics + resume.

The engine's analog of gdal2tiles' base-then-overview generation with
``--resume`` (gdal2tiles.py:1154 generate_base_tiles, :1314
generate_overview_tiles, :1202-1207 resume skips existing tiles) and of
gdaltindex's per-file manifest (apps/gdaltindex.c:96-561): every stage writes

* its output as parquet partitioned by ``zoom`` (partition pruning on zoom =
  the overview-level selection of gcore/rasterio.cpp:2117),
* a per-file **lineage** sidecar: one row per non-empty file
  ``part-<part_id>`` the write produced (tile/row count, page count,
  xor-of-checksums), gdaltindex's per-file record, and
* a **manifest** record per completed zoom level or stage with lineage +
  row-count metrics: stage name, input/output row counts, tile extents (the
  GetExtent fast path, ogrlayer.cpp:212), total page count, xor-of-checksums,
  wall seconds, and the spark conf that produced it.

A level commits in ONE Spark action, the data write, under a job description
naming runner, stage and action.  A lineage tap in the written frame's
projection folds each write task's partition into a partial and hands it to
the driver through an accumulator (see :func:`_tapped`); the driver writes
the lineage rows with pyarrow and folds the manifest totals from the same
partials.  ``run_tiling``'s ``in_rows`` is observed in that pass too, so no
count, collect or lineage job re-scans a level.

Levels, stages, metadata edits and the streaming pyramid share one commit:
retract the key's earlier records, write data and lineage, then publish one
record by ``os.replace``.  A run killed mid-write leaves its level with no
record, so ``resume=True`` rebuilds it and skips every level still recorded
(FIXTURES.md §8), reading the manifest with ``json`` on the driver.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import time
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import raster
from .session import job_description

MANIFEST_DIR = "_manifest"


def _record_files(base: str) -> list:
    """``(file, record)`` for every ``*.json`` record of the manifest commit
    log, read on the driver with ``json`` (no Spark job).  A record that does
    not parse raises ``ValueError`` naming the file."""
    path = os.path.join(base, MANIFEST_DIR)
    if not os.path.isdir(path):
        return []
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        fname = os.path.join(path, name)
        with open(fname) as f:
            text = f.read()
        try:
            out.append((fname, dict(json.loads(text))))
        except (TypeError, ValueError) as e:
            raise ValueError(f"corrupt manifest record {fname}: {e}") from None
    return out


def _manifest_records(base: str) -> list:
    """Every record of the manifest commit log (see :func:`_record_files`)."""
    return [r for _, r in _record_files(base)]


def read_manifest(spark: SparkSession, base: str) -> DataFrame | None:
    """The manifest commit log as a DataFrame, or None when it is empty."""
    if not _manifest_records(base):
        return None
    return spark.read.json(os.path.join(base, MANIFEST_DIR))


def completed_levels(spark: SparkSession, base: str) -> set:
    # only level-commit records count toward resume: metadata-edit records
    # (stage="_edit") must never mark a pyramid level as built
    return {
        r["zoom"]
        for r in _manifest_records(base)
        if r.get("zoom") is not None and r.get("stage") != "_edit"
    }


def _key(record: dict):
    """What a record commits: its level's zoom (an int) or its stage's name."""
    return record["zoom"] if record.get("zoom") is not None else record.get("stage")


def _retract(base: str, key, keep: str | None = None) -> None:
    """Remove each record of ``key`` but the file ``keep`` (one ``os.remove``
    each), matched on the parsed record; ``_edit`` records stay."""
    for fname, r in _record_files(base):
        if _key(r) == key and r.get("stage") != "_edit" and fname != keep:
            os.remove(fname)


def _append_manifest(base: str, record: dict) -> str:
    """Commit ``record`` atomically: a hidden temp file that no reader lists,
    then one ``os.replace``.  Returns the record's file."""
    path = os.path.join(base, MANIFEST_DIR)
    os.makedirs(path, exist_ok=True)
    key = f"zoom_{record['zoom']}" if "zoom" in record else f"stage_{record['stage']}"
    # microsecond resolution: two commits in the same wall second (e.g.
    # consecutive metadata edits) must not collapse into one log file
    fname = os.path.join(path, f"{key}_{int(record['ts'] * 1e6)}.json")
    tmp = os.path.join(path, f".{os.path.basename(fname)}.tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps(record) + "\n")
    os.replace(tmp, fname)
    return fname


class _ByPartition(AccumulatorParam):
    """Accumulates ``{partition id: lineage partial}`` dicts."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


class _Lineage(NamedTuple):
    """How a runner's tap folds the table it writes into lineage."""

    args: Callable  # the table -> the tap's input columns
    partial: Callable  # one batch of those columns -> a partial
    fold: tuple  # how two partials combine, field by field
    schema: pa.Schema  # a lineage row: part_id, then the partial's leading fields
    totals: Callable  # (partials folded over the table, or None; row count) -> manifest fields


def _tile_partial(tx, ty, data) -> tuple:
    """Tile count, page count, checksum xor and extent of a batch of tiles."""
    stats = np.array([raster.tile_stats(t.as_buffer()) for t in data], dtype=np.int64).reshape(-1, 2)
    x, y = tx.to_numpy(), ty.to_numpy()
    return (
        len(x), int(stats[:, 1].sum()), int(np.bitwise_xor.reduce(stats[:, 0])),
        int(x.min()), int(x.max()), int(y.min()), int(y.max()),
    )


def _tile_totals(t, n: int) -> dict:
    """A tile level's manifest fields from its folded partial ``t`` (None
    for no tiles) and its ``n`` lineage rows."""
    n_tiles, pages, ck, *extent = t or (0, None, 0, None, None, None, None)
    return {
        "n_tiles": n_tiles,
        **dict(zip(("min_tx", "max_tx", "min_ty", "max_ty"), extent)),
        "total_count": pages,
        "ck_xor": ck,
        "n_partitions": n,
    }


_TILES = _Lineage(
    args=lambda df: [F.col("tx"), F.col("ty"), F.col("data")],
    partial=_tile_partial,
    fold=(operator.add, operator.add, operator.xor, min, max, min, max),
    schema=pa.schema([("part_id", pa.int32()), ("n_tiles", pa.int64()), ("page_count", pa.int64()), ("ck_xor", pa.int32())]),
    totals=_tile_totals,
)

# per-row hash over ALL columns, xor-folded: invariant to row order and
# partitioning, so re-runs at any parallelism reproduce it bit-for-bit; only
# the 8-byte hash crosses into Python, so every column type works
_DOCS = _Lineage(
    args=lambda df: [F.xxhash64(*[F.col(c) for c in df.columns])],
    partial=lambda h: (len(h), int(np.bitwise_xor.reduce(h.to_numpy()))),
    fold=(operator.add, operator.xor),
    schema=pa.schema([("part_id", pa.int32()), ("n_rows", pa.int64()), ("ck_xor", pa.int64())]),
    totals=lambda t, n: {"n_rows": t[0] if t else 0, "content_ck": t[1] if t else 0, "n_partitions": n},
)

_TAP = "_lineage_tap"


def _combine(fold: tuple, a, b) -> tuple:
    """Partials ``a`` (None for none yet) and ``b`` combined."""
    return b if a is None else tuple(f(x, y) for f, x, y in zip(fold, a, b))


def _tapped(df: DataFrame, lineage: _Lineage):
    """``df`` with a lineage tap, and the accumulator the tap fills.

    The tap is a nondeterministic Arrow UDF in a projection of ``df``, kept
    alive by a filter on its (always true) result: the filter cannot move
    below a nondeterministic projection, so the producer's own projections
    are neither duplicated into the UDF's input nor re-run.  Each task folds
    its partition and adds ``{partition id: partial}`` at the end; Spark
    applies a result task's update once per partition and drops those of
    failed attempts, so in the write's result stage each partial describes
    the file ``part-<partition id>`` that the task committed."""
    acc = df.sparkSession.sparkContext.accumulator({}, _ByPartition())
    partial, fold = lineage.partial, lineage.fold

    # one column arrives as an array, several as a tuple of arrays
    def tap(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        total = None
        for batch in batches:
            cols = batch if isinstance(batch, tuple) else (batch,)
            if len(cols[0]):
                total = _combine(fold, total, partial(*cols))
            yield pa.repeat(True, len(cols[0]))
        if total is not None:
            acc.add({TaskContext.get().partitionId(): total})

    udf = F.arrow_udf(tap, "boolean").asNondeterministic()
    return df.select("*", udf(*lineage.args(df)).alias(_TAP)).where(_TAP).drop(_TAP), acc


def _write(spark: SparkSession, df: DataFrame, path: str, desc: str, lineage: _Lineage, lpath: str):
    """Persist ``df`` as parquet at ``path`` in one Spark action and its
    lineage, one row per file written, at ``lpath``.  Return the table read
    back with the schema just written, which is what inference (a Spark job)
    would give: Spark stores its schema in the footer and makes a file source
    nullable; and the manifest fields, folded from the same pass."""
    tapped, acc = _tapped(df, lineage)
    with job_description(spark, f"{desc} write"):
        tapped.write.mode("overwrite").parquet(path)
    parts = sorted(acc.value.items())
    rows = [dict(zip(lineage.schema.names, (pid, *p))) for pid, p in parts]
    # replace, as an overwrite would: no stale row of an earlier run survives
    shutil.rmtree(lpath, ignore_errors=True)
    os.makedirs(lpath)
    pq.write_table(pa.Table.from_pylist(rows, schema=lineage.schema), os.path.join(lpath, "part-00000.parquet"))
    folded = functools.reduce(functools.partial(_combine, lineage.fold), (p for _, p in parts), None)
    return spark.read.schema(df.schema).parquet(path), lineage.totals(folded, len(parts))


def _commit(spark: SparkSession, base: str, t0: float, **record) -> str:
    """Commit a level/stage record stamped with wall time and spark conf;
    returns its file."""
    record.update(
        ts=time.time(),
        wall_s=round(time.time() - t0, 3),
        master=spark.sparkContext.master,
        shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
    )
    return _append_manifest(base, record)


_LEVEL_SCHEMA = StructType([f for f in raster.TILE_SCHEMA.fields if f.name != "zoom"])


def _level_frame(spark: SparkSession, base: str, z: int) -> DataFrame:
    """Zoom ``z``'s persisted tiles, read with the tile schema (no inference
    job), with a literal ``zoom`` column."""
    level = spark.read.schema(_LEVEL_SCHEMA).parquet(os.path.join(base, f"zoom={z}"))
    return level.withColumn("zoom", F.lit(z))


def run_tiling(
    spark: SparkSession,
    points: DataFrame,
    base: str,
    base_zoom: int,
    min_zoom: int,
    resume: bool = False,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Materialize the density-tile pyramid [min_zoom..base_zoom] under
    ``base`` with per-level manifest records; returns the full tile table.

    Levels are checkpointed bottom-up (base zoom first); each reduce reads
    the PERSISTED parquet of the level above, so resume rebuilds only the
    levels with no record, from the persisted level above them.
    """
    done = completed_levels(spark, base) if resume else set()
    for z in range(base_zoom, min_zoom - 1, -1):
        if z in done:
            continue
        t0 = time.time()
        _retract(base, z)
        desc = f"pipeline.run_tiling[zoom={z}]"
        # in_rows is counted inside the level's write job
        obs, n_src = Observation(), F.count(F.lit(1)).alias("in_rows")
        if z == base_zoom:
            src, stage = points, "burn_base"
            level = raster.burn_base_tiles(src.observe(obs, n_src), z, lon_col, lat_col)
        else:
            src, stage = _level_frame(spark, base, z + 1), "pyramid_reduce"
            level = raster.pyramid_reduce(src.observe(obs, n_src))
        _, stats = _write(
            spark, level.drop("zoom"), os.path.join(base, f"zoom={z}"), desc,
            _TILES, os.path.join(base, "_lineage", f"zoom={z}"),
        )
        try:
            in_rows = obs.get["in_rows"]
        except Py4JJavaError:
            # the observe sits below the level's shuffle: when that shuffle
            # is empty, AQE replaces the plan above it and drops the metrics
            with job_description(spark, f"{desc} count"):
                in_rows = src.count()
        _commit(spark, base, t0, zoom=z, stage=stage, in_rows=int(in_rows), out_rows=stats["n_tiles"], **stats)

    levels = [_level_frame(spark, base, z) for z in range(min_zoom, base_zoom + 1)]
    return functools.reduce(DataFrame.unionByName, levels).select("zoom", "tx", "ty", "data")


def edit_metadata(spark: SparkSession, base: str, **updates) -> dict:
    """gdal_edit.py analog (swig/python/scripts/gdal_edit.py: -a_srs,
    -a_nodata, -a_ullr, -mo KEY=VALUE in-place header edits).

    The engine's datasets are IMMUTABLE parquet tile tables, so "in-place
    edit" becomes an append-only metadata record in the same manifest
    commit log the tiling stages write: each call appends one
    ``stage="_edit"`` record carrying the updated fields (srs, nodata,
    extent, arbitrary metadata keys); :func:`dataset_metadata` folds all
    edit records latest-wins over any level records.  Nothing rewrites
    data bytes — exactly the reference's contract (headers only).

    Returns the merged metadata after the edit."""
    # gdal_edit takes arbitrary -mo KEY=VALUE pairs, but the manifest's own
    # bookkeeping fields must not be forgeable: a user 'zoom' would make
    # completed_levels() treat the edit as a finished pyramid level (resume
    # then SKIPS computing it), and 'stage'/'ts' would corrupt the record
    # itself (a string ts crashes the commit-log filename).
    reserved = {"zoom", "stage", "ts"} & set(updates)
    if reserved:
        raise ValueError(
            f"metadata keys {sorted(reserved)} are reserved manifest fields; "
            "store them under different names"
        )
    rec = {"stage": "_edit", "ts": time.time()}
    rec.update(updates)
    _append_manifest(base, rec)
    return dataset_metadata(spark, base)


def dataset_metadata(spark: SparkSession, base: str) -> dict:
    """Merged dataset metadata from the manifest commit log: all
    ``_edit`` records folded in timestamp order (latest wins per key)."""
    out: dict = {}
    edits = [r for r in _manifest_records(base) if r.get("stage") == "_edit"]
    for r in sorted(edits, key=lambda d: d.get("ts") or 0):
        for k, v in r.items():
            if k not in ("stage", "ts") and v is not None:
                out[k] = v
    return out


def completed_stages(spark: SparkSession, base: str) -> set:
    """Stage names with a manifest record (generic-stage analog of
    :func:`completed_levels`)."""
    return {r["stage"] for r in _manifest_records(base) if r.get("stage") is not None}


def _run_named_stage(spark, runner, stage, fn, base, resume, lineage) -> DataFrame:
    """The shared body of :func:`run_stage` and :func:`run_doc_stage`;
    ``lineage`` says how the stage's write folds its lineage."""
    path = os.path.join(base, f"stage={stage}")
    done = [r for r in _manifest_records(base) if _key(r) == stage] if resume else []
    if done:
        schema = done[-1].get("schema")  # absent from records that predate it: inferred
        return (spark.read.schema(StructType.fromJson(json.loads(schema))) if schema else spark.read).parquet(path)
    t0 = time.time()
    _retract(base, stage)
    df, lpath = fn(), os.path.join(base, "_lineage", f"stage={stage}")
    persisted, stats = _write(spark, df, path, f"pipeline.{runner}[{stage}]", lineage, lpath)
    _commit(spark, base, t0, stage=stage, schema=df.schema.json(), **stats)
    return persisted


def run_stage(
    spark: SparkSession,
    stage: str,
    tile_df_fn,
    base: str,
    resume: bool = False,
) -> DataFrame:
    """Materialize ONE named tile-table stage under ``base/stage=<name>``
    with the same contract as :func:`run_tiling`: parquet persist, a
    manifest record (rows, checksum-xor, wall), a per-file lineage
    sidecar, and resume (a completed stage is read back, its producer
    never re-invoked).  Generalizes checkpoint/resume to any operator
    producing a (zoom, tx, ty, data) table — rasterize_polygons/lines,
    warp outputs, sieve/proximity products.
    """
    return _run_named_stage(spark, "run_stage", stage, tile_df_fn, base, resume, _TILES)


def run_doc_stage(
    spark: SparkSession,
    stage: str,
    df_fn,
    base: str,
    resume: bool = False,
) -> DataFrame:
    """:func:`run_stage` for DOCUMENT tables (any schema): parquet persist
    under ``base/stage=<name>``, per-file lineage (row count + an
    order-independent xxhash64-XOR content checksum over every column), a
    manifest record, and resume (a completed stage reads back; its producer
    is never re-invoked).  This extends the checkpoint/lineage contract
    from the tile pipeline to the corpus pipeline — every curation stage
    (scrub -> filter -> dedup -> sample) restarts mid-pipeline."""
    return _run_named_stage(spark, "run_doc_stage", stage, df_fn, base, resume, _DOCS)
