"""Structured Streaming seam (SURVEY.md §2.10).

The reference is strictly batch; its closest artifacts are the sequential
HTTP streaming reader (port/cpl_vsil_curl_streaming.cpp) and async tile
reads (gcore/gdaldefaultasync.cpp).  This module is the engine's designed
extension point: the SAME operators (geotag join, cell encode, density
aggregation) applied to a stream of pages with event time = ``warc_ts``:

* :func:`stream_pages` — file-source stream of page parquet.
* :func:`streaming_tile_counts` — watermarked tumbling-window density per
  tile: late pages beyond the watermark are dropped, in-window pages
  aggregate incrementally (the streaming form of MERGE_ALG=ADD).
* :func:`run_stream_to_tiles` — foreachBatch into the batch tile-burn path,
  so the streaming sink shares the tile-table layout and checksum
  verification with the batch pipeline.
* :func:`run_stream_to_pyramid` — foreachBatch into the batch level write
  and commit of :mod:`engine.pipeline`: each micro-batch writes a snapshot
  of the pyramid with lineage and commits it with one manifest record.

Geotag is a stream-static join (static broadcast gazetteer) — no state; the
windowed count is the only stateful operator and is bounded by the
watermark.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import joins, pipeline, raster
from .geotag import geotag_all

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def streaming_tile_counts(
    pages_stream: DataFrame,
    gazetteer: DataFrame,
    zoom: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window page density per tile.

    (window_start, tx, ty, page_count) — the streaming analog of the batch
    tile_density operator; state is bounded by the watermark horizon.
    """
    tagged = geotag_all(pages_stream, gazetteer)
    tiled = joins.with_tile(tagged, zoom)
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "tx", "ty")
        .agg(F.count(F.lit(1)).alias("page_count"))
        .select(F.col("w.start").alias("window_start"), "tx", "ty", "page_count")
    )


def run_stream_to_tiles(
    spark: SparkSession,
    src_dir: str,
    gazetteer: DataFrame,
    zoom: int,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Drain the page stream into the batch tile-burn path via foreachBatch
    (trigger availableNow — processes the backlog then stops).  Each
    micro-batch geotags + burns and appends parquet tiles; the downstream
    pyramid/mosaic treats micro-batch outputs as mosaic inputs."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        tagged = geotag_all(batch_df, gazetteer)
        tiles = raster.burn_base_tiles(tagged, zoom)
        tiles.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    q = (
        stream_pages(spark, src_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_first_seen(
    pages_stream: DataFrame,
    timeout_minutes: int = 0,
) -> DataFrame:
    """Custom stateful operator: emit each url the FIRST time it appears in
    the stream (streaming exact dedup — the training-pipeline form of
    dedup_exact), implemented with ``applyInPandasWithState``.

    State per url-hash-group: the set of urls already emitted.  New urls in
    a micro-batch are emitted once with their first warc_ts; repeats are
    swallowed.  With ``timeout_minutes`` > 0 state expires after processing-
    time inactivity (bounded state for unbounded key domains — at 10¹²
    urls, state would instead bucket by url-hash partition + a bloom/exact
    spill table; the group-by-hash shape below is that design at small N).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd  # noqa: F811

    out_schema = "url string, first_ts timestamp"
    state_schema = "seen array<string>"

    def _dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # inactivity expiry: drop the seen-set (bounded state); a url
            # recurring after expiry re-emits, the documented trade-off
            state.remove()
            yield pd.DataFrame({"url": [], "first_ts": []})
            return
        seen = set(state.get[0]) if state.exists else set()
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("warc_ts")
            for url, ts in zip(pdf["url"], pdf["warc_ts"]):
                if url not in seen:
                    seen.add(url)
                    rows.append((url, ts))
        state.update((list(seen),))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(rows, columns=["url", "first_ts"])

    keyed = pages_stream.select(
        F.abs(F.hash("url") % 64).alias("bucket"), "url", "warc_ts"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _dedup, out_schema, state_schema, "append", timeout
    )


def pyramid_current(out_dir: str) -> dict | None:
    """The committed snapshot: the latest ``stage="stream"`` manifest
    record under ``out_dir``, with its ``batch_id`` and ``snapshot``, or None
    when no micro-batch has committed.  A snapshot dir that no record names
    is crash garbage and is never read."""
    recs = [r for r in pipeline._manifest_records(out_dir) if r.get("stage") == "stream"]
    return max(recs, key=lambda r: r["batch_id"], default=None)


def read_pyramid_level(spark: SparkSession, out_dir: str, zoom: int) -> DataFrame:
    """Committed tile table of one pyramid level (resolves the latest
    stream record to its snapshot dir)."""
    cur = pyramid_current(out_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed pyramid snapshot in {out_dir}")
    return spark.read.parquet(os.path.join(out_dir, cur["snapshot"], f"z={zoom}"))


def run_stream_to_pyramid(
    spark: SparkSession,
    src_dir: str,
    gazetteer: DataFrame,
    base_zoom: int,
    min_zoom: int,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming pyramid MAINTENANCE: each micro-batch burns its pages and
    updates the pyramid via :func:`engine.raster.pyramid_delta_update`
    (only ancestors of touched tiles recompute), but writes every level of
    a new snapshot ``out_dir/snap_<batch_id>/z=<zoom>``: O(pyramid) writes
    per batch.  The levels go through :mod:`engine.pipeline`'s level write
    (lineage under ``snap_<batch_id>/_lineage``) and the batch commits with
    ONE ``stage="stream"`` manifest record (``batch_id``, ``snapshot``, each
    level's totals under ``levels``).  A crash before that record leaves the
    previous snapshot committed and the replayed batch (foreachBatch is
    at-least-once) rebuilds from it; a committed batch's replay is skipped
    by its batch id.  A commit then removes older stream records and every
    other snapshot dir.  Read levels via :func:`read_pyramid_level`.
    """
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        cur = pyramid_current(out_dir)
        if cur is not None and cur["batch_id"] >= batch_id:
            return  # replayed batch (at-least-once delivery): already committed
        t0 = time.time()
        tagged = geotag_all(batch_df, gazetteer)
        delta = raster.burn_base_tiles(tagged, base_zoom)
        if cur is not None:
            existing = {
                z: read_pyramid_level(spark, out_dir, z)
                for z in range(min_zoom, base_zoom + 1)
            }
            updated, _ = raster.pyramid_delta_update(existing, delta)
        else:
            updated = {base_zoom: delta}
            for z in range(base_zoom, min_zoom, -1):
                updated[z - 1] = raster.pyramid_reduce(updated[z])
        snap, levels = f"snap_{batch_id}", {}
        for z, df in updated.items():
            _, levels[str(z)] = pipeline._write(
                spark, df, os.path.join(out_dir, snap, f"z={z}"),
                f"streaming.run_stream_to_pyramid[batch={batch_id} zoom={z}]",
                pipeline._TILES, os.path.join(out_dir, snap, "_lineage", f"z={z}"),
            )
        record = pipeline._commit(
            spark, out_dir, t0, stage="stream", batch_id=int(batch_id), snapshot=snap, levels=levels
        )
        pipeline._retract(out_dir, "stream", keep=record)
        for name in os.listdir(out_dir):
            if name.startswith("snap_") and name != snap:
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)

    q = (
        stream_pages(spark, src_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
