"""Streaming seam: availableNow drain == batch result; watermarked windowed
density; foreachBatch tile sink mosaics to the batch tiles."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import pipeline, raster, streaming
from engine.fixtures import make_gazetteer, make_pages
from engine.geotag import geotag_all


@pytest.fixture(scope="module")
def stream_fixture(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    gaz = make_gazetteer(n=200, n_countries=20)
    pages = make_pages(n=600, gazetteer=gaz, seed=91)
    sdf = spark.createDataFrame(pages)
    src = str(base / "pages")
    # three "arriving" files
    sdf.repartition(3).write.mode("overwrite").parquet(src)
    return {"src": src, "gaz": spark.createDataFrame(gaz), "pages": sdf, "base": base}


def test_windowed_counts_match_batch(spark, stream_fixture):
    stream = streaming.stream_pages(spark, stream_fixture["src"])
    # fixture spans ~70 min of event time; 10-min windows with a 5-min
    # watermark close all but the trailing window(s) under availableNow
    counts = streaming.streaming_tile_counts(
        stream, stream_fixture["gaz"], zoom=5, window="10 minutes", watermark="5 minutes"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("append")  # append emits only closed windows...
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.tx, r.ty): r.page_count
        for r in spark.sql("select * from tile_counts").collect()
    }
    # batch equivalent (windows closed by watermark may drop the tail —
    # compare only the windows the stream emitted; they must match exactly)
    from engine import joins

    tagged = joins.with_tile(geotag_all(stream_fixture["pages"], stream_fixture["gaz"]), 5)
    batch = {
        (r.w, r.tx, r.ty): r.cnt
        for r in tagged.groupBy(
            F.window("warc_ts", "10 minutes").getField("start").alias("w"), "tx", "ty"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got, "stream emitted no closed windows"
    for k, v in got.items():
        assert batch[k] == v


def test_foreach_batch_tile_sink(spark, stream_fixture):
    out = str(stream_fixture["base"] / "tiles_out")
    ckpt = str(stream_fixture["base"] / "ckpt")
    streaming.run_stream_to_tiles(
        spark, stream_fixture["src"], stream_fixture["gaz"], 5, ckpt, out
    )
    # micro-batch tiles mosaic (sum per tile, ADD semantics) == batch burn
    parts = spark.read.parquet(out)
    got = {}
    for r in parts.collect():
        key = (r.tx, r.ty)
        g = raster.bytes_to_tile(r.data)
        got[key] = got.get(key, 0) + g
    tagged = geotag_all(stream_fixture["pages"], stream_fixture["gaz"])
    batch = {
        (r.tx, r.ty): raster.bytes_to_tile(r.data)
        for r in raster.burn_base_tiles(tagged, 5).collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        assert np.array_equal(np.asarray(got[k]), batch[k])


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState streaming dedup: each url emitted exactly once
    across micro-batches, with its first-seen timestamp."""
    import pandas as pd

    from engine import streaming

    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    base = pd.Timestamp("2024-01-01")
    # batch 1: a,b ; batch 2: b(dup),c ; written as two files
    df1 = pd.DataFrame({"url": ["a", "b"], "warc_ts": [base, base + pd.Timedelta(hours=1)],
                        "html": [b"x", b"y"], "text": ["t", "u"], "lang": ["en", "en"]})
    df2 = pd.DataFrame({"url": ["b", "c"], "warc_ts": [base + pd.Timedelta(hours=2), base + pd.Timedelta(hours=3)],
                        "html": [b"z", b"w"], "text": ["v", "w"], "lang": ["en", "en"]})
    import os
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(df1).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(df2).coalesce(1).write.mode("append").parquet(src)

    stream = streaming.stream_pages(spark, src, max_files_per_trigger=1)
    dedup = streaming.stateful_first_seen(stream)
    q = (
        dedup.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    rows = {r.url: r.first_ts for r in got}
    assert set(rows) == {"a", "b", "c"}
    assert len(got) == 3  # b emitted once despite the duplicate
    assert rows["b"] == base + pd.Timedelta(hours=1)


def test_stream_pyramid_maintenance_matches_batch(spark, stream_fixture):
    """Incremental streaming pyramid (per-batch delta update with snapshot
    swap) must equal the one-shot batch pyramid over the same pages,
    tile-for-tile, after the backlog drains across multiple micro-batches."""
    base = stream_fixture["base"]
    out = str(base / "pyr")
    ckpt = str(base / "ckpt_pyr")
    bz, mz = 5, 3
    streaming.run_stream_to_pyramid(
        spark, stream_fixture["src"], stream_fixture["gaz"], bz, mz, ckpt, out
    )
    cur = streaming.pyramid_current(out)
    assert cur["batch_id"] >= 1  # the backlog drained in more than one micro-batch
    tagged = geotag_all(stream_fixture["pages"], stream_fixture["gaz"])
    expect = {bz: raster.burn_base_tiles(tagged, bz)}
    for z in range(bz, mz, -1):
        expect[z - 1] = raster.pyramid_reduce(expect[z])
    for z in range(mz, bz + 1):
        got = {
            (r.tx, r.ty): r.checksum
            for r in raster.tile_checksums(
                streaming.read_pyramid_level(spark, out, z)
            ).collect()
        }
        exp = {
            (r.tx, r.ty): r.checksum
            for r in raster.tile_checksums(expect[z]).collect()
        }
        assert got == exp, f"zoom {z}"
        # the commit record carries each level's totals from its write
        assert cur["levels"][str(z)]["n_tiles"] == len(got), f"zoom {z}"
    # one stream record and the one snapshot it names survive
    assert [r["stage"] for r in pipeline._manifest_records(out)] == ["stream"]
    assert sorted(os.listdir(out)) == [pipeline.MANIFEST_DIR, cur["snapshot"]]
    assert sorted(os.listdir(os.path.join(out, cur["snapshot"], "_lineage"))) == [f"z={z}" for z in range(mz, bz + 1)]


def test_pyramid_snapshot_crash_recovery(spark, tmp_path):
    """A crash at ANY point before a micro-batch's manifest record is
    published must leave the previous snapshot committed: orphan snapshot
    dirs are never read, the replayed stream rebuilds from the pre-crash
    state, and the final pyramid equals the batch recompute."""
    import os

    import pandas as pd

    gaz_pdf = make_gazetteer(n=100, n_countries=10)
    gaz = spark.createDataFrame(gaz_pdf)
    pages1 = make_pages(n=200, gazetteer=gaz_pdf, seed=5)
    pages2 = make_pages(n=200, gazetteer=gaz_pdf, seed=6)
    pages2["url"] = pages2["url"].str.replace("https://", "https://b.")
    src = str(tmp_path / "src")
    out = str(tmp_path / "pyr")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(pages1).coalesce(1).write.mode("append").parquet(src)
    bz, mz = 5, 4

    streaming.run_stream_to_pyramid(
        spark, src, gaz, bz, mz, str(tmp_path / "ck1"), out
    )
    cur = streaming.pyramid_current(out)
    assert cur is not None
    committed = {
        (r.tx, r.ty): r.checksum
        for r in raster.tile_checksums(
            streaming.read_pyramid_level(spark, out, bz)
        ).collect()
    }

    # simulate a crash mid-next-batch: a partially-written orphan snapshot
    # exists, the committed record still names the committed one
    orphan = os.path.join(out, "snap_777")
    os.makedirs(os.path.join(orphan, f"z={bz}"), exist_ok=True)
    open(os.path.join(orphan, f"z={bz}", "part-junk.parquet"), "wb").write(b"garbage")
    assert streaming.pyramid_current(out) == cur  # record untouched
    got = {
        (r.tx, r.ty): r.checksum
        for r in raster.tile_checksums(
            streaming.read_pyramid_level(spark, out, bz)
        ).collect()
    }
    assert got == committed  # reads resolve the record, not the orphan

    # the replayed/next batch self-recovers: new file arrives, stream
    # re-runs, commit succeeds and prunes the orphan
    spark.createDataFrame(pages2).coalesce(1).write.mode("append").parquet(src)
    streaming.run_stream_to_pyramid(
        spark, src, gaz, bz, mz, str(tmp_path / "ck1"), out
    )
    assert not os.path.isdir(orphan)
    allp = spark.createDataFrame(pd.concat([pages1, pages2], ignore_index=True))
    expect = raster.burn_base_tiles(geotag_all(allp, gaz), bz)
    exp = {(r.tx, r.ty): r.checksum for r in raster.tile_checksums(expect).collect()}
    final = {
        (r.tx, r.ty): r.checksum
        for r in raster.tile_checksums(
            streaming.read_pyramid_level(spark, out, bz)
        ).collect()
    }
    assert final == exp

    # replay idempotence: re-running the drained stream commits nothing new
    before = streaming.pyramid_current(out)
    streaming.run_stream_to_pyramid(
        spark, src, gaz, bz, mz, str(tmp_path / "ck1"), out
    )
    assert streaming.pyramid_current(out) == before
