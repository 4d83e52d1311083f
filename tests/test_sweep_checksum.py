"""The scaling sweep's checksum tuple, pinned at a size a unit run affords.

The sweep runs one flagship job over clustered points derived from
``events.parquet`` row ids: PIP join against the 10° grid fused with the z5
density burn, two pyramid levels, then the XOR of every tile's GDAL
checksum, the tile count and the summed page count.  The sweep reads only
the row count of ``events.parquet`` and multiplies it by a replication
factor k: at sf0.1 (100,000 events) × 600 the tuple is
``(7608, 729, 63757745)``.  This test runs the same computation for sf0.001
(1,000 events) × 20 and pins its tuple, so the plan can be changed (or the
sweep scripts retired) without losing the "same result" condition.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from engine import raster  # noqa: E402

N_POINTS = 1_000 * 20  # sf0.001 events × k
# (xor of tile checksums, tiles, total page count)
PINNED = (96, 727, 20296)


def _clustered_points(spark, n: int):
    """n points: 5000 city centres with ±0.05° jitter, all integer-derived
    from the row id, so the set is the same at any parallelism."""
    cid = F.col("id") % 5000
    jj = ((F.col("id") - cid) / 5000).cast("long")
    return spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
        F.col("id").alias("event_id"),
        (((cid * 73) % 35800) / 100.0 - 179.0 + 0.005 + ((jj * 31) % 100) / 1000.0 - 0.05).alias("lon"),
        (((cid * 7919) % 15800) / 100.0 - 79.0 + 0.005 + ((jj * 17) % 100) / 1000.0 - 0.05).alias("lat"),
    )


def _flagship_checksum(pts):
    base = raster.burn_base_tiles_pip(pts, entrymod._grid_polygons_pdf(), 5).persist()
    try:
        pyr = raster.pyramid_reduce(raster.pyramid_reduce(base))
        cks = raster.tile_checksums(base).unionByName(raster.tile_checksums(pyr))
        row = cks.agg(
            F.expr("aggregate(collect_list(checksum), 0, (a, x) -> int(a ^ x))").alias("ck"),
            F.count(F.lit(1)).alias("tiles"),
            F.sum("page_count").alias("total"),
            F.sum(F.when(F.col("zoom") == 5, F.col("page_count"))).alias("base_total"),
        ).collect()[0]
    finally:
        base.unpersist()
    return (int(row.ck), int(row.tiles), int(row.total)), int(row.base_total)


def test_sweep_checksum_pinned(spark):
    got, base_total = _flagship_checksum(_clustered_points(spark, N_POINTS))
    # every point lands in one grid cell and is counted once at the base zoom
    assert base_total == N_POINTS
    assert got == PINNED
