"""Bucketed tile/cell tables: shuffle-free co-located joins.

The 100-TB deployment brief calls for pre-partitioned co-located joins:
every operator in this engine that equi-joins on the tile key
(raster_calc band alignment, warp's cover join, point→tile lookups,
sieve's label joins) pays a shuffle per join UNLESS both sides are
written bucketed by the key.  Spark's bucketed tables (``bucketBy`` +
``saveAsTable``) persist the hash partitioning in the metastore so
Catalyst plans SortMergeJoin/ShuffledHashJoin WITHOUT an Exchange on
either side — the join cost at 100 TB drops from 2 shuffles to 0.

The reference has no analog (single-machine files); this is the
Spark-native replacement for its "both rasters are already on disk in
the same block layout" assumption.

Contract: bucket count must MATCH between co-joined tables (Spark only
elides the exchange when bucket specs agree), and the join keys must be
exactly the bucket columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed_tiles(
    tile_df: DataFrame,
    table: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a (zoom, tx, ty, data) tile table bucketed + sorted by
    (tx, ty).  Joins between two tables written with the same bucket count
    on (tx, ty) plan with NO Exchange."""
    (
        tile_df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, "tx", "ty")
        .sortBy("tx", "ty")
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True when the physical plan contains a SHUFFLE Exchange
    (hash/range repartitioning of table data) — the assertion surface for
    co-location tests.  BroadcastExchange doesn't count: broadcasting a
    dimension table is the cheap path, not a data shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan


def write_clustered(
    df: DataFrame, path: str, key_col: str, n_files: int = 16
) -> None:
    """Range-clustered parquet layout (the Iceberg sort-key story): global
    range partition + in-file sort on ``key_col`` makes every output file
    carry a DISJOINT [min, max] key range in its footer stats, so any
    key-range predicate prunes whole files at scan time.  With
    ``key_col='quadkey'`` a prefix predicate selects a tile subtree; with
    a SURT key it selects one site's contiguous pages.  One range
    exchange at write time buys stats-based scan skipping on every read."""
    (
        df.repartitionByRange(n_files, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(path)
    )
