"""Near-black collar removal (apps/nearblack.cpp ~700 LoC).

The reference scans every image scanline inward from the left and right
edges, turning the leading run of near-black pixels (collar from lossy
compression / rotation) into nodata, stopping at the first bright pixel —
interior dark runs are untouched.  Distributed form:

1. **per-tile run lengths** — one vectorized pass emits, per global pixel
   row, the tile's leading and trailing near-black run (`cumprod` trick,
   no Python loop);
2. **per-row fold** — rows group by global y; a tiny grouped UDF walks the
   ≤ raster-width/T tiles west→east accumulating the collar penetration
   (full-black tiles pass through, the first partial tile caps the run);
   output is one (gy, west_pen, east_pen) row per scanline — H rows total,
   ≪ pixel data;
3. **rewrite** — the scanline collars are gathered per tile row
   (``ty = -floor(gy / T)``, T rows each) and joined to the tiles on that
   key; each tile blanks its slice of the collar.  The collar side is H/T
   small rows, which Spark broadcasts below its join threshold and shuffles
   above it, so driver memory no longer grows with raster height.

Assumes the tile table covers a dense rectangle (the raster extent), like
the reference's single image.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .raster import TILE_SIZE, bytes_to_tile


def nearblack(tile_df: DataFrame, threshold: int = 10, nodata: int = 0) -> DataFrame:
    """Blank the near-black collar (value ≤ threshold) reaching in from the
    raster's west and east edges on every scanline; returns a rewritten
    (tx, ty, data) tile table."""
    T = TILE_SIZE
    src = tile_df.select("tx", "ty", "data")
    ext = src.agg(F.min("tx").alias("x0"), F.max("tx").alias("x1")).collect()[0]
    if ext.x0 is None:  # empty tile table → empty result
        return src
    tx_min, tx_max = int(ext.x0), int(ext.x1)

    def _runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                g = bytes_to_tile(r.data)
                dark = g <= threshold
                lead = dark.cumprod(axis=1).sum(axis=1)
                trail = dark[:, ::-1].cumprod(axis=1).sum(axis=1)
                gy = -(int(r.ty) * T) + np.arange(T)
                frames.append(
                    pd.DataFrame(
                        {"gy": gy, "tx": int(r.tx), "lead": lead.astype(np.int64),
                         "trail": trail.astype(np.int64)}
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"gy": [], "tx": [], "lead": [], "trail": []}
            )

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        by_tx = {int(r.tx): (int(r.lead), int(r.trail)) for r in pdf.itertuples()}
        west = 0
        for tx in range(tx_min, tx_max + 1):
            lead, _ = by_tx.get(tx, (0, 0))
            west += lead
            if lead < T:
                break
        east = 0
        for tx in range(tx_max, tx_min - 1, -1):
            _, trail = by_tx.get(tx, (0, 0))
            east += trail
            if trail < T:
                break
        return pd.DataFrame({"gy": [int(pdf["gy"].iat[0])], "west": [west], "east": [east]})

    collars = (
        src.mapInPandas(_runs, "gy long, tx long, lead long, trail long")
        .groupBy("gy")
        .applyInPandas(lambda k, p: _fold(p), "gy long, west long, east long")
    )
    # scanline gy = -(ty * T) + i, i in [0, T): its tile row is -floor(gy / T)
    by_row = collars.groupBy((-F.floor(F.col("gy") / T)).alias("ty")).agg(
        F.collect_list("gy").alias("gys"),
        F.collect_list("west").alias("wests"),
        F.collect_list("east").alias("easts"),
    )
    west_edge = tx_min * T
    east_edge = (tx_max + 1) * T
    cols = np.arange(T)

    def _rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                g = bytes_to_tile(r.data).copy()
                ty, gx0 = int(r.ty), int(r.tx) * T
                w = np.zeros(T, dtype=np.int64)
                e = np.zeros(T, dtype=np.int64)
                if r.gys is not None:  # a tile row without collar rows keeps (0, 0)
                    i = np.asarray(r.gys, dtype=np.int64) + ty * T
                    w[i] = r.wests
                    e[i] = r.easts
                # west collar covers [west_edge, west_edge + w), east collar
                # [east_edge - e, east_edge), clipped to this tile's columns
                wcut = np.clip(west_edge + w - gx0, 0, T)
                ecut = np.clip(gx0 + T - (east_edge - e), 0, T)
                g[(cols < wcut[:, None]) | (cols >= T - ecut[:, None])] = nodata
                rows.append((int(r.tx), ty, g.astype("<i4").tobytes()))
            yield pd.DataFrame(rows, columns=["tx", "ty", "data"])

    return src.join(by_row, "ty", "left").mapInPandas(_rewrite, "tx long, ty long, data binary")
