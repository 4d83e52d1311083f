"""Color quantization + dithering: GDALComputeMedianCutPCT / GDALDitherRGB2PCT.

Reference: ``alg/gdalmediancut.cpp`` (5-bit-per-channel histogram → median
cut boxes → box-average palette) and ``alg/gdaldither.cpp:92`` (Floyd–
Steinberg error diffusion against the palette).  Distributed form:

* **histogram** — per-tile numpy bincount of the 15-bit quantized color,
  JVM ``groupBy(color).sum`` partial-aggregates map-side; the collected
  histogram is ≤ 32768 rows regardless of raster size — the classic
  sketch-then-driver pattern (same shape as the reference, which also cuts
  on the histogram, not the pixels);
* **median cut** — driver loop: repeatedly split the box with the largest
  pixel count along its longest color axis at the count median;
* **palette apply / dither** — broadcast palette; per-tile mapInPandas
  maps each pixel to the nearest palette entry (vectorized argmin), with
  optional Floyd–Steinberg error diffusion.  Error diffusion is sequential
  by nature; the reference runs it over whole-image scanlines, we run it
  per tile (documented deviation: diffusion does not cross tile borders —
  palette assignment is unaffected).

Input band layout: one DataFrame (tx, ty, data_r, data_g, data_b) — join
three tile tables with :func:`engine.warp.raster_calc`-style equi-joins.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .raster import TILE_SIZE, bytes_to_tile


def color_histogram(rgb: DataFrame) -> DataFrame:
    """15-bit (5 per channel) color histogram: (color int, pixel_count) —
    the gdalmediancut histogram, built as tile bincounts + one JVM agg."""

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros(32768, dtype=np.int64)
            for row in pdf.itertuples():
                rr = bytes_to_tile(row.data_r) >> 3
                gg = bytes_to_tile(row.data_g) >> 3
                bb = bytes_to_tile(row.data_b) >> 3
                code = ((rr << 10) | (gg << 5) | bb).ravel()
                acc += np.bincount(code, minlength=32768)
            nz = np.nonzero(acc)[0]
            yield pd.DataFrame({"color": nz.astype(np.int32), "pixel_count": acc[nz]})

    return rgb.mapInPandas(_hist, "color int, pixel_count long").groupBy("color").agg(
        F.sum("pixel_count").alias("pixel_count")
    )


def median_cut(hist: list, n_colors: int) -> np.ndarray:
    """Driver-side median cut on [(color15, count)] → (n, 3) uint8 palette
    (box-weighted average color, scaled back to 8 bits).  Splits the
    most-populated box at the count median of its longest axis
    (GDALComputeMedianCutPCT's box subdivision)."""
    codes = np.array([c for c, _ in hist], dtype=np.int64)
    counts = np.array([n for _, n in hist], dtype=np.int64)
    cols = np.stack([(codes >> 10) & 31, (codes >> 5) & 31, codes & 31], axis=1)
    boxes = [np.arange(codes.shape[0])]
    while len(boxes) < n_colors:
        # split the box with the most pixels that has >1 distinct color
        sizes = [counts[b].sum() if cols[b].ptp(axis=0).max() > 0 else -1 for b in boxes]
        bi = int(np.argmax(sizes))
        if sizes[bi] <= 0:
            break
        b = boxes[bi]
        axis = int(np.argmax(cols[b].ptp(axis=0)))
        order = b[np.argsort(cols[b, axis], kind="stable")]
        cum = np.cumsum(counts[order])
        half = cum[-1] / 2.0
        k = int(np.searchsorted(cum, half))
        k = min(max(k, 0), order.shape[0] - 2)
        # keep the split off a single-value boundary
        while k + 1 < order.shape[0] - 1 and cols[order[k + 1], axis] == cols[order[0], axis]:
            k += 1
        boxes[bi] = order[: k + 1]
        boxes.append(order[k + 1 :])
    pal = []
    for b in boxes:
        w = counts[b].astype(np.float64)
        avg = (cols[b] * w[:, None]).sum(axis=0) / w.sum()
        pal.append(np.round(avg * 8.0 + 4.0))  # 5-bit box center → 8-bit
    return np.clip(np.array(pal), 0, 255).astype(np.uint8)


def compute_median_cut_pct(rgb: DataFrame, n_colors: int = 256) -> np.ndarray:
    hist = [(int(r.color), int(r.pixel_count)) for r in color_histogram(rgb).collect()]
    return median_cut(sorted(hist), n_colors)


def _nearest_idx(px: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """(N,3) float pixels → nearest palette index (squared-distance argmin,
    vectorized over a (N, n_pal) distance matrix in chunks)."""
    pal = palette.astype(np.float64)
    out = np.empty(px.shape[0], dtype=np.int64)
    for s in range(0, px.shape[0], 65536):
        chunk = px[s : s + 65536]
        d = ((chunk[:, None, :] - pal[None, :, :]) ** 2).sum(axis=2)
        out[s : s + 65536] = np.argmin(d, axis=1)
    return out


def fs_dither_tile(r: np.ndarray, g: np.ndarray, b: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Floyd–Steinberg error diffusion within one tile
    (GDALDitherRGB2PCT's kernel, alg/gdaldither.cpp:92): scan rows left to
    right, distribute quantization error 7/16 → E, 3/16 → SW, 5/16 → S,
    1/16 → SE."""
    H, W = r.shape
    buf = np.stack([r, g, b], axis=2).astype(np.float64)
    pal = palette.astype(np.float64)
    out = np.zeros((H, W), dtype=np.int64)
    for y in range(H):
        row = buf[y]
        for x in range(W):
            px = np.clip(row[x], 0, 255)
            i = int(((px - pal) ** 2).sum(axis=1).argmin())
            out[y, x] = i
            err = px - pal[i]
            if x + 1 < W:
                row[x + 1] += err * (7 / 16)
            if y + 1 < H:
                nxt = buf[y + 1]
                if x > 0:
                    nxt[x - 1] += err * (3 / 16)
                nxt[x] += err * (5 / 16)
                if x + 1 < W:
                    nxt[x + 1] += err * (1 / 16)
    return out


def apply_palette(rgb: DataFrame, palette: np.ndarray, dither: bool = False) -> DataFrame:
    """RGB tile table → single-band palette-index tile table; optional
    per-tile Floyd–Steinberg dithering."""
    pal = np.asarray(palette, dtype=np.uint8)

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples():
                rr = bytes_to_tile(row.data_r)
                gg = bytes_to_tile(row.data_g)
                bb = bytes_to_tile(row.data_b)
                if dither:
                    idx = fs_dither_tile(rr, gg, bb, pal)
                else:
                    px = np.stack([rr.ravel(), gg.ravel(), bb.ravel()], axis=1).astype(np.float64)
                    idx = _nearest_idx(px, pal).reshape(rr.shape)
                rows.append((int(row.tx), int(row.ty), idx.astype("<i4").tobytes()))
            yield pd.DataFrame(rows, columns=["tx", "ty", "data"])

    return rgb.mapInPandas(_apply, "tx long, ty long, data binary")


def pct2rgb(pct: DataFrame, palette: np.ndarray) -> DataFrame:
    """pct2rgb analog (swig/python/scripts/pct2rgb.py): expand a
    palette-index tile table back to r/g/b bands via one broadcast LUT
    lookup per tile — the exact inverse of :func:`apply_palette` for
    in-gamut indices.  ``palette``: (n, 3) ints."""
    from .raster import tile_to_bytes

    pal = np.asarray(palette, dtype=np.int64)
    out_schema = "tx long, ty long, data_r binary, data_g binary, data_b binary"

    def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tx, ty, b in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                # apply_palette emits <i4 index tiles (quantize.py:163)
                flat = np.frombuffer(bytes(b), dtype="<i4").astype(np.int64)
                side = int(round(math.isqrt(flat.size)))
                idx = np.clip(flat.reshape(side, side), 0, pal.shape[0] - 1)
                rows.append(
                    (int(tx), int(ty),
                     tile_to_bytes(pal[idx, 0]), tile_to_bytes(pal[idx, 1]),
                     tile_to_bytes(pal[idx, 2]))
                )
            yield pd.DataFrame(rows, columns=["tx", "ty", "data_r", "data_g", "data_b"])

    return pct.mapInPandas(_expand, out_schema)
