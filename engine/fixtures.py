"""Seeded synthetic fixtures (FIXTURES.md §§1-4): pages, gazetteer, polygons,
point queries.  Deterministic for a given (seed, n) — numpy PCG64 streams.

The pages table has exactly the BASELINE.json input_hint shape:
``(url string, warc_ts timestamp, html binary, text string, lang string)``;
``html`` is rendered from ``text`` so extraction is exactly invertible
(engine.extract).  Gazetteer place tokens are embedded in the text so the
geotag stage (broadcast join) can recover a deterministic (lon, lat).
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

from . import geom
from .extract import render_html

LANGS = ["en", "en", "en", "de", "fr", "es", "pt", "zz"]  # zipf-ish skew
_WORDS = (
    "the quick crawl web page data spark tile join index query scan cell "
    "zoom level pyramid vector raster point polygon filter shuffle partition"
).split()

# Mercator edge cases every gazetteer embeds (FIXTURES.md §2)
EDGE_POINTS = [
    (0.0, 0.0),
    (-180.0, 0.0),
    (179.9999999, 0.0),
    (0.0, 85.05112877980659),
    (0.0, -85.05112877980659),
    (45.0, 45.0),  # exact z>=3 tile corner in mercator x
    (-90.0, 66.51326044311186),  # z1 tile corner latitude
]


def _halton(i: np.ndarray, base: int) -> np.ndarray:
    """Deterministic Halton low-discrepancy sequence (vectorized)."""
    result = np.zeros(i.shape, dtype=np.float64)
    f = 1.0
    i = i.copy()
    while i.max() > 0:
        f = f / base
        result += f * (i % base)
        i = i // base
    return result


def make_gazetteer(n: int = 5000, n_countries: int = 500, seed: int = 42) -> pd.DataFrame:
    """Unique, never-substring-ambiguous place tokens → deterministic lon/lat.

    Stand-in for the reference's geocoding cache table
    (ogr/ogr_geocoding.cpp:115-117): the broadcast side of the geotag join.
    """
    idx = np.arange(n, dtype=np.int64)
    names = np.array([f"Ztown{i:05d}x" for i in idx])
    lon = _halton(idx + 1, 2) * 360.0 - 180.0
    lat = _halton(idx + 1, 3) * 170.0 - 85.0
    # overwrite a deterministic stripe with the edge cases
    for k, (elon, elat) in enumerate(EDGE_POINTS):
        if k < n:
            lon[k * (n // len(EDGE_POINTS))] = elon
            lat[k * (n // len(EDGE_POINTS))] = elat
    country = (idx * 7919) % n_countries
    return pd.DataFrame(
        {"name": names, "lon": lon, "lat": lat, "country_id": country.astype(np.int32)}
    )


def make_pages(
    n: int = 10000,
    gazetteer: pd.DataFrame | None = None,
    seed: int = 42,
    hot_cell_frac: float = 0.0,
) -> pd.DataFrame:
    """(url, warc_ts, html, text, lang) — text embeds 0-3 gazetteer tokens.

    ``hot_cell_frac`` > 0 concentrates that fraction of geotagged rows on ONE
    gazetteer entry (the skew fixture `pages_hot`, FIXTURES.md §1).
    """
    rng = np.random.default_rng(seed)
    if gazetteer is None:
        gazetteer = make_gazetteer(seed=seed)
    gnames = gazetteer["name"].to_numpy()
    idx = np.arange(n, dtype=np.int64)
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    urls = np.array([f"https://site{i % 1000}.example/{langs[i]}/page{i}" for i in idx])
    t0 = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    ts = pd.to_datetime([t0 + _dt.timedelta(seconds=int(7 * i)) for i in idx], utc=True)
    n_places = rng.integers(0, 4, n)
    texts = []
    for i in idx:
        nw = int(rng.integers(12, 120))
        words = list(rng.choice(_WORDS, nw))
        k = int(n_places[i])
        if k:
            if hot_cell_frac and rng.random() < hot_cell_frac:
                picks = [gnames[0]]
            else:
                picks = list(rng.choice(gnames, k))
            pos = sorted(rng.integers(0, nw + 1, len(picks)))
            for j, p in enumerate(picks):
                words.insert(int(pos[j]) + j, p)
        texts.append(" ".join(words))
    html = [render_html(t) for t in texts]
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html, "text": texts, "lang": langs}
    )


def make_polygons(n: int = 500, seed: int = 42) -> pd.DataFrame:
    """(polygon_id, name, geom_wkb, minx..maxy) — grid cells + hard cases.

    Base: a non-overlapping lon/lat grid covering the world.  Hard cases
    (FIXTURES.md §3): concave ring, polygon with hole, sliver straddling a
    tile boundary, overlapping pair (pins multi-match join semantics).
    """
    rows = []
    ncols = int(np.ceil(np.sqrt(n)))
    nrows = int(np.ceil(n / ncols))
    dlon, dlat = 360.0 / ncols, 170.0 / nrows
    pid = 0
    for r in range(nrows):
        for c in range(ncols):
            if pid >= n - 4:
                break
            x0, y0 = -180.0 + c * dlon, -85.0 + r * dlat
            ring = [(x0, y0), (x0 + dlon, y0), (x0 + dlon, y0 + dlat), (x0, y0 + dlat)]
            rows.append((pid, f"region-{pid}", geom.wkb_polygon([ring])))
            pid += 1
    # concave (C-shape) around (10,10)
    rows.append(
        (pid, f"concave-{pid}", geom.wkb_polygon(
            [[(8, 8), (14, 8), (14, 10), (10, 10), (10, 12), (14, 12), (14, 14), (8, 14)]]
        ))
    )
    pid += 1
    # polygon with a hole around (-30,-30)
    rows.append(
        (pid, f"holed-{pid}", geom.wkb_polygon(
            [
                [(-34, -34), (-26, -34), (-26, -26), (-34, -26)],
                [(-31, -31), (-29, -31), (-29, -29), (-31, -29)],
            ]
        ))
    )
    pid += 1
    # sliver straddling the z8 mercator tile boundary at lon=45
    rows.append(
        (pid, f"sliver-{pid}", geom.wkb_polygon(
            [[(44.999, 20.0), (45.001, 20.0), (45.001, 21.0), (44.999, 21.0)]]
        ))
    )
    pid += 1
    # overlapping pair member (overlaps grid cells near (60,40))
    rows.append(
        (pid, f"overlap-{pid}", geom.wkb_polygon(
            [[(55, 35), (65, 35), (65, 45), (55, 45)]]
        ))
    )
    pid += 1
    df = pd.DataFrame(rows, columns=["polygon_id", "name", "geom_wkb"])
    env = np.array([geom.envelope(w) for w in df["geom_wkb"]])
    df["minx"], df["miny"], df["maxx"], df["maxy"] = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
    df["polygon_id"] = df["polygon_id"].astype(np.int32)
    return df


def subdivide_polygons(df: pd.DataFrame, factor: int = 10) -> pd.DataFrame:
    """polys-large: split each grid cell into factor×factor subcells (same
    covered area, ~factor² rows) to force the shuffle/cell-prefix join plan."""
    rows = []
    pid = 100000
    for _, row in df.iterrows():
        kind, body = geom.wkb_loads(row["geom_wkb"])
        if kind != "Polygon" or len(body) != 1 or len(body[0]) != 5:
            rows.append((pid, row["name"], row["geom_wkb"]))
            pid += 1
            continue
        ring = body[0]
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        dx, dy = (x1 - x0) / factor, (y1 - y0) / factor
        for i in range(factor):
            for j in range(factor):
                sub = [
                    (x0 + i * dx, y0 + j * dy),
                    (x0 + (i + 1) * dx, y0 + j * dy),
                    (x0 + (i + 1) * dx, y0 + (j + 1) * dy),
                    (x0 + i * dx, y0 + (j + 1) * dy),
                ]
                rows.append((pid, row["name"], geom.wkb_polygon([sub])))
                pid += 1
    out = pd.DataFrame(rows, columns=["polygon_id", "name", "geom_wkb"])
    env = np.array([geom.envelope(w) for w in out["geom_wkb"]])
    out["minx"], out["miny"], out["maxx"], out["maxy"] = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
    out["polygon_id"] = out["polygon_id"].astype(np.int32)
    return out
