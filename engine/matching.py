"""Image matching (GDAL correlator): SimpleSURF keypoints + greedy
ratio-test matching, re-expressed as a per-image-pair DataFrame operator.

Reference semantics (re-derived, not ported):

* ``GDALComputeMatchingPoints`` (alg/gdalmatching.cpp:166-299): detect
  feature points on two images with a simplified SURF, match them, and
  emit GCPs ``(pixel1+0.5, line1+0.5) -> (x2+0.5, y2+0.5)`` — optionally
  pushed through the second image's geotransform.
* Integral image + box sums (alg/gdal_octave.cpp:49-134): inclusive
  prefix-sum matrix; ``GetRectangleSum`` clamps the bottom-right corner to
  the image edge, treats out-of-range corners as 0 and floors negative
  results at 0; Haar wavelets are signed half-box differences.
* Fast-Hessian octave layers (alg/gdal_octave.cpp:153-214): for octave
  ``o`` and interval ``i`` the filter side is ``3*(2^o*i+1)``; dxx/dyy/dxy
  are the exact box-filter combinations of the reference (including its
  asymmetric dyy window), normalized by ``side^2``;
  ``det = dxx*dyy - 0.81*dxy^2``, ``sign = dxx+dyy >= 0``.
* Extremum rule (alg/gdal_octave.cpp:256-287): middle layer of each
  (bot,mid,top) interval triple, det >= threshold, strictly greater than
  all 26 neighbours, and the full top-layer filter must fit inside the
  image.
* Descriptor (alg/gdal_simplesurf.cpp:276-338): 4x4 quadrants x 5x5
  sub-quadrants of a ``20*scale`` square centred on the point; per
  quadrant the 4 sums (dx, dy, |dx|, |dy|) of Haar responses of side
  ``2*scale`` — 64 doubles.
* Matching (alg/gdal_simplesurf.cpp:357-516): the smaller collection
  drives a sequential greedy scan; candidates must have the same Laplacian
  sign and not be matched yet; nearest/2nd-nearest Euclidean descriptor
  distances feed a 0.8 ratio test (including the reference's quirky
  running 2nd-nearest update, reproduced verbatim); surviving distances
  are normalized by their maximum and pruned at ``matching_threshold``.

Scale design: the algorithm is whole-image by construction (the integral
image and the greedy matcher both need the full frame), exactly like the
reference, so the distributed unit is the *image pair*: a fleet of scene
pairs fans out one Arrow-batched python task per pair, keypoint extraction
is vectorized numpy (all pixels of a layer at once, all keypoints of a
layer's descriptor grid at once), and only the bounded GCP list crosses
back. No driver-side loops, no shuffle beyond the per-pair groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DESC_SIZE = 64
RATIO_THRESHOLD = 0.8


def integral_image(img: np.ndarray) -> np.ndarray:
    """Inclusive 2-D prefix sum (alg/gdal_octave.cpp:49-76)."""
    return np.cumsum(np.cumsum(np.asarray(img, dtype=np.float64), axis=0), axis=1)


def _padded(S: np.ndarray) -> np.ndarray:
    """Zero-pad the inclusive prefix matrix with a leading row+column so
    every corner read of the clamped box sum is a single mask-free gather:
    ``P[r+1, c+1] == S[r, c]`` and all "corner out of range -> 0" cases of
    the reference land on the zero border."""
    H, W = S.shape
    P = np.zeros((H + 1, W + 1), dtype=np.float64)
    P[1:, 1:] = S
    return P


def _rect_sum_p(P: np.ndarray, row, col, width: int, height: int) -> np.ndarray:
    """Box sum over a padded prefix matrix, semantics of
    alg/gdal_octave.cpp:89-122 (see :func:`rect_sum`)."""
    H = P.shape[0] - 1
    W = P.shape[1] - 1
    row = np.asarray(row, dtype=np.int64)
    col = np.asarray(col, dtype=np.int64)
    h = height - 1
    w = width - 1
    # lt index in P-space: row if row <= H (corner row-1), else the zero
    # border; negative corners clip onto the zero border too
    lt_r = np.clip(np.where(row <= H, row, 0), 0, H)
    lt_c = np.clip(np.where(col <= W, col, 0), 0, W)
    rb_r = np.clip(np.where(row + h < H, row + h, H - 1) + 1, 0, H)
    rb_c = np.clip(np.where(col + w < W, col + w, W - 1) + 1, 0, W)
    res = P[lt_r, lt_c] + P[rb_r, rb_c] - P[lt_r, rb_c] - P[rb_r, lt_c]
    return np.maximum(res, 0.0)


def rect_sum(S: np.ndarray, row, col, width: int, height: int) -> np.ndarray:
    """Box sum with the reference's clamping (alg/gdal_octave.cpp:89-122):
    bottom-right corner clamps to the image edge, out-of-range corners read
    as 0, and negative results floor at 0.  ``row``/``col`` may be arrays;
    ``width``/``height`` are scalars (rectangle side lengths)."""
    return _rect_sum_p(_padded(S), row, col, width, height)


def _haar_x_p(P: np.ndarray, row, col, size: int) -> np.ndarray:
    return (_rect_sum_p(P, row, col + size // 2, size // 2, size)
            - _rect_sum_p(P, row, col, size // 2, size))


def _haar_y_p(P: np.ndarray, row, col, size: int) -> np.ndarray:
    return (_rect_sum_p(P, row + size // 2, col, size, size // 2)
            - _rect_sum_p(P, row, col, size, size // 2))


class _Layer:
    """One Fast-Hessian octave layer (alg/gdal_octave.cpp:153-214)."""

    __slots__ = ("octave", "interval", "filter_size", "radius", "scale", "det", "signs")

    def __init__(self, S: np.ndarray, octave: int, interval: int, P: np.ndarray | None = None):
        if P is None:
            P = _padded(S)
        H, W = S.shape
        self.octave = octave
        self.interval = interval
        self.filter_size = 3 * ((1 << octave) * interval + 1)
        self.radius = (self.filter_size - 1) // 2
        self.scale = 1 << octave
        fs, radius, lobe = self.filter_size, self.radius, self.filter_size // 3
        long_part = 2 * lobe - 1
        norm = float(fs * fs)
        det = np.zeros((H, W), dtype=np.float64)
        signs = np.zeros((H, W), dtype=np.int8)
        r = np.arange(radius, H - radius + 1, dtype=np.int64)
        c = np.arange(radius, W - radius + 1, dtype=np.int64)
        if r.size and c.size:
            R = r[:, None]
            C = c[None, :]
            dxx = (_rect_sum_p(P, R - lobe + 1, C - radius, fs, long_part)
                   - 3 * _rect_sum_p(P, R - lobe + 1, C - (lobe - 1) // 2, lobe, long_part)) / norm
            dyy = (_rect_sum_p(P, R - radius, C - lobe - 1, long_part, fs)
                   - 3 * _rect_sum_p(P, R - lobe + 1, C - lobe + 1, long_part, lobe)) / norm
            dxy = (_rect_sum_p(P, R - lobe, C - lobe, lobe, lobe)
                   + _rect_sum_p(P, R + 1, C + 1, lobe, lobe)
                   - _rect_sum_p(P, R - lobe, C + 1, lobe, lobe)
                   - _rect_sum_p(P, R + 1, C - lobe, lobe, lobe)) / norm
            det[radius:radius + r.size, radius:radius + c.size] = dxx * dyy - 0.9 * 0.9 * dxy * dxy
            signs[radius:radius + r.size, radius:radius + c.size] = np.where(dxx + dyy >= 0, 1, -1)
        self.det = det
        self.signs = signs


def _descriptors(P: np.ndarray, xs: np.ndarray, ys: np.ndarray, scale: int) -> np.ndarray:
    """64-dim SURF descriptors for all keypoints of one layer at once
    (alg/gdal_simplesurf.cpp:276-338).  ``P`` is the padded prefix matrix
    from :func:`_padded`."""
    n = xs.size
    haar_size = 2 * scale
    desc_side = 20 * scale
    quad_step = desc_side // 4
    sub_step = quad_step // 5
    lt_row = ys - desc_side // 2
    lt_col = xs - desc_side // 2
    # all 16 quadrants x 25 sub-quadrants as one (n, 400) offset grid:
    # 8 big gathers total instead of 1600 small ones.  Cell order matches
    # the reference loops: quadrant-major (qr, qc), then (sr, sc).
    sub = np.arange(5) * sub_step
    cell_r = (np.repeat(np.arange(4) * quad_step, 4)[:, None]
              + np.repeat(sub, 5)[None, :]).reshape(16, 25)
    cell_c = (np.tile(np.arange(4) * quad_step, 4)[:, None]
              + np.tile(sub, 5)[None, :]).reshape(16, 25)
    off_r = (cell_r + sub_step // 2 - haar_size // 2).ravel()
    off_c = (cell_c + sub_step // 2 - haar_size // 2).ravel()
    cur_r = lt_row[:, None] + off_r[None, :]
    cur_c = lt_col[:, None] + off_c[None, :]
    cdx = _haar_x_p(P, cur_r, cur_c, haar_size).reshape(n, 16, 25)
    cdy = _haar_y_p(P, cur_r, cur_c, haar_size).reshape(n, 16, 25)
    desc = np.empty((n, 16, 4), dtype=np.float64)
    desc[:, :, 0] = cdx.sum(axis=2)
    desc[:, :, 1] = cdy.sum(axis=2)
    desc[:, :, 2] = np.abs(cdx).sum(axis=2)
    desc[:, :, 3] = np.abs(cdy).sum(axis=2)
    return desc.reshape(n, DESC_SIZE)


def extract_feature_points(
    img: np.ndarray,
    octave_start: int = 2,
    octave_end: int = 2,
    threshold: float = 0.001,
) -> dict:
    """SimpleSURF keypoints of a grayscale image
    (alg/gdal_simplesurf.cpp:210-246).  Returns arrays
    ``{x, y, scale, radius, sign, desc}`` in the reference's emission
    order (octave asc, interval triple asc, row-major) — the greedy
    matcher is order-sensitive, so order is part of the contract."""
    img = np.asarray(img, dtype=np.float64)
    if octave_start <= 0 or octave_end < octave_start:
        raise ValueError("octave numbers are invalid")
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    H, W = img.shape
    S = integral_image(img)
    P = _padded(S)
    xs, ys, scales, radii, signs, descs = [], [], [], [], [], []
    for octave in range(octave_start, octave_end + 1):
        layers = [_Layer(S, octave, i, P=P) for i in (1, 2, 3, 4)]
        for k in range(2):
            bot, mid, top = layers[k], layers[k + 1], layers[k + 2]
            tr = top.radius
            r0, r1 = tr + 1, H - tr - 1
            c0, c1 = tr + 1, W - tr - 1
            if r1 < r0 or c1 < c0:
                continue
            cur = mid.det[r0:r1 + 1, c0:c1 + 1]
            mask = cur >= threshold
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    t = top.det[r0 + di:r1 + 1 + di, c0 + dj:c1 + 1 + dj]
                    b = bot.det[r0 + di:r1 + 1 + di, c0 + dj:c1 + 1 + dj]
                    mask &= (t < cur) & (b < cur)
                    if di or dj:
                        mask &= mid.det[r0 + di:r1 + 1 + di, c0 + dj:c1 + 1 + dj] < cur
            rr, cc = np.nonzero(mask)
            if rr.size == 0:
                continue
            y = rr + r0
            x = cc + c0
            xs.append(x)
            ys.append(y)
            scales.append(np.full(x.size, mid.scale, dtype=np.int64))
            radii.append(np.full(x.size, mid.radius, dtype=np.int64))
            signs.append(mid.signs[y, x].astype(np.int64))
            descs.append(_descriptors(P, x, y, mid.scale))
    if not xs:
        z = np.zeros(0, dtype=np.int64)
        return {"x": z, "y": z, "scale": z, "radius": z, "sign": z,
                "desc": np.zeros((0, DESC_SIZE))}
    return {
        "x": np.concatenate(xs), "y": np.concatenate(ys),
        "scale": np.concatenate(scales), "radius": np.concatenate(radii),
        "sign": np.concatenate(signs), "desc": np.vstack(descs),
    }


def match_feature_points(kp1: dict, kp2: dict, matching_threshold: float = 0.015) -> list:
    """Greedy ratio-test matching (alg/gdal_simplesurf.cpp:357-516).
    Returns ``[(i1, i2, normalized_dist), ...]`` — indexes into ``kp1`` and
    ``kp2`` — reproducing the reference exactly: the smaller collection
    drives, already-matched points are excluded, the running 2nd-nearest
    update follows the reference's (quirky) scan, ratio < 0.8 accepts, and
    distances are max-normalized before the final threshold prune."""
    len1, len2 = kp1["x"].size, kp2["x"].size
    swap = min(len1, len2) == len2
    p1, p2 = (kp2, kp1) if swap else (kp1, kp2)
    n2 = p2["x"].size
    already = np.zeros(n2, dtype=bool)
    pairs = []
    for i in range(p1["x"].size):
        cand = np.nonzero(~already & (p2["sign"] == p1["sign"][i]))[0]
        if cand.size == 0:
            continue
        diffs = p2["desc"][cand] - p1["desc"][i]
        dists = np.sqrt(np.einsum("ij,ij->i", diffs, diffs))
        best = -1.0
        best_idx = -1
        best2 = -1.0
        for j, cur in zip(cand, dists):
            if best == -1.0:
                best = cur
                best_idx = j
            elif cur < best:
                best = cur
                best_idx = j
            if best2 < 0:
                best2 = cur
            elif cur > best and cur < best2:
                best2 = cur
        if best2 > 0 and best >= 0 and best / best2 < RATIO_THRESHOLD:
            pairs.append([i, best_idx, best])
            already[best_idx] = True
    if not pairs:
        return []
    maxd = max(p[2] for p in pairs)
    if maxd != 0:
        for p in pairs:
            p[2] /= maxd
    out = []
    for i, j, d in pairs:
        if d <= matching_threshold:
            out.append((j, i, d) if swap else (i, j, d))
    return out


def compute_matching_points(
    img1: np.ndarray,
    img2: np.ndarray,
    octave_start: int = 2,
    octave_end: int = 2,
    surf_threshold: float = 0.001,
    matching_threshold: float = 0.015,
    geotransform2=None,
) -> np.ndarray:
    """GDALComputeMatchingPoints for one pair of grayscale images
    (alg/gdalmatching.cpp:166-299): rows of
    ``(gcp_pixel, gcp_line, gcp_x, gcp_y, dist)`` where pixel/line are on
    the first image and x/y on the second (both +0.5 pixel-centre), with
    ``geotransform2`` optionally applied to x/y (OUTPUT_GEOREF)."""
    kp1 = extract_feature_points(img1, octave_start, octave_end, surf_threshold)
    kp2 = extract_feature_points(img2, octave_start, octave_end, surf_threshold)
    matches = match_feature_points(kp1, kp2, matching_threshold)
    out = np.empty((len(matches), 5), dtype=np.float64)
    for r, (i, j, d) in enumerate(matches):
        px, py = kp1["x"][i] + 0.5, kp1["y"][i] + 0.5
        gx, gy = kp2["x"][j] + 0.5, kp2["y"][j] + 0.5
        if geotransform2 is not None:
            gt = geotransform2
            gx, gy = (gt[0] + gx * gt[1] + gy * gt[2],
                      gt[3] + gx * gt[4] + gy * gt[5])
        out[r] = (px, py, gx, gy, d)
    return out


MATCH_SCHEMA = StructType([
    StructField("pair_id", LongType()),
    StructField("gcp_pixel", DoubleType()),
    StructField("gcp_line", DoubleType()),
    StructField("gcp_x", DoubleType()),
    StructField("gcp_y", DoubleType()),
    StructField("dist", DoubleType()),
])

PAIR_SCHEMA = StructType([
    StructField("pair_id", LongType()),
    StructField("h1", IntegerType()),
    StructField("w1", IntegerType()),
    StructField("img1", BinaryType()),
    StructField("h2", IntegerType()),
    StructField("w2", IntegerType()),
    StructField("img2", BinaryType()),
])


def match_image_pairs(
    pairs: DataFrame,
    octave_start: int = 2,
    octave_end: int = 2,
    surf_threshold: float = 0.001,
    matching_threshold: float = 0.015,
) -> DataFrame:
    """Distributed GDALComputeMatchingPoints over a DataFrame of image
    pairs ``(pair_id, h1, w1, img1:binary<f8 row-major>, h2, w2, img2)``.
    One Arrow task per pair (the reference algorithm is whole-image by
    construction — the integral image and greedy matcher need the full
    frame); parallelism comes from the pair fleet, the natural unit when
    correlating scene archives.  Returns MATCH_SCHEMA rows."""
    sc = pairs.sparkSession.sparkContext
    nparts = max(sc.defaultParallelism, 1)

    def _match(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for t in pdf.itertuples(index=False):
            a = np.frombuffer(t.img1, dtype="<f8").reshape(t.h1, t.w1)
            b = np.frombuffer(t.img2, dtype="<f8").reshape(t.h2, t.w2)
            g = compute_matching_points(
                a, b, octave_start, octave_end, surf_threshold, matching_threshold)
            frames.append(pd.DataFrame({
                "pair_id": np.full(len(g), t.pair_id, dtype=np.int64),
                "gcp_pixel": g[:, 0], "gcp_line": g[:, 1],
                "gcp_x": g[:, 2], "gcp_y": g[:, 3], "dist": g[:, 4],
            }))
        if not frames:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in MATCH_SCHEMA})
        return pd.concat(frames, ignore_index=True)

    # CPU-bound grouped stage: pin the partition count so AQE's size-based
    # coalesce can't serialize the pair fleet onto a few tasks.
    return (
        pairs.repartition(nparts, "pair_id")
        .groupBy("pair_id")
        .applyInPandas(_match, MATCH_SCHEMA)
    )


FIT_SCHEMA = StructType([
    StructField("pair_id", LongType()),
    StructField("n_gcps", IntegerType()),
    StructField("gt0", DoubleType()),
    StructField("gt1", DoubleType()),
    StructField("gt2", DoubleType()),
    StructField("gt3", DoubleType()),
    StructField("gt4", DoubleType()),
    StructField("gt5", DoubleType()),
    StructField("rms", DoubleType()),
])


def fit_pair_transforms(gcps: DataFrame, min_gcps: int = 3) -> DataFrame:
    """Least-squares affine per image pair from matched GCPs — the
    gcps2wld.py / GDALGCPsToGeoTransform analog
    (swig/python/scripts/gcps2wld.py; gcore/gdal_misc.cpp
    GDALGCPsToGeoTransform): fit ``(x, y) = GT(pixel, line)`` with the
    GDAL geotransform layout ``x = gt0 + px*gt1 + ln*gt2``,
    ``y = gt3 + px*gt4 + ln*gt5``, over MATCH_SCHEMA rows (the output of
    :func:`match_image_pairs`).  Emits per-pair coefficients + RMS
    residual; pairs with fewer than ``min_gcps`` points are dropped (an
    affine needs 3 non-collinear points).  Composes into the registration
    pipeline: correlate scene pairs -> fit -> warp_custom."""
    from .transformer import GCPPolynomialTransformer

    sc = gcps.sparkSession.sparkContext
    nparts = max(sc.defaultParallelism, 1)

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_gcps:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in FIT_SCHEMA})
        g = [(px, ln, x, y) for px, ln, x, y in zip(
            pdf.gcp_pixel, pdf.gcp_line, pdf.gcp_x, pdf.gcp_y)]
        try:
            tr = GCPPolynomialTransformer(g, order=1)
        except Exception:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in FIT_SCHEMA})
        fx, fy = tr.forward(pdf.gcp_pixel.to_numpy(), pdf.gcp_line.to_numpy())
        rms = float(np.sqrt(np.mean((fx - pdf.gcp_x.to_numpy()) ** 2
                                    + (fy - pdf.gcp_y.to_numpy()) ** 2)))
        # _poly_design order-1 basis is [1, line, pixel]: coefficient 2 is
        # the pixel term (gt1/gt4), coefficient 1 the line term (gt2/gt5)
        cx, cy = tr.fwd_x, tr.fwd_y
        return pd.DataFrame([{
            "pair_id": int(pdf.pair_id.iloc[0]), "n_gcps": len(pdf),
            "gt0": cx[0], "gt1": cx[2], "gt2": cx[1],
            "gt3": cy[0], "gt4": cy[2], "gt5": cy[1],
            "rms": rms,
        }])

    return (
        gcps.repartition(nparts, "pair_id")
        .groupBy("pair_id")
        .applyInPandas(_fit, FIT_SCHEMA)
    )


def gcps_to_vector(gcps: DataFrame, links: bool = False) -> DataFrame:
    """gcps2vec analog (swig/python/scripts/gcps2vec.py): a GCP table ->
    point layer at the georeferenced positions with pixel/line attributes;
    ``links=True`` instead emits a LineString per GCP from the raw
    (pixel, line) position to the (x, y) position (the -l mode, for
    visual residual inspection).  Pure projection — no shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from . import geom as _geom

    @F.pandas_udf(BinaryType())
    def _pt(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [_geom.wkb_point(float(a), float(b)) for a, b in zip(x, y)]
        )

    @F.pandas_udf(BinaryType())
    def _link(px: pd.Series, ln: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _geom.wkb_linestring([(float(a), float(b)), (float(c), float(d))])
                for a, b, c, d in zip(px, ln, x, y)
            ]
        )

    if links:
        g = _link(F.col("gcp_pixel"), F.col("gcp_line"), F.col("gcp_x"), F.col("gcp_y"))
    else:
        g = _pt(F.col("gcp_x"), F.col("gcp_y"))
    return gcps.withColumn("geom_wkb", g)


def move_geotransform(gt, affine):
    """gdalmove analog (swig/python/scripts/gdalmove.py): compose an affine
    correction ``x' = c0 + c1 x + c2 y ; y' = c3 + c4 x + c5 y`` onto a GDAL
    geotransform WITHOUT resampling pixels — only the georeferencing
    changes.  Returns the new 6-tuple."""
    g0, g1, g2, g3, g4, g5 = (float(v) for v in gt)
    c0, c1, c2, c3, c4, c5 = (float(v) for v in affine)
    return (
        c0 + c1 * g0 + c2 * g3,
        c1 * g1 + c2 * g4,
        c1 * g2 + c2 * g5,
        c3 + c4 * g0 + c5 * g3,
        c4 * g1 + c5 * g4,
        c4 * g2 + c5 * g5,
    )
