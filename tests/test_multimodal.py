"""Multimodal binary-column plumbing (fake decoder; real codec stubbed) and
IDW interpolation vs brute-force oracle."""

import numpy as np
import pandas as pd
import pytest

from engine import multimodal
from jpeg_progressive import encode_jpeg_progressive


@pytest.fixture(scope="module")
def media(spark):
    pdf = multimodal.make_media_fixture(n=30)
    return spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA), pdf


def test_decode_stub_raises_without_codec():
    if not multimodal._HAVE_PIL:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"xx", {"width": 2, "height": 2, "channels": 3})


def test_feature_extraction_deterministic(spark, media):
    sdf, pdf = media
    feats = {r.media_id: r.features for r in multimodal.extract_image_features(sdf).collect()}
    assert len(feats) == len(pdf)
    # oracle: same pooling in-process
    for r in pdf.itertuples():
        arr = multimodal.fake_decode(r.media, r.meta).astype(np.float64)
        h, w, c = arr.shape
        gh, gw = max(h // 4, 1), max(w // 4, 1)
        pooled = arr[: gh * 4, : gw * 4].reshape(4, gh, 4, gw, c).mean(axis=(1, 3))
        expect = pooled.ravel().astype(np.float32)
        assert np.allclose(feats[r.media_id], expect)


def test_resize_roundtrip_meta(spark, media):
    sdf, pdf = media
    out = multimodal.resize_images(sdf, 8, 6).collect()
    assert len(out) == len(pdf)
    for r in out:
        assert r.meta.width == 8 and r.meta.height == 6
        arr = np.frombuffer(bytes(r.media), dtype=np.uint8)
        assert arr.size == 8 * 6 * 3


def test_frame_sampling(spark, media):
    sdf, pdf = media
    frames = multimodal.sample_frames(sdf, every_n=4).collect()
    expect_n = sum(int(np.ceil(r.meta["height"] / 4)) for r in pdf.itertuples())
    assert len(frames) == expect_n
    assert all(f.meta.height == 1 and f.media_type == "frame" for f in frames)


def test_idw_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from engine import joins

    spark_pts = spark.range(0, 2000).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 360) * 1.0 - 180.0 + 0.5).alias("lon"),
        (((F.col("id") * 7) % 160) * 1.0 - 80.0 + 0.5).alias("lat"),
        (F.col("id") % 97).cast("double").alias("val"),
    )
    queries = spark.range(0, 40).select(
        (F.col("id") * 50).alias("qid"),
        ((F.col("id") * 50 % 360) * 1.0 - 180.0 + 0.5).alias("lon"),
        (((F.col("id") * 50 * 7) % 160) * 1.0 - 80.0 + 0.5).alias("lat"),
    )
    got = {
        r.qid: r.idw_value
        for r in joins.idw_interpolate(queries, spark_pts, "val", power=2, zoom=5, ring=1).collect()
    }
    pts = spark_pts.collect()
    qs = queries.collect()
    import math

    from engine import tiles

    for q in qs:
        qtx, qty = (int(v[0]) for v in tiles.lonlat_to_tile(np.array([q.lon]), np.array([q.lat]), 5))
        num = den = 0.0
        exact = None
        for p in pts:
            ptx, pty = (int(v[0]) for v in tiles.lonlat_to_tile(np.array([p.lon]), np.array([p.lat]), 5))
            if abs(ptx - qtx) <= 1 and abs(pty - qty) <= 1:
                d2 = (q.lon - p.lon) ** 2 + (q.lat - p.lat) ** 2
                if d2 == 0:
                    exact = p.val if exact is None else min(exact, p.val)
                else:
                    num += p.val / d2
                    den += 1.0 / d2
        if exact is not None:
            assert got[q.qid] == exact
        elif den > 0:
            assert got[q.qid] == pytest.approx(num / den, rel=1e-9)
        else:
            assert got.get(q.qid) is None or math.isnan(got[q.qid])


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4/16 lists recovers most of the brute-force top-3
    (recall property), and nprobe=16 (all lists) recovers it exactly."""
    import numpy as np
    import pandas as pd

    from engine import ann
    from pyspark.sql import functions as F

    rng = np.random.default_rng(12)
    vecs = rng.normal(0, 1, (400, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(400), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    cent = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("cvec")
    )
    q = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got4 = ann.ivf_topk(emb, cent, q, k=3, nprobe=4).collect()
    got_all = {(r.qid, r.neighbor) for r in ann.ivf_topk(emb, cent, q, k=3, nprobe=16).collect()}
    # brute force oracle in numpy
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = nv @ nv.T
    np.fill_diagonal(sims, -2)
    brute = set()
    for qid in range(0, 400, 40):
        order = np.lexsort((np.arange(400), -sims[qid]))[:3]
        brute.update((qid, int(n)) for n in order)
    assert got_all == brute  # probing every list == exact search
    hit4 = {(r.qid, r.neighbor) for r in got4}
    recall = len(hit4 & brute) / len(brute)
    assert recall >= 0.5, recall  # 4/16 lists on random data


def test_kmeans_fit_recovers_clusters(spark):
    import pandas as pd

    from engine import ann

    # 4 well-separated centers in 8-d; 50 points each with small jitter
    rng = np.random.default_rng(2)
    centers = rng.uniform(-10, 10, (4, 8))
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.normal(0, 0.05, 8)).tolist()))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]), schema="vec_id long, embedding array<double>"
    )
    cent = ann.kmeans_fit(emb, k=4, max_iters=15)
    got = np.array(sorted([r.cvec for r in cent.collect()], key=lambda v: v[0]))
    exp = centers[np.argsort(centers[:, 0])]
    # every fitted centroid lands within the jitter scale of a true center
    assert got.shape == (4, 8)
    assert np.abs(got - exp).max() < 0.1
    # fitted centroids drive the IVF index end-to-end
    from pyspark.sql import functions as F

    q = emb.limit(3).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    out = ann.ivf_topk(emb, cent, q, k=2, nprobe=1).collect()
    for r in out:
        assert r.qid % 4 == r.neighbor % 4  # neighbors come from the same true cluster


# -- real PNG codec path (engine/png.py, round 3) ---------------------------


def test_png_roundtrip_all_shapes():
    from engine import png

    rng = np.random.default_rng(3)
    for shape in [(16, 16), (7, 11, 3), (5, 9, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(png.decode_png(png.encode_png(img)), img)


def test_decode_image_real_png():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    out = multimodal.decode_image(multimodal.encode_image(img), None)
    assert np.array_equal(out, img)
    # greyscale decodes to (h, w, 1) for uniform downstream pooling
    grey = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    out2 = multimodal.decode_image(multimodal.encode_image(grey), None)
    assert out2.shape == (6, 8, 1) and np.array_equal(out2[:, :, 0], grey)


def test_pipeline_on_encoded_png(spark):
    """Feature-extract + resize run end-to-end on ACTUALLY-encoded PNG
    bytes through the real codec — no fake decoder."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(12):
        h, w = 8 + i % 5, 8 + (3 * i) % 7
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        rows.append((i, multimodal.encode_image(img), "image/png", {"width": w, "height": h, "channels": 3, "sample_rate": None}))
    pdf = pd.DataFrame(rows, columns=["media_id", "media", "media_type", "meta"])
    sdf = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_image_features(sdf, decoder=multimodal.decode_image).collect()
    assert len(feats) == 12
    assert all(len(r.features) == 4 * 4 * 3 for r in feats)
    resized = multimodal.resize_images(sdf, 4, 4, decoder=multimodal.decode_image).collect()
    assert len(resized) == 12


def test_grid_metrics_average_distance_pts_bruteforce(spark):
    """GGA_MetricAverageDistancePts (alg/gdalgrid.cpp:1385): mean distance
    over all unordered pairs of in-window points — checked against an
    O(n^2) numpy oracle, including the <2-point NULL case and duplicate
    coordinates counting as distinct points."""
    import itertools

    from pyspark.sql import functions as F

    from engine import joins

    spark_pts = spark.range(0, 400).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 40) * 0.25 - 5.0).alias("lon"),
        # id=0,1 collide exactly with id=200,201 → duplicate coordinates
        (((F.col("id") % 200) * 13 % 40) * 0.25 - 5.0).alias("lat"),
        (F.col("id") % 7).cast("double").alias("z"),
    )
    queries = spark.range(0, 25).select(
        F.col("id").cast("int").alias("qid"),
        ((F.col("id") % 5) * 2.0 - 4.0).alias("lon"),
        (F.floor(F.col("id") / 5) * 2.0 - 4.0).alias("lat"),
    )
    out = {
        r.qid: r
        for r in joins.grid_metrics(
            queries, spark_pts, "z", radius=1.2, zoom=6, distance_pts=True
        ).collect()
    }
    pts = [(r.lon, r.lat) for r in spark_pts.collect()]
    for q in queries.collect():
        inw = [(x, y) for x, y in pts if (x - q.lon) ** 2 + (y - q.lat) ** 2 <= 1.2 ** 2]
        if not inw:
            assert q.qid not in out
            continue
        row = out[q.qid]
        assert row["count"] == len(inw)
        if len(inw) < 2:
            assert row.average_distance_pts is None
        else:
            ds = [
                ((a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2) ** 0.5
                for a, b in itertools.combinations(inw, 2)
            ]
            assert abs(row.average_distance_pts - sum(ds) / len(ds)) < 1e-9


def test_grid_radius_windows_reach_points_away_from_the_equator(spark):
    """grid_metrics and grid_moving_average find every point within
    ``radius`` at any latitude (numpy brute force).  A zoom-6 mercator tile
    row is 4.1° tall at 45° and 1.0° at 80°: the query (10, 41.0), in tile
    row 40, must reach the point (10, 36.2), in row 38 and 4.8° away."""
    from engine import joins

    rng = np.random.default_rng(8)
    plon = np.concatenate([[10.0], rng.uniform(0.0, 20.0, 300)])
    plat = np.concatenate([[36.2], rng.uniform(30.0, 89.0, 300)])
    z = rng.uniform(0.0, 10.0, 301)
    pts = spark.createDataFrame(pd.DataFrame({"lon": plon, "lat": plat, "z": z}))
    qlon, qlat = [10.0, 5.0, 15.0], [41.0, 80.0, 60.0]
    queries = spark.createDataFrame(pd.DataFrame({"qid": [0, 1, 2], "lon": qlon, "lat": qlat}))
    met = {r.qid: r for r in joins.grid_metrics(queries, pts, "z", radius=5.0, zoom=6).collect()}
    avg = {r.qid: r for r in joins.grid_moving_average(queries, pts, "z", radius=5.0, zoom=6).collect()}
    for q, (lon, lat) in enumerate(zip(qlon, qlat)):
        near = (plon - lon) ** 2 + (plat - lat) ** 2 <= 25.0
        assert met[q]["count"] == avg[q]["count"] == near.sum() > 0, q
        assert (met[q].minimum, met[q].maximum) == (z[near].min(), z[near].max()), q
        assert abs(avg[q].moving_avg - z[near].mean()) < 1e-9, q


# ---------------------------------------------------------------------------
# Pure-numpy baseline JPEG codec (engine/jpeg.py)
# ---------------------------------------------------------------------------


def _smooth_rgb(h, w, seed=0):
    yy, xx = np.mgrid[0:h, 0:w].astype(float)
    return np.stack(
        [
            128 + 80 * np.sin(xx / 4 + seed) * np.cos(yy / 5),
            128 + 70 * np.cos(xx / 3 - seed),
            128 + 60 * np.sin(yy / 6 + 2 * seed),
        ],
        axis=-1,
    ).clip(0, 255).astype(np.uint8)


def test_jpeg_roundtrip_error_bounds():
    from engine import jpeg

    img = _smooth_rgb(70, 50)
    for q, bound in [(50, 12.0), (90, 4.0), (95, 3.0)]:
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q))
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.mean() < bound, (q, err.mean())


def test_jpeg_flat_image_exact():
    from engine import jpeg

    flat = np.full((24, 40, 3), 77, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(flat, quality=90))
    assert np.array_equal(out, flat)


def test_jpeg_grey_and_odd_dims():
    from engine import jpeg

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (13, 21), dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=85))
    assert out.shape == (13, 21, 1)
    # (h, w, 1) accepted like (h, w)
    out2 = jpeg.decode_jpeg(jpeg.encode_jpeg(g[:, :, None], quality=85))
    assert np.array_equal(out, out2)


def test_jpeg_420_matches_intrinsic_subsampling_loss():
    """4:2:0 decode error must track the unavoidable chroma box-average
    loss, not accumulate across MCUs (regression: restart-split ran after
    destuffing, so data FF + Dx bytes split the entropy segment)."""
    from engine import jpeg
    from engine.jpeg import _rgb_to_ycbcr, _ycbcr_to_rgb

    img = _smooth_rgb(70, 50, seed=1)
    ycc = _rgb_to_ycbcr(img)

    def updown(p):
        q = p.reshape(35, 2, 25, 2).mean(axis=(1, 3))
        return np.repeat(np.repeat(q, 2, axis=0), 2, axis=1)

    intrinsic = np.abs(
        _ycbcr_to_rgb(
            np.stack([ycc[:, :, 0], updown(ycc[:, :, 1]), updown(ycc[:, :, 2])], axis=-1)
        ).astype(int)
        - img.astype(int)
    ).mean()
    for ri in (0, 3):
        out = jpeg.decode_jpeg(
            jpeg.encode_jpeg(img, quality=95, subsample="420", restart_interval=ri)
        )
        err = np.abs(out.astype(int) - img.astype(int)).mean()
        assert err < intrinsic + 1.5, (ri, err, intrinsic)


def test_jpeg_restart_markers_present_and_equal():
    from engine import jpeg

    img = _smooth_rgb(48, 48, seed=2)
    plain = jpeg.encode_jpeg(img, quality=90)
    rst = jpeg.encode_jpeg(img, quality=90, restart_interval=2)
    assert b"\xFF\xDD" in rst and b"\xFF\xDD" not in plain
    a = jpeg.decode_jpeg(plain)
    b = jpeg.decode_jpeg(rst)
    # restart markers change framing, not reconstruction
    assert np.array_equal(a, b)


def test_jpeg_entropy_layer_lossless():
    """Huffman+magnitude coding round-trips arbitrary quantized blocks
    exactly (T.81 F.1.2) — isolates the lossless layer from the DCT."""
    from engine.jpeg import (_BitReader, _BitWriter, _encode_block, _extend,
                             _huff_codes, _huff_decoder, _read_symbol,
                             _HT_AC_C, _HT_DC_C)

    rng = np.random.default_rng(0)
    blocks = []
    for _ in range(300):
        zz = np.zeros(64, dtype=np.int64)
        nz = rng.integers(0, 30)
        pos = rng.choice(64, size=nz, replace=False)
        zz[pos] = rng.integers(-1000, 1000, nz)
        blocks.append(zz)
    enc_dc, enc_ac = _huff_codes(*_HT_DC_C), _huff_codes(*_HT_AC_C)
    dec_dc, dec_ac = _huff_decoder(*_HT_DC_C), _huff_decoder(*_HT_AC_C)
    bw = _BitWriter()
    pred = 0
    for zz in blocks:
        pred = _encode_block(bw, zz, pred, enc_dc, enc_ac)
    bw.flush()
    br = _BitReader(bytes(bw.buf).replace(b"\xff\x00", b"\xff"))
    pred = 0
    for zz in blocks:
        out = np.zeros(64, dtype=np.int64)
        size = _read_symbol(br, dec_dc)
        pred += _extend(br.read_bits(size), size)
        out[0] = pred
        k = 1
        while k < 64:
            rs = _read_symbol(br, dec_ac)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break
            k += r
            out[k] = _extend(br.read_bits(s), s)
            k += 1
        assert np.array_equal(out, zz)


def test_pipeline_on_encoded_jpeg(spark):
    """decode_image dispatches JPEG bytes through the real codec — the
    multimodal feature/resize pipeline runs end-to-end on actual JPEG."""
    from engine import jpeg

    rows = []
    for i in range(8):
        h, w = 16 + i % 5, 16 + (3 * i) % 7
        img = _smooth_rgb(h, w, seed=i)
        rows.append(
            (i, jpeg.encode_jpeg(img, quality=90), "image/jpeg",
             {"width": w, "height": h, "channels": 3, "sample_rate": None})
        )
    pdf = pd.DataFrame(rows, columns=["media_id", "media", "media_type", "meta"])
    sdf = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_image_features(sdf, decoder=multimodal.decode_image).collect()
    assert len(feats) == 8
    assert all(len(r.features) == 4 * 4 * 3 for r in feats)
    resized = multimodal.resize_images(sdf, 4, 4, decoder=multimodal.decode_image).collect()
    assert len(resized) == 8


def test_jpeg_progressive_matches_baseline_pixels():
    """T.81 §G: the progressive stream (DC Al=1→0, per-component AC Al=1→0)
    carries the SAME quantized coefficients as baseline at equal quality —
    decode of both must be pixel-identical, for RGB/grey, 444/420, and a
    noise image that stresses EOB runs, ZRL, and refinement bits."""
    from engine import jpeg

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:41, 0:67]
    img = np.stack([(xx * 3 + yy) % 256, (255 - xx) % 256, (xx * yy) % 256], axis=-1).astype(np.uint8)
    for q in (90, 40):
        for sub in ("444", "420"):
            base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q, subsample=sub))
            prog = jpeg.decode_jpeg(encode_jpeg_progressive(img, quality=q, subsample=sub))
            assert np.array_equal(base, prog), (q, sub)
    g = ((xx + 2 * yy) % 256).astype(np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=85)),
        jpeg.decode_jpeg(encode_jpeg_progressive(g, quality=85)),
    )
    noise = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    assert np.array_equal(
        jpeg.decode_jpeg(jpeg.encode_jpeg(noise, quality=25)),
        jpeg.decode_jpeg(encode_jpeg_progressive(noise, quality=25)),
    )


def test_jpeg_progressive_is_sof2():
    from engine import jpeg

    img = _smooth_rgb(20, 20, seed=4)
    buf = encode_jpeg_progressive(img)
    assert b"\xFF\xC2" in buf and b"\xFF\xC0" not in buf
    # multiple SOS scans: 2 DC + 3 AC first + 3 AC refine
    assert buf.count(b"\xFF\xDA") == 8


def test_pipeline_on_encoded_progressive_jpeg(spark):
    """The multimodal pipeline decodes PROGRESSIVE JPEG bytes end-to-end —
    web-crawl corpora contain them, so decode_image must not stub."""
    from engine import jpeg

    rows = []
    for i in range(6):
        h, w = 16 + i % 5, 16 + (3 * i) % 7
        img = _smooth_rgb(h, w, seed=100 + i)
        rows.append(
            (i, encode_jpeg_progressive(img, quality=90), "image/jpeg",
             {"width": w, "height": h, "channels": 3, "sample_rate": None})
        )
    pdf = pd.DataFrame(rows, columns=["media_id", "media", "media_type", "meta"])
    sdf = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_image_features(sdf, decoder=multimodal.decode_image).collect()
    assert len(feats) == 6
    assert all(len(r.features) == 4 * 4 * 3 for r in feats)


def test_decode_jpeg_tolerates_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker.
    Foreign encoders emit them; the parser must skip, not desync."""
    import numpy as np

    from engine import jpeg

    rng = np.random.default_rng(77)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    for enc in (
        jpeg.encode_jpeg(img, quality=90),
        encode_jpeg_progressive(img, quality=90),
    ):
        want = jpeg.decode_jpeg(enc)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        # fill bytes after SOI (before the first table marker) AND between
        # the end of entropy data and EOI
        padded = enc[:2] + b"\xff" * 3 + enc[2:-2] + b"\xff" * 2 + enc[-2:]
        got = jpeg.decode_jpeg(padded)
        assert np.array_equal(got, want)
