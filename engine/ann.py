"""Approximate nearest neighbors over embedding columns (mission brief):
IVF (inverted-file) search as the scale path beside the LSH variant.

Design: a small centroid table (the coarse quantizer) is equi-joined
against the embedding table; every vector gets its nearest centroid id
(the inverted list key), and a query probes only its ``nprobe`` nearest
lists before the exact cosine top-k.  All distance arithmetic is JVM-side
``zip_with``/``aggregate`` folds (whole-stage codegen, no Python in the
hot path) with sequential element order, so a SQL transcription via
``list_dot_product`` is bit-identical — the same device the brute-force
``embedding_topk`` baseline uses.

At cluster scale the assignment is one broadcast join over the (tiny)
centroid table, the inverted lists are a partitioned column (`cluster`),
and a probe touches nprobe/K of the data — the IVF speedup.  Centroid
TRAINING (k-means) is orthogonal to the index structure; callers pass any
deterministic centroid table (e.g. sampled seed vectors), which keeps the
whole pipeline reproducible across engines and runs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import job_description


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid assignment: (id_col, cluster).  L2² via the
    dot-product identity |e|² − 2e·c + |c|²; ties break to the smaller
    centroid id.  One broadcast join + window — no shuffle of the
    embedding payload."""
    c = centroids.select(F.col("cid"), F.col("cvec"))
    l2 = _norm2(F.col(vec_col)) - 2.0 * _dot(F.col(vec_col), F.col("cvec")) + _norm2(F.col("cvec"))
    w = Window.partitionBy(id_col).orderBy(F.col("_l2").asc(), F.col("cid").asc())
    return (
        emb.join(F.broadcast(c))
        .select(id_col, vec_col, F.col("cid"), l2.alias("_l2"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, F.col("cid").alias("cluster"))
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF cosine top-k: probe the query's ``nprobe`` nearest inverted
    lists, exact cosine rank within.  queries: (qid, qv).
    Output (qid, neighbor, rank).

    ``exclude_self`` drops candidates with ``id == qid`` — correct when
    queries are drawn from the embedding table (qid shares its id space);
    pass False for external query vectors whose ids are unrelated."""
    assigned = ivf_assign(emb, centroids, vec_col, id_col)
    inv = emb.join(assigned, on=id_col)

    c = centroids.select("cid", "cvec")
    ql2 = _norm2(F.col("qv")) - 2.0 * _dot(F.col("qv"), F.col("cvec")) + _norm2(F.col("cvec"))
    wq = Window.partitionBy("qid").orderBy(F.col("_l2").asc(), F.col("cid").asc())
    probes = (
        queries.join(F.broadcast(c))
        .select("qid", "qv", F.col("cid"), ql2.alias("_l2"))
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select("qid", "qv", F.col("cid").alias("cluster"))
    )
    cos = _dot(F.col("qv"), F.col(vec_col)) / (
        F.sqrt(_norm2(F.col("qv"))) * F.sqrt(_norm2(F.col(vec_col)))
    )
    cand = probes.join(inv, on="cluster")
    if exclude_self:
        cand = cand.where(F.col(id_col) != F.col("qid"))
    cand = cand.select("qid", F.col(id_col), cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col(id_col).alias("neighbor"), F.col("rank").cast("int").alias("rank"))
    )


def random_hyperplanes(dim: int, nbits: int, seed: int = 7) -> np.ndarray:
    """Deterministic (nbits, dim) Gaussian hyperplane matrix for sign-LSH."""
    return np.random.RandomState(seed).standard_normal((nbits, dim))


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.9,
    nbits: int = 16,
    n_bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the mission brief's
    embedding-space dedup mode): all candidate pairs sharing at least one
    sign-LSH band, refined by EXACT cosine ``>= threshold``.

    Random-hyperplane LSH (Charikar, STOC 2002): bit b = sign(v · h_b)
    for ``nbits`` fixed Gaussian hyperplanes; bits split into ``n_bands``
    bands; two vectors are candidates iff some band matches exactly.
    Collision probability per bit is 1 − θ/π, so near-parallel vectors
    (the near-dup regime) collide in some band with probability
    ``1 − (1 − p^(nbits/n_bands))^n_bands`` — the standard S-curve; the
    refine step makes PRECISION exact while recall stays probabilistic
    (documented, tunable via nbits/n_bands).

    Plan shape (the scale story vs the O(n²) all-pairs): every arithmetic
    step — nbits dot products against literal hyperplane arrays, band-key
    assembly, the band equi-join, the cosine refine — is JVM-side
    whole-stage codegen; the only shuffles are the band-key exchange and
    the pair dedupe.  Candidate-pair output is quadratic WITHIN a band
    bucket (exact-duplicate embedding megaclusters collide in every band);
    pass ``max_bucket`` to deterministically truncate each bucket to its
    ``max_bucket`` smallest ids (textops.cap_lsh_buckets semantics,
    overflow accountable via textops.lsh_bucket_overflow on the banded
    frame).  Mirrors the MinHash/SimHash text paths (engine/textops.py)
    for the vector column.

    Output: (id_a, id_b, cos) with id_a < id_b, one row per pair.
    """
    dim = int(emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()[0].d)
    planes = random_hyperplanes(dim, nbits, seed)
    rows_per_band = nbits // n_bands
    if rows_per_band * n_bands != nbits:
        raise ValueError("nbits must be divisible by n_bands")

    bits = [
        (_dot(F.col(vec_col), F.array(*[F.lit(float(w)) for w in planes[b]])) >= 0)
        .cast("int")
        for b in range(nbits)
    ]
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws("", *[c.cast("string") for c in bits[bi * rows_per_band:(bi + 1) * rows_per_band]]).alias("key"),
        )
        for bi in range(n_bands)
    ]
    keyed = emb.select(
        F.col(id_col), F.col(vec_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, vec_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        from engine.textops import cap_lsh_buckets

        keyed = cap_lsh_buckets(keyed, max_bucket, id_col=id_col)

    a = keyed.select(
        F.col("band"), F.col("key"),
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
    )
    b = keyed.select(
        F.col("band"), F.col("key"),
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
    )
    pairs = (
        a.join(b, on=["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (
        F.sqrt(_norm2(F.col("_va"))) * F.sqrt(_norm2(F.col("_vb")))
    )
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(float(threshold)))
    )


def _kmeans_parallel_seeds(
    src: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rounds: int = 5,
    oversample: int | None = None,
) -> list:
    """k-means‖ seeding (Bahmani et al., *Scalable K-Means++*, VLDB 2012):
    ``rounds`` full passes, each sampling ~``oversample`` (default 2k)
    candidates with probability ∝ d²(x, C), then ONE weighting pass and a
    deterministic weighted greedy k-center over the ≤ rounds·2k candidates
    on the driver.

    Replaces the former farthest-point loop whose k−1 sequential full-data
    jobs serialized on the driver at production k (IVF k of 4k-65k): the
    job count here is ``rounds + 1``, independent of k.  Fully
    deterministic: sampling uses an md5-derived uniform per (id, round),
    every tie breaks on id.
    """
    spark = src.sparkSession
    ell = float(oversample if oversample is not None else 2 * k)
    with job_description(spark, "ann.kmeans_seeds round=0"):
        first = (
            src.withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h", id_col)
            .limit(1)
            .collect()[0]
        )
    cand = {first[id_col]: [float(x) for x in first[vec_col]]}

    def _cdf(vals):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], schema="cid int, cvec array<double>"
        )

    d2 = _norm2(F.col(vec_col)) - 2.0 * _dot(F.col(vec_col), F.col("cvec")) + _norm2(F.col("cvec"))
    for r in range(rounds):
        dmin = (
            src.join(F.broadcast(_cdf(list(cand.values()))))
            .select(id_col, vec_col, d2.alias("_d2"))
            .groupBy(id_col, vec_col)
            .agg(F.min("_d2").alias("_dmin"))
        )
        # deterministic uniform in [0,1): top 60 bits of md5(id:round)
        u = (
            F.conv(F.substring(F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(r)))), 1, 15), 16, 10)
            .cast("double") / float(1 << 60)
        )
        with job_description(spark, f"ann.kmeans_seeds round={r + 1}"):
            tot = dmin.agg(F.sum("_dmin").alias("s")).collect()[0].s
            if not tot or tot <= 0.0:
                break  # every point coincides with a candidate
            picked = dmin.where(u < F.col("_dmin") * (ell / float(tot))).collect()
        for row in picked:
            cand.setdefault(row[id_col], [float(x) for x in row[vec_col]])
        if len(cand) >= max(k, 1) and r >= 1 and len(cand) >= 4 * k:
            break  # enough candidates already
    # weighting pass: points per nearest candidate (ties → smaller cid)
    ids = sorted(cand.keys())
    vecs = [cand[i] for i in ids]
    weighted = (
        src.join(F.broadcast(_cdf(vecs)))
        .select(id_col, F.col("cid"), d2.alias("_d2"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("cid").asc())
            ),
        )
        .where(F.col("_rn") == 1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    with job_description(spark, "ann.kmeans_seeds weights"):
        weights = {r.cid: int(r.w) for r in weighted.collect()}
    # driver-side deterministic weighted greedy k-center over the candidates
    # (≤ rounds·2k rows — model-sized, not data-sized)
    arr = np.asarray(vecs, dtype=np.float64)
    wts = np.array([weights.get(i, 0) for i in range(len(vecs))], dtype=np.float64)
    start = int(np.argmax(wts))  # unique by construction? break ties by index
    chosen = [start]
    dm = np.sum((arr - arr[start]) ** 2, axis=1)
    while len(chosen) < min(k, len(vecs)):
        score = wts * dm
        nxt = int(np.argmax(score))  # np.argmax takes the first max → id order
        chosen.append(nxt)
        dm = np.minimum(dm, np.sum((arr - arr[nxt]) ** 2, axis=1))
    while len(chosen) < k:  # fewer candidates than k (tiny inputs): cycle
        chosen.append(chosen[len(chosen) % len(vecs)])
    return [vecs[i] for i in chosen]


def kmeans_fit(
    emb: DataFrame,
    k: int,
    max_iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd's k-means → the IVF centroid table (cid, cvec).

    Deterministic throughout (reproducible across runs and engines):
    initialization is farthest-point (k-center) seeding — seed 1 is the
    vector with the smallest md5(id), each further seed maximizes the
    min-distance to the chosen set (ties → smaller id); well-separated
    clusters therefore get one seed each, avoiding Lloyd's merged-cluster
    local optima.  Each iteration reassigns via the broadcast centroid
    join (:func:`ivf_assign`) and recomputes means by posexplode +
    groupBy(cluster, pos) + avg — the per-dimension partial sums combine
    map-side, so the shuffle is O(k·d), not O(rows).  Empty clusters keep
    their previous centroid (standard Lloyd's fix).  Centroids live
    driver-side between iterations (k·d floats — model parameters, not
    data).
    """
    spark = emb.sparkSession
    with job_description(spark, "ann.kmeans_fit input"):
        src = emb.select(F.col(id_col), F.col(vec_col)).localCheckpoint(eager=True)
    seeds = _kmeans_parallel_seeds(src, k, vec_col=vec_col, id_col=id_col)
    cents = {i: v for i, v in enumerate(seeds)}

    def _cdf():
        return spark.createDataFrame(
            [(i, v) for i, v in sorted(cents.items())], schema="cid int, cvec array<double>"
        )

    for it in range(max_iters):
        assigned = ivf_assign(src, _cdf(), vec_col, id_col)
        means = (
            src.join(assigned, on=id_col)
            .select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s["m"]).alias("mean"))
        )
        with job_description(spark, f"ann.kmeans_fit iter={it}"):
            means = means.collect()
        new = dict(cents)
        moved = 0.0
        for r in means:
            v = [float(x) for x in r.mean]
            moved = max(moved, max(abs(a - b) for a, b in zip(v, cents[r.cluster])))
            new[r.cluster] = v
        cents = new
        if moved < 1e-9:
            break
    return _cdf()


def _subvectors(emb: DataFrame, m: int, vec_col: str, id_col: str) -> DataFrame:
    """(id, sub, svec): the vector split into m contiguous subspaces —
    F.slice keeps it one JVM projection, no explode shuffle."""
    dim_expr = F.size(F.col(vec_col))
    rows = emb.select(
        F.col(id_col),
        F.col(vec_col),
        (dim_expr / m).cast("int").alias("_dsub"),
    )
    parts = F.array(*[
        F.struct(
            F.lit(j).alias("sub"),
            F.slice(F.col(vec_col), F.col("_dsub") * j + 1, F.col("_dsub")).alias("svec"),
        )
        for j in range(m)
    ])
    return rows.select(id_col, F.explode(parts).alias("_p")).select(
        id_col, F.col("_p.sub").alias("sub"),
        F.transform(F.col("_p.svec"), lambda x: x.cast("double")).alias("svec"),
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    max_iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codebook (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011 — public method): the vector
    space splits into ``m`` contiguous subspaces and each learns its own
    ``ksub``-centroid codebook.  All m subspace k-means run JOINTLY in one
    Lloyd loop, and one iteration is ONE map + ONE tiny shuffle: the
    codebook broadcasts as one centroid-array row per subspace, the
    nearest-code argmin is a pure projection (array_min over (d, code)
    structs), and the means partially aggregate to m·ksub keys with
    per-position sums — no N×ksub exploded intermediate and no O(N)
    re-join of the input anywhere in the loop.

    Deterministic: seeds are the ksub subvectors with the smallest
    md5(id) per subspace (ties impossible — md5 of distinct ids).
    Returns (sub, code, cvec) — m·ksub rows of model parameters.
    """
    spark = emb.sparkSession
    with job_description(spark, "ann.pq_train input"):
        sub = _subvectors(emb, m, vec_col, id_col).localCheckpoint(eager=True)

    # Seeds = the ksub subvectors with the smallest md5(id) per subspace.
    # A global window partitioned by `sub` alone would funnel ALL rows into
    # m partitions (a skew wall at scale), so first reduce each INPUT
    # partition to its local ksub-smallest per subspace (narrow map-side
    # top-k — the candidate set is ≤ m·ksub·n_partitions rows), then
    # window over that tiny set.
    hashed = sub.select("sub", F.md5(F.col(id_col).cast("string")).alias("_h"), "svec")

    def _local_seeds(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = (
                cur.sort_values(["sub", "_h"], kind="mergesort")
                .groupby("sub", as_index=False, sort=False)
                .head(ksub)
            )
        yield acc if acc is not None else pd.DataFrame(
            {"sub": pd.Series([], dtype="int32"), "_h": [], "svec": []}
        )

    local = hashed.mapInPandas(_local_seeds, "sub int, _h string, svec array<double>")
    w = Window.partitionBy("sub").orderBy("_h")
    seeds = (
        local.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= ksub)
        .select("sub", (F.col("_r") - 1).alias("code"), F.col("svec").alias("cvec"))
    )
    with job_description(spark, "ann.pq_train seeds"):
        seeds = seeds.collect()
    cents = {(r["sub"], r["code"]): [float(x) for x in r["cvec"]] for r in seeds}

    def _cdf():
        return spark.createDataFrame(
            [(s, c, v) for (s, c), v in sorted(cents.items())],
            schema="sub int, code int, cvec array<double>",
        )

    if not cents:  # empty input: empty (sub, code, cvec) codebook, no loop
        return _cdf()

    # One Lloyd iteration = ONE map + ONE tiny shuffle.  The per-subspace
    # codebook broadcasts as a single array row, the nearest-code argmin is
    # a pure projection (array_min over (d, code) structs — struct ordering
    # IS the (distance, code) tie-break min_by used), and the new means are
    # a partially-aggregated groupBy over m·ksub keys with per-position
    # sums — no N×ksub exploded intermediate, no re-join of the input, no
    # O(N) shuffle anywhere in the loop.
    dsub = len(next(iter(cents.values())))

    def _cb_arr():
        return _cdf().groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct("code", "cvec"))).alias("cents")
        )

    d2 = lambda cv: F.aggregate(  # noqa: E731
        F.zip_with("svec", cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    best_code = F.array_min(
        F.transform(
            F.col("cents"),
            lambda s: F.struct(d2(s["cvec"]).alias("d"), s["code"].alias("code")),
        )
    )["code"]
    for it in range(max_iters):
        assigned = (
            sub.join(F.broadcast(_cb_arr()), on="sub")
            .select("sub", "svec", best_code.alias("code"))
        )
        means = (
            assigned.groupBy("sub", "code")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(F.col("svec")[i]).alias(f"_s{i}") for i in range(dsub)],
            )
            .select(
                "sub",
                "code",
                F.array(*[F.col(f"_s{i}") / F.col("_n") for i in range(dsub)]).alias(
                    "mean"
                ),
            )
        )
        with job_description(spark, f"ann.pq_train iter={it}"):
            means = means.collect()
        moved = 0.0
        for r in means:
            v = [float(x) for x in r["mean"]]
            old = cents[(r["sub"], r["code"])]
            moved = max(moved, max(abs(a - b) for a, b in zip(v, old)))
            cents[(r["sub"], r["code"])] = v
        if moved < 1e-9:
            break
    return _cdf()


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as its m nearest-subspace-centroid codes →
    (id, codes array<int>) — the 64x-smaller representation that is
    scanned instead of the raw vectors.  One broadcast join + one
    grouped collect per vector; deterministic argmin (ties → smaller
    code, matching pq_train)."""
    m = codebook.agg(F.max("sub")).collect()[0][0] + 1
    sub = _subvectors(emb, m, vec_col, id_col)
    dist2 = F.aggregate(
        F.zip_with("svec", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        sub.join(F.broadcast(codebook), on="sub")
        .select(id_col, "sub", F.col("code"), dist2.alias("_d"))
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct("_d", "code")).alias("code"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc"))
        .select(id_col, F.transform("sc", lambda s: s["code"]).alias("codes"))
    )


def pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: list,
    k: int = 10,
    id_col: str = "vec_id",
    rerank: DataFrame | None = None,
    shortlist: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: the query stays exact;
    each database vector's distance is the sum of m table lookups
    d(query_sub, centroid[code]).  The m×ksub lookup table is computed
    driver-side (model-sized) and inlined as a literal array, so the scan
    is pure whole-stage-codegen arithmetic over the codes column — no
    vectors read, no Python.  Returns (id, adc_dist) ascending top-k.

    With ``rerank`` (the raw vector table), the standard two-stage search
    runs instead: ADC selects a ``shortlist`` (default 10·k) and only
    those ids read their exact vectors for the final ordering — the scan
    still touches codes only; exact distances are paid on the shortlist
    alone.  Returns (id, dist) with exact squared-L2 distances."""
    if rerank is not None:
        L = shortlist or 10 * k
        cand = pq_topk(codes, codebook, query, k=L, id_col=id_col)
        qcol = F.lit([float(v) for v in query]).cast("array<double>")
        exact = F.aggregate(
            F.zip_with(F.col(vec_col), qcol, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return (
            rerank.join(F.broadcast(cand.select(id_col)), on=id_col)
            .select(id_col, exact.alias("dist"))
            .orderBy(F.col("dist").asc(), F.col(id_col).asc())
            .limit(k)
        )
    cb = codebook.collect()
    m = max(r["sub"] for r in cb) + 1
    ksub = max(r["code"] for r in cb) + 1
    q = np.asarray(query, dtype=np.float64)
    dsub = q.size // m
    lut = np.zeros((m, ksub), dtype=np.float64)
    for r in cb:
        d = q[r["sub"] * dsub:(r["sub"] + 1) * dsub] - np.asarray(r["cvec"], dtype=np.float64)
        lut[r["sub"], r["code"]] = float(np.dot(d, d))
    lut_col = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in lut])
    dist = F.aggregate(
        F.zip_with(
            F.lit(list(range(m))).cast("array<int>"),
            F.col("codes"),
            lambda s, c: F.element_at(F.element_at(lut_col, s + 1), c + 1),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        codes.select(id_col, dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )
