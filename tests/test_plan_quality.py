"""Plan-quality assertions: the declarative formulations must actually
reach the scan — predicate pushdown (PushedFilters), column pruning
(ReadSchema), and broadcast of small sides.  These are the 100-TB levers
the engine's design claims (SURVEY §2.2, BENCH/BASELINE.md); asserting on
the formatted plan pins them against regressions."""

import contextlib
import io
import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01" if os.path.isdir("/root/testdata/sf0.01") else "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(l_quantity)" in plan and "GreaterThan(l_quantity,30" in plan


def test_column_pruning_reaches_parquet_scan(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    # ReadSchema must carry ONLY the two projected columns
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs, plan
    assert "l_orderkey" in rs[0] and "l_quantity" in rs[0]
    assert "l_comment" not in rs[0] and "l_extendedprice" not in rs[0]


def test_pruning_survives_engine_point_derivation(spark):
    """The _points derivation (the geotag stage input) must prune the
    events scan to event_id only — dragging value/payload columns through
    would multiply scan bytes at 100 TB."""
    import __spark_entry__ as entrymod

    pts = entrymod._points(spark, SF)
    rs = [ln for ln in _plan(pts).splitlines() if "ReadSchema" in ln]
    assert rs and "event_id" in rs[0]
    assert "value" not in rs[0] and "payload" not in rs[0] and "event_type" not in rs[0]


def test_small_dimension_broadcast(spark):
    """first_match_left_join broadcasts the ranked small side (or AQE
    plans a broadcast hash join) — never a sort-merge over the big side
    for a dimension-sized right table."""
    import __spark_entry__ as entrymod

    out = entrymod._q_first_match_join(spark, SF)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_corpus_operators_stay_jvm_side(spark):
    """The corpus-curation hot paths must contain NO Python execution
    nodes (BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas) and
    must prune the documents scan to the columns they read."""
    from engine import corpus

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    for df in (
        corpus.gopher_quality_df(docs),
        corpus.dedup_spans_df(docs, k=10),
        corpus.pii_scrub_df(docs),
        corpus.chunk_tokens_df(docs, size=64),
        corpus.decontaminate_df(docs, docs.limit(2).select("text"), n=8),
    ):
        plan = _plan(df)
        assert "EvalPython" not in plan and "InPandas" not in plan, plan[:2000]
        rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert rs and all("html" not in ln for ln in rs), rs


def test_gopher_repetition_is_shuffle_free(spark):
    """Every repetition metric counts duplicates WITHIN a document, so the
    whole operator must plan as a projection: zero exchanges, zero
    aggregates — nothing leaves the row."""
    from engine import corpus

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _plan(corpus.gopher_repetition_df(docs))
    assert "Exchange" not in plan and "HashAggregate" not in plan
    plan_q = _plan(corpus.gopher_quality_df(docs))
    assert "Exchange" not in plan_q and "Join" not in plan_q


def test_urlops_projection_only(spark):
    """URL parse/normalize/SURT are pure projections: no exchange, no
    Python nodes, single scan."""
    from engine import urlops
    from engine.fixtures import make_pages

    pages = spark.createDataFrame(make_pages(n=200))
    df = pages.select(
        urlops.url_normalize(F.col("url")).alias("n"),
        urlops.surt_key(F.col("url")).alias("s"),
    )
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_clustered_layout_prunes(spark, tmp_path):
    """write_clustered must produce parquet files with DISJOINT key ranges
    (footer min/max proves scan skipping works) and a prefix predicate
    must reach the scan as a pushed filter."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from engine import bucketing, joins

    pts = entrymod._points(spark, SF)
    tiled = joins.with_tile(pts, zoom=8).select("event_id", "quadkey")
    path = str(tmp_path / "clustered")
    bucketing.write_clustered(tiled, path, "quadkey", n_files=8)

    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col = {md.schema.column(i).name: i for i in range(md.num_columns)}["quadkey"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint (boundaries may touch)

    back = spark.read.parquet(path).where(F.col("quadkey").startswith("121"))
    plan = _plan(back)
    assert "StartsWith" in plan and "PushedFilters" in plan


def test_star_edges_plan_has_no_join(spark):
    """The 100-TB dedup edge generator must be a window over the band
    exchange — NO self-join anywhere in the plan (the all-pairs join is
    the quadratic formulation star edges exist to replace)."""
    from engine.textops import minhash_lsh_star_edges

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = _plan(minhash_lsh_star_edges(docs))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_pair_cap_materializes_once(spark):
    """The capped banded frame is checkpointed before the self-join: both
    join sides must read the materialized rows, not re-run the signature
    agg + cap window per side (which doubles the exchanges — measured)."""
    from engine.textops import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan_uncapped = _plan(minhash_lsh_pairs(docs))
    plan_capped = _plan(minhash_lsh_pairs(docs, max_bucket=32))
    # checkpoint collapses the per-side subtrees: strictly fewer exchanges
    # than the uncapped self-join's duplicated signature pipelines
    assert plan_capped.count("Exchange") < plan_uncapped.count("Exchange")
    assert "CartesianProduct" not in plan_capped


def test_ngram_jaccard_row_has_no_cartesian_product(spark):
    """The registered ngram_jaccard row must run the banded scale path:
    equi-joins only — no CartesianProduct / nested-loop join anywhere in
    the plan (the brute-force crossJoin survives only as the pytest
    oracle)."""
    import __spark_entry__ as entrymod

    df = entrymod._q_ngram_jaccard(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fused_density_single_python_boundary(spark):
    """The fused density paths must run exactly ONE python-runner stage
    before the (tiny) partial-count aggregate — the worker-halving claim
    behind BENCH/BASELINE.md §1.  The composed with_pixel chain would show
    a second MapInArrow/ArrowEvalPython node feeding the aggregate."""
    import re

    import __spark_entry__ as entrymod
    from engine import raster

    pts = entrymod._points(spark, SF)

    def _python_nodes(plan: str) -> int:
        # per-row python boundaries feeding the count (the grouped-map tile
        # assembly at the end is shared by both formulations — exclude it);
        # count numbered plan nodes, not mentions (each node appears in the
        # tree AND in the detail section)
        return len(re.findall(r"\(\d+\) (?:MapInArrow|ArrowEvalPython|BatchEvalPython)\b", plan))

    plan_plain = _plan(raster.burn_base_tiles(pts, 5))
    # one mapInArrow kernel + one FlatMapGroupsInPandas assembly, nothing else
    assert _python_nodes(plan_plain) == 1, plan_plain
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas\b", plan_plain)) == 1

    plan_pip = _plan(
        raster.burn_base_tiles_pip(pts, entrymod._grid_polygons_pdf(), 5)
    )
    assert _python_nodes(plan_pip) == 1, plan_pip
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas\b", plan_pip)) == 1

    # the partial count must aggregate BELOW a hash aggregate (JVM sum of
    # the already-unique per-batch rows), not a per-row count
    assert "HashAggregate" in plan_plain and "sum" in plan_plain.lower()

    # one Exchange above the input's own, hash-partitioning on (tx, ty),
    # serves both the per-pixel sum and the grouped tile assembly
    def _exchanges(plan: str) -> int:
        return len(re.findall(r"\(\d+\) Exchange\b", plan))

    for plan in (plan_plain, plan_pip):
        assert _exchanges(plan) == _exchanges(_plan(pts)) + 1, plan
        assert len(re.findall(r"Arguments: hashpartitioning\(tx#\d+L, ty#\d+L, \d+\)", plan)) == 1, plan


def _tagged_jobs(spark, tag: str, action) -> list:
    """Run ``action`` with every Spark job it starts tagged ``tag``; return
    those jobs as (description, id and plan node names of the SQL execution
    that ran the job — None and [] for a job outside any execution), read
    from Spark's own status stores."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        action()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    jobs = [j for j in seq(jsc.statusStore().jobsList(None)) if tag in seq(j.jobTags())]
    job_ids = {int(j.jobId()) for j in jobs}
    sql_store = spark._jsparkSession.sharedState().statusStore()
    nodes_of_job = {}
    for ex in seq(sql_store.executionsList()):
        it, ex_jobs = ex.jobs().keysIterator(), set()
        while it.hasNext():
            ex_jobs.add(int(it.next()))
        if ex_jobs & job_ids:
            names = [n.name() for n in seq(sql_store.planGraph(ex.executionId()).allNodes())]
            nodes_of_job.update(dict.fromkeys(ex_jobs, (int(ex.executionId()), names)))
    return [
        (j.description().get() if j.description().isDefined() else None, *nodes_of_job.get(int(j.jobId()), (None, [])))
        for j in jobs
    ]


def _lonlat(spark, n: int):
    """``n`` points spread over the globe."""
    return spark.range(n).select(
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1700) / 10.0 - 85.0).alias("lat"),
    )


def test_run_stage_commits_in_one_checksum_pass(spark, tmp_path):
    """run_stage over an already-persisted tile table commits in ONE Spark
    job, the data write, which checksums the tiles in its only Python
    operator (the lineage tap) — described by runner, stage and action, and
    the caller's description restored afterwards."""
    from engine import pipeline

    from engine import raster

    raster.burn_base_tiles(_lonlat(spark, 4000), 5).write.parquet(str(tmp_path / "tiles"))
    tiles = spark.read.parquet(str(tmp_path / "tiles"))
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        jobs = _tagged_jobs(
            spark, "plan-run-stage", lambda: pipeline.run_stage(spark, "z5", lambda: tiles, str(tmp_path / "out"))
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert [d for d, _, _ in jobs] == ["pipeline.run_stage[z5] write"], jobs
    nodes = jobs[0][2]
    assert nodes.count("ArrowEvalPython") == 1 and "MapInPandas" not in nodes, nodes


def test_run_doc_stage_commits_in_one_pass(spark, tmp_path):
    """run_doc_stage: the data write is the only Spark job, its lineage
    folded in the same pass — no lineage job, no read-back."""
    from engine import pipeline

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    jobs = _tagged_jobs(
        spark, "plan-run-doc-stage", lambda: pipeline.run_doc_stage(spark, "docs", lambda: docs, str(tmp_path))
    )
    assert [d for d, _, _ in jobs] == ["pipeline.run_doc_stage[docs] write"], jobs


def test_run_doc_stage_tap_hashes_the_producer_output_once(spark, tmp_path):
    """The lineage tap takes the producer's output columns, not its
    expressions: with ``pii_scrub_df`` as producer the executed write plan
    has exactly the producer's own ``regexp_replace`` calls, and the tap's
    input is one ``xxhash64`` over attribute references."""
    import re

    from engine import corpus, pipeline

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    jobs = _tagged_jobs(
        spark,
        "plan-run-doc-stage-pii",
        lambda: pipeline.run_doc_stage(spark, "pii", lambda: corpus.pii_scrub_df(docs), str(tmp_path)),
    )
    ((_, ex, _),) = jobs
    sql_store = spark._jsparkSession.sharedState().statusStore()
    executed = sql_store.execution(ex).get().physicalPlanDescription()
    scrubbed = corpus.pii_scrub_df(docs)
    producer = _plan(scrubbed)
    assert producer.count("regexp_replace(") > 0
    assert executed.count("regexp_replace(") == producer.count("regexp_replace("), executed
    (args,) = re.findall(r"Arguments: \[tap\(xxhash64\((.*?)\)\)", executed)
    *cols, seed = args.split(", ")
    assert len(cols) == len(scrubbed.columns) and seed == "42", args
    assert all(re.fullmatch(r"\w+#\d+L?", c) for c in cols), args


def test_run_tiling_counts_its_input_inside_the_write(spark, tmp_path):
    """run_tiling launches no job that only scans its input (the former
    ``points.count()``), no schema-inference job and no lineage job: every
    job it starts belongs to a level's data write."""
    from engine import pipeline

    _lonlat(spark, 3000).write.parquet(str(tmp_path / "points"))
    points = spark.read.parquet(str(tmp_path / "points"))
    jobs = _tagged_jobs(
        spark,
        "plan-run-tiling",
        lambda: pipeline.run_tiling(spark, points, str(tmp_path / "pyramid"), base_zoom=5, min_zoom=4),
    )
    assert jobs
    for desc, _, nodes in jobs:
        assert desc.split()[-1] == "write", jobs
        assert any("InsertIntoHadoopFsRelationCommand" in n for n in nodes), (desc, nodes)


def _hot_spot(spark, n: int):
    """``n`` (url, lon, lat) points in one zoom-6 cell, inside a
    make_polygons grid polygon."""
    return spark.range(n).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("url"),
        (12.3 + F.col("id") % 10 / 100.0).alias("lon"),
        (45.2 + F.col("id") % 7 / 100.0).alias("lat"),
    )


def test_shuffle_pip_join_crosses_into_python_through_arrow_only(spark):
    """The cell-shuffle PIP join runs every Python stage as a whole-batch
    MapInArrow: the points' cell encode, the polygon cover and the refine,
    unsalted and salted, with no MapInPandas, also when a hot cell is
    salted (its polygon rows repeat inside the cover)."""
    import re

    import pandas as pd

    from engine import joins
    from engine.fixtures import make_polygons

    pts = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(300)], "lon": [i % 90 - 45.0 for i in range(300)],
                      "lat": [i % 60 - 30.0 for i in range(300)]})
    )
    polys = spark.createDataFrame(make_polygons(80))

    def _python_nodes(df) -> list:
        names = re.findall(r"\(\d+\) (\w+)", _plan(df))
        return [n for n in names if "Python" in n or "InPandas" in n or "InArrow" in n]

    for n_salt in (None, 4):
        assert _python_nodes(joins.pip_join_shuffle(pts, polys, zoom=6, n_salt=n_salt)) == ["MapInArrow"] * 3
    hot = pts.unionByName(_hot_spot(spark, 300))
    assert len(joins._point_occupancy(hot, 6, "lon", "lat")[1]) == 1
    assert _python_nodes(joins.pip_join_shuffle(hot, polys, zoom=6, n_salt=4)) == ["MapInArrow"] * 3


def test_salted_pip_join_runs_as_hash_join(spark):
    """With automatic broadcast joins off, AQE re-plans the salted cell
    equi-join (a hot spot holds 200 of the 500 points, so its cell is
    salted) from its measured sizes as a ShuffledHashJoin: nothing under
    the caller's own aggregate sorts or aggregates (the salted path has no
    dedup), and the call runs 4 Spark jobs (two shuffle map stages, the
    refine with the partial aggregate, the final aggregate).  With the
    local-map threshold at 0 the same call falls back to a SortMergeJoin
    with identical rows."""
    import pandas as pd

    from engine import joins
    from engine.fixtures import make_polygons

    pts = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i % 250}" for i in range(300)], "lon": [i % 90 - 45.0 for i in range(300)],
                      "lat": [i % 60 - 30.0 for i in range(300)]})
    ).unionByName(_hot_spot(spark, 200))
    assert len(joins._point_occupancy(pts, 6, "lon", "lat")[1]) == 1
    polys = spark.createDataFrame(make_polygons(80))
    threshold = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    assert spark.conf.get(threshold) == "64MB"

    def run(tag):
        out = joins.pip_join_shuffle(pts, polys, zoom=6, n_salt=4).groupBy("polygon_id").count()
        got = []
        jobs = _tagged_jobs(spark, tag, lambda: got.extend(sorted(tuple(r) for r in out.collect())))
        (nodes,) = {tuple(n) for _, _, n in jobs}
        return got, len(jobs), nodes

    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hashed, n_jobs, nodes = run("plan-pip-hash")
        spark.conf.set(threshold, "0")
        try:
            merged, _, merge_nodes = run("plan-pip-merge")
        finally:
            spark.conf.set(threshold, "64MB")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)

    assert "ShuffledHashJoin" in nodes and "SortMergeJoin" not in nodes, nodes
    assert "Sort" not in nodes and nodes.count("HashAggregate") == 2, nodes  # the caller's partial + final
    assert n_jobs == 4
    assert "SortMergeJoin" in merge_nodes and "ShuffledHashJoin" not in merge_nodes, merge_nodes
    assert merged == hashed and sum(c for _, c in hashed) > 0


def test_shuffle_pip_join_occupancy_pass_is_one_scan_job(spark):
    """Building the cell-shuffle PIP join runs one Spark job, described as
    its occupancy pass: one MapInArrow over the points' lon and lat only,
    and no Exchange."""
    import re

    import pandas as pd

    from engine import joins
    from engine.fixtures import make_polygons

    pts = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(300)], "lon": [i % 90 - 45.0 for i in range(300)],
                      "lat": [i % 60 - 30.0 for i in range(300)], "pad": [float(i) for i in range(300)]})
    )
    polys = spark.createDataFrame(make_polygons(80))
    for n_salt in (None, 4):
        jobs = _tagged_jobs(
            spark, f"plan-pip-occupancy-{n_salt}", lambda: joins.pip_join_shuffle(pts, polys, zoom=6, n_salt=n_salt)
        )
        ((desc, ex, nodes),) = jobs
        assert desc == "joins.pip_join_shuffle occupancy", jobs
        assert nodes.count("MapInArrow") == 1 and not any("Exchange" in n for n in nodes), nodes
        executed = spark._jsparkSession.sharedState().statusStore().execution(ex).get().physicalPlanDescription()
        (inputs,) = re.findall(r"\(\d+\) MapInArrow\s*\nInput \[\d+\]: \[(.*?)\]", executed)
        assert [c.split("#")[0] for c in inputs.split(", ")] == ["lon", "lat"], executed


def test_knn_join_names_its_eager_passes(spark):
    """Every Spark job that a ``strategy="rings"`` kNN call starts carries
    its round's description, ``joins.knn_join ring=<r>``, and the ``auto``
    probe's bounded collect is described ``joins.knn_join probe``."""
    from engine import joins

    pts = _lonlat(spark, 2000).withColumn("name", F.concat_ws(",", "lon", "lat"))
    qs = _lonlat(spark, 40).withColumn("qid", F.concat_ws(",", "lon", "lat"))
    jobs = _tagged_jobs(
        spark, "plan-knn-rings", lambda: joins.knn_join(qs, pts, k=3, zoom=4, max_ring=4, strategy="rings")
    )
    descs = {d for d, _, _ in jobs}
    assert jobs and "joins.knn_join ring=1" in descs, jobs
    assert descs <= {"joins.knn_join ring=1", "joins.knn_join ring=2", "joins.knn_join ring=4"}, jobs
    jobs = _tagged_jobs(spark, "plan-knn-probe", lambda: joins.knn_join(qs, pts, k=3))
    assert [d for d, _, _ in jobs] == ["joins.knn_join probe"], jobs


def test_window_covers_plan_as_one_map_in_arrow(spark):
    """A kNN ring round, idw_interpolate, grid_metrics and
    rasterize_polygons each plan their window cover as one MapInArrow over
    the query columns (the burn: over its geometries), beside the points'
    own cell encode: no ArrowEvalPython (pandas UDF) and no Generate (JVM
    explode) anywhere in their plans."""
    import re

    from engine import joins, raster
    from engine.geom import wkb_polygon

    pts = _lonlat(spark, 500).withColumn("name", F.concat_ws(",", "lon", "lat")).withColumn("v", F.lit(1.0))
    qs = _lonlat(spark, 20).withColumn("qid", F.concat_ws(",", "lon", "lat"))
    square = wkb_polygon([[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]])
    polys = spark.createDataFrame([(1, square)], "id long, geom_wkb binary")

    def arrow_inputs(df) -> list:
        plan = _plan(df)
        names = re.findall(r"\(\d+\) (\w+)", plan)
        assert not {"ArrowEvalPython", "BatchEvalPython", "Generate"} & set(names), names
        inputs = re.findall(r"\(\d+\) MapInArrow\s*\nInput \[\d+\]: \[(.*?)\]", plan)
        assert len(inputs) == names.count("MapInArrow"), plan
        return [tuple(c.split("#")[0] for c in i.split(", ")) for i in inputs]

    query, point = ("qid", "lon", "lat"), ("_nbr", "_nlon", "_nlat")
    # the last round's top-k is read twice (its rows and its satisfied set)
    ring = arrow_inputs(joins.knn_join(qs, pts, k=3, zoom=4, max_ring=1, strategy="rings"))
    assert sorted(ring) == sorted([query, point] * 2), ring
    value_point = ("_v", "_plon", "_plat")
    assert sorted(arrow_inputs(joins.idw_interpolate(qs, pts, "v", zoom=4))) == sorted([query, value_point])
    assert sorted(arrow_inputs(joins.grid_metrics(qs, pts, "v", 5.0, zoom=4))) == sorted([query, value_point])
    assert arrow_inputs(raster.rasterize_polygons(polys, 6)) == [("_pid", "_val", "_wkb")]


def test_sieve_and_ann_name_their_eager_passes(spark):
    """Every job a ``sieve_filter`` call starts is named for its step
    (``components.sieve_filter <step>``, the label propagation's
    ``components.min_label_propagate round=<r>``), its mode count and
    driver-mode graph collects included; every job of ``kmeans_fit`` (its
    k-means‖ seeding rounds included) and ``pq_train`` carries its round's
    description."""
    import re

    import numpy as np
    import pandas as pd

    from engine import ann, components, raster

    g = np.zeros((raster.TILE_SIZE, raster.TILE_SIZE), dtype=np.int64)
    g[10:14, 10:14] = 3
    g[40:80, 40:80] = 5
    tiles = spark.createDataFrame(pd.DataFrame({"zoom": [3], "tx": [0], "ty": [0], "data": [raster.tile_to_bytes(g)]}))
    jobs = _tagged_jobs(spark, "plan-sieve-driver", lambda: components.sieve_filter(tiles, 25))
    assert components._LAST_SIEVE_MODE[0] == "driver"
    step = re.compile(
        r"components\.(sieve_filter (stats|seam pairs|seam map|labels|adjacency|pruned graph|mode|driver graph)"
        r"|min_label_propagate round=\d+)$"
    )
    assert jobs and all(step.match(d or "") for d, _, _ in jobs), jobs
    descs = {d for d, _, _ in jobs}
    assert {"components.sieve_filter mode", "components.sieve_filter driver graph"} <= descs, jobs

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)], "vec_id long, embedding array<double>"
    )
    named = re.compile(r"ann\.(kmeans_fit (input|iter=\d+)|kmeans_seeds (round=\d+|weights)|pq_train (input|seeds|iter=\d+))$")
    for tag, train in [
        ("plan-kmeans", lambda: ann.kmeans_fit(emb, k=4, max_iters=3)),
        ("plan-pq", lambda: ann.pq_train(emb, m=2, ksub=4, max_iters=3)),
    ]:
        jobs = _tagged_jobs(spark, tag, train)
        assert jobs and all(named.match(d or "") for d, _, _ in jobs), jobs


def test_halo_operators_plan_one_gather_one_exchange_one_grouped_map(spark):
    """focal, contour_segments, proximity and fill_nodata all run the one
    halo exchange: one halo gather (MapInPandas), one hash Exchange on the
    receiving tile key (zoom, tx, ty) and one FlatMapGroupsInPandas."""
    import re

    import numpy as np
    import pandas as pd

    from engine import contour, focal, proximity, raster

    g = (np.arange(raster.TILE_SIZE**2, dtype=np.int64) % 9).reshape(raster.TILE_SIZE, raster.TILE_SIZE)
    tiles = spark.createDataFrame(
        pd.DataFrame({"zoom": [3, 3], "tx": [0, 1], "ty": [0, 0], "data": [raster.tile_to_bytes(g)] * 2})
    )
    for df in (
        focal.focal(tiles, "slope"),
        contour.contour_segments(tiles, [3.5]),
        proximity.proximity(tiles, (7,), maxdist=10.0),
        proximity.fill_nodata(tiles, nodata=0, maxdist=5.0),
    ):
        plan = _plan(df)
        names = re.findall(r"\(\d+\) (\w+)", plan)
        assert names.count("MapInPandas") == 1 and names.count("FlatMapGroupsInPandas") == 1, names
        assert names.count("Exchange") == 1, names
        (part,) = re.findall(r"Arguments: (hashpartitioning\(.*?\))", plan)
        assert re.fullmatch(r"hashpartitioning\(zoom#\d+, tx#\d+L, ty#\d+L, \d+\)", part), part
