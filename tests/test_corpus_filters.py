"""Corpus-curation operators (engine/corpus.py): Gopher quality/repetition
rules, benchmark decontamination, deterministic stratified sampling,
per-domain caps — hand-computed fixtures + DuckDB oracles on the real
documents table."""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine import corpus  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
DOCS_PQ = os.path.join(SF_DIR, "documents.parquet")


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


# ---------------------------------------------------------------- repetition


def test_repetition_hand_computed(spark):
    rows = [
        (1, "a b a b a b"),          # top2: 'a b' x3, chars 3 -> 9/11
        (2, "x\nx\ny"),              # dup_line 1/3, dup_line_chars 1/5
        (3, "p\n\np\n\nq"),          # dup_para 1/3, dup_para_chars 1/7
        (4, ""),                     # empty: all zeros
        (5, "one two"),              # shorter than every n-gram window >2
    ]
    got = (
        corpus.gopher_repetition_df(_docs(spark, rows))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[1, "top2gram_char_frac"] == pytest.approx(9 / 11)
    # 'b a' occurs twice -> dup2 not reported (only n>=5 dup kinds exist)
    assert got.loc[1, "dup5gram_char_frac"] == 0.0
    assert got.loc[2, "dup_line_frac"] == pytest.approx(1 / 3)
    assert got.loc[2, "dup_line_char_frac"] == pytest.approx(1 / 5)
    assert got.loc[3, "dup_para_frac"] == pytest.approx(1 / 3)
    assert got.loc[3, "dup_para_char_frac"] == pytest.approx(1 / 7)
    assert (got.loc[4] == 0).all()
    assert got.loc[5, "top2gram_char_frac"] == pytest.approx(7 / 7)
    for n in range(5, 11):
        assert (got[f"dup{n}gram_char_frac"] >= 0).all()


def test_repetition_dup_ngram(spark):
    # 'a b c d e' repeated 3x: the cycle yields 'a b c d e' x3 (excess 2)
    # plus 4 rotations ('b c d e a', ...) x2 each (excess 1): 2*9 + 4*9 = 54
    text = " ".join(["a b c d e"] * 3)  # 29 chars
    got = corpus.gopher_repetition_df(_docs(spark, [(1, text)])).toPandas().iloc[0]
    assert got["dup5gram_char_frac"] == pytest.approx((2 * 9 + 4 * 9) / 29)
    # every 2-gram of the cycle appears; top2 = 'a b'/'b c'.. count 3, 'e a' count 2
    assert got["top2gram_char_frac"] == pytest.approx(3 * 3 / 29)


def test_repetition_dup_ngram_non_cyclic(spark):
    # one exact repeat separated by unique words -> only that gram duplicates
    text = "a b c d e uu vv ww xx yy a b c d e"  # 34 chars
    got = corpus.gopher_repetition_df(_docs(spark, [(1, text)])).toPandas().iloc[0]
    assert got["dup5gram_char_frac"] == pytest.approx(9 / 34)
    for n in range(6, 11):
        assert got[f"dup{n}gram_char_frac"] == 0.0


def test_repetition_oracle_duckdb(spark):
    """Line + 2-gram metrics vs an independent DuckDB formulation on the
    real sf0.001 documents table."""
    docs = spark.read.parquet(DOCS_PQ)
    got = (
        corpus.gopher_repetition_df(docs)
        .select("doc_id", "dup_line_frac", "dup_line_char_frac", "top2gram_char_frac")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    exp = con.execute(
        """
WITH l AS (
  SELECT doc_id, length(text) AS tchars,
         unnest(list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                            s -> s <> '')) AS line
  FROM documents
), lc AS (
  SELECT doc_id, line, count(*) AS cnt, any_value(tchars) AS tchars
  FROM l GROUP BY doc_id, line
), lines_agg AS (
  SELECT doc_id,
         sum(cnt - 1)::DOUBLE / sum(cnt) AS dup_line_frac,
         sum((cnt - 1) * length(line))::DOUBLE / any_value(tchars) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
), w AS (
  SELECT doc_id, length(text) AS tchars,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id, tchars,
         unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
                               i -> array_to_string(words[i:i+1], chr(32)))) AS gram
  FROM w
), gc AS (
  SELECT doc_id, gram, count(*) AS cnt, any_value(tchars) AS tchars
  FROM g GROUP BY doc_id, gram
), g_agg AS (
  SELECT doc_id, max(cnt * length(gram))::DOUBLE / any_value(tchars) AS top2gram_char_frac
  FROM gc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(la.dup_line_frac, 0) AS dup_line_frac,
       COALESCE(la.dup_line_char_frac, 0) AS dup_line_char_frac,
       COALESCE(ga.top2gram_char_frac, 0) AS top2gram_char_frac
FROM documents d
LEFT JOIN lines_agg la USING (doc_id)
LEFT JOIN g_agg ga USING (doc_id)
ORDER BY doc_id
"""
    ).df().set_index("doc_id")
    assert len(got) == len(exp)
    for c in got.columns:
        assert got[c].to_numpy() == pytest.approx(exp[c].to_numpy(), abs=1e-12), c


# ------------------------------------------------------------------- quality


def test_gopher_quality_keep(spark):
    good = " ".join(
        ["the quick brown fox jumps with vigor over that lazy dog and friends have fun"]
        + [f"word{i:02d} token{i:02d} lemma{i:02d}" for i in range(20)]
    )
    bad_repeat = " ".join(["spam spam spam"] * 40)
    short = "too short"
    rows = [(1, good), (2, bad_repeat), (3, short)]
    got = corpus.gopher_quality_df(_docs(spark, rows)).toPandas().set_index("doc_id")
    assert got.loc[1, "gopher_keep"] == 1
    assert got.loc[2, "gopher_keep"] == 0  # repetition gates fire
    assert got.loc[2, "dup5gram_char_frac"] > 0.15
    assert got.loc[3, "gopher_keep"] == 0  # word count < 50
    assert got.loc[1, "stopword_hits"] >= 2
    assert got.loc[1, "alpha_word_frac"] >= 0.8


def test_gopher_quality_symbol_and_lines(spark):
    text = "\n".join(
        ["- bullet one thing", "- bullet two thing", "normal line here..."]
    )
    got = corpus.gopher_quality_df(_docs(spark, [(1, text)])).toPandas().iloc[0]
    assert got["bullet_line_frac"] == pytest.approx(2 / 3)
    assert got["ellipsis_line_frac"] == pytest.approx(1 / 3)


# ----------------------------------------------------------- decontamination


def test_decontaminate_unit(spark):
    doc2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "completely unrelated text with no overlap whatsoever here today"),
        (2, doc2),
        (3, "x"),  # shorter than n tokens: 0 grams, kept
    ]
    eval_rows = pd.DataFrame({"text": ["GAMMA delta, epsilon Zeta eta!"]})
    got = (
        corpus.decontaminate_df(
            _docs(spark, rows), spark.createDataFrame(eval_rows), n=5
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[1, "contaminated"] == 0
    assert got.loc[2, "contaminated"] == 1 and got.loc[2, "ngrams_hit"] == 1
    assert got.loc[3, "contaminated"] == 0 and got.loc[3, "ngrams_total"] == 0


def test_decontaminate_oracle_duckdb(spark):
    docs = spark.read.parquet(DOCS_PQ)
    # eval set = snippets of 3 real documents (so some docs MUST flag)
    evals = docs.orderBy("doc_id").limit(3).select("text")
    got = (
        corpus.decontaminate_df(docs, evals, n=8)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    con.execute(
        "CREATE VIEW evals AS SELECT text FROM documents ORDER BY doc_id LIMIT 3"
    )
    exp = (
        con.execute(corpus.decontaminate_sql("documents", "evals", n=8))
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert got["contaminated"].sum() >= 3  # the 3 source docs at minimum
    assert (got["ngrams_total"].to_numpy() == exp["ngrams_total"].to_numpy()).all()
    assert (got["ngrams_hit"].to_numpy() == exp["ngrams_hit"].to_numpy()).all()
    assert (got["contaminated"].to_numpy() == exp["contaminated"].to_numpy()).all()


# ---------------------------------------------------------------- sampling


def test_sample_stratified_matches_duckdb(spark):
    docs = spark.read.parquet(DOCS_PQ)
    fr = {"en": 0.5, "de": 0.25}
    got = (
        corpus.sample_stratified(docs, "lang", fr, key_col="doc_id", seed=7)
        .select("doc_id")
        .toPandas()["doc_id"]
        .sort_values()
        .tolist()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    sql = corpus.sample_stratified_sql("documents", "lang", fr, key_col="doc_id", seed=7)
    exp = sorted(con.execute(f"SELECT doc_id FROM ({sql})").df()["doc_id"].tolist())
    assert got == exp
    assert 0 < len(got) < docs.count()


def test_sample_stratified_deterministic_and_proportional(spark):
    docs = spark.read.parquet(DOCS_PQ)
    fr = {"en": 0.5}
    a = corpus.sample_stratified(docs, "lang", fr, "doc_id", seed=1)
    b = corpus.sample_stratified(docs.repartition(16), "lang", fr, "doc_id", seed=1)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b  # parallelism-invariant
    n_en = docs.where("lang = 'en'").count()
    if n_en >= 40:
        assert abs(len(ids_a) / n_en - 0.5) < 0.25
    # non-listed strata dropped with default_fraction=0
    langs = {r.lang for r in a.select("lang").distinct().collect()}
    assert langs <= {"en"}


def test_dedup_spans_cross_doc(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (1, f"unique one two {shared} tail1 tail2"),
        (2, f"{shared} other words here"),
        (3, "no duplication at all in this document body"),
    ]
    got = (
        corpus.dedup_spans_df(_docs(spark, rows), k=10)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # the 12 shared tokens are removed from BOTH docs; unique parts survive
    assert got.loc[1, "clean_text"] == "unique one two tail1 tail2"
    assert got.loc[1, "n_removed"] == 12
    assert got.loc[2, "clean_text"] == "other words here"
    assert got.loc[2, "n_removed"] == 12
    assert got.loc[3, "n_removed"] == 0
    assert got.loc[3, "clean_text"] == rows[2][1]


def test_dedup_spans_within_doc_and_full_cover(spark):
    block = " ".join(f"w{i}" for i in range(10))
    rows = [
        (1, f"{block} {block}"),        # within-doc repeat: everything covered
        (2, f"lead {block} mid {block} trail"),
    ]
    got = (
        corpus.dedup_spans_df(_docs(spark, rows), k=10)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[1, "clean_text"] == "" and got.loc[1, "n_kept"] == 0
    assert got.loc[2, "clean_text"] == "lead mid trail"


def test_dedup_spans_oracle_duckdb(spark):
    docs = spark.read.parquet(DOCS_PQ)
    got = (
        corpus.dedup_spans_df(docs, k=5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    exp = (
        con.execute(corpus.dedup_spans_sql("documents", k=5))
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert got["n_removed"].sum() > 0  # word soup repeats 5-grams somewhere
    for c in ("n_tokens", "n_kept", "n_removed", "clean_text"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    # parallelism invariance
    again = (
        corpus.dedup_spans_df(docs.repartition(16), k=5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (again["clean_text"].to_numpy() == got["clean_text"].to_numpy()).all()


def test_pii_scrub_unit(spark):
    rows = [
        (1, "mail me at john.doe+x@sub.example.org or call +1-555 123-4567 now"),
        (2, "server at 192.168.0.1 and 10.0.0.255 ok"),
        (3, "clean text with no pii at all"),
    ]
    got = corpus.pii_scrub_df(_docs(spark, rows)).toPandas().set_index("doc_id")
    assert got.loc[1, "n_email"] == 1 and got.loc[1, "n_phone"] == 1
    assert "|||EMAIL|||" in got.loc[1, "clean_text"]
    assert "|||PHONE|||" in got.loc[1, "clean_text"]
    assert "john.doe" not in got.loc[1, "clean_text"]
    assert got.loc[2, "n_ipv4"] == 2
    assert got.loc[2, "clean_text"] == "server at |||IP||| and |||IP||| ok"
    assert got.loc[3, "clean_text"] == rows[2][1]
    assert (got.loc[3, ["n_email", "n_ipv4", "n_phone"]] == 0).all()


def test_pii_scrub_oracle_duckdb(spark):
    docs = spark.read.parquet(DOCS_PQ)
    # salt the real table with synthetic PII rows (deterministic in-query)
    salted = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' a@b.io 1.2.3.4 +1-555 123-4567') "
        "ELSE text END AS text",
    )
    got = corpus.pii_scrub_df(salted).toPandas().set_index("doc_id").sort_index()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    con.execute(
        "CREATE VIEW salted AS SELECT doc_id, CASE WHEN doc_id % 5 = 0 "
        "THEN concat(text, ' a@b.io 1.2.3.4 +1-555 123-4567') ELSE text END AS text "
        "FROM documents"
    )
    exp = (
        con.execute(corpus.pii_scrub_sql("salted"))
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert got["n_email"].sum() > 0 and got["n_ipv4"].sum() > 0
    for c in got.columns:
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c


def test_chunk_tokens(spark):
    text = " ".join(f"t{i}" for i in range(10))
    rows = [(1, text), (2, "only three tokens"), (3, "")]
    got = (
        corpus.chunk_tokens_df(_docs(spark, rows), size=4, stride=4)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    d1 = got[got.doc_id == 1]
    assert list(d1["chunk_text"]) == ["t0 t1 t2 t3", "t4 t5 t6 t7", "t8 t9"]
    assert list(d1["n_tokens"]) == [4, 4, 2]
    assert len(got[got.doc_id == 2]) == 1
    assert len(got[got.doc_id == 3]) == 0  # empty doc -> no chunks
    # overlapping windows
    ov = (
        corpus.chunk_tokens_df(_docs(spark, rows[:1]), size=6, stride=3)
        .toPandas()
        .sort_values("chunk_id")
    )
    assert list(ov["chunk_text"])[:2] == ["t0 t1 t2 t3 t4 t5", "t3 t4 t5 t6 t7 t8"]


def test_chunk_tokens_oracle_duckdb(spark):
    docs = spark.read.parquet(DOCS_PQ)
    got = (
        corpus.chunk_tokens_df(docs, size=32, stride=24)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    exp = (
        con.execute(corpus.chunk_tokens_sql("documents", size=32, stride=24))
        .df()
        .sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > len(got["doc_id"].unique())
    for c in ("doc_id", "chunk_id", "n_tokens", "chunk_text"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c


def test_domain_cap(spark):
    docs = spark.read.parquet(DOCS_PQ)
    capped = corpus.domain_cap_df(docs, "source", cap=10, key_col="doc_id")
    per = capped.groupBy("source").count().toPandas()
    assert (per["count"] <= 10).all()
    # deterministic under repartition
    again = corpus.domain_cap_df(docs.repartition(16), "source", cap=10, key_col="doc_id")
    a = sorted(r.doc_id for r in capped.select("doc_id").collect())
    b = sorted(r.doc_id for r in again.select("doc_id").collect())
    assert a == b
    # domains under the cap are untouched
    orig = docs.groupBy("source").count().toPandas().set_index("source")["count"]
    got = per.set_index("source")["count"]
    for dom, n in orig.items():
        assert got.get(dom, 0) == min(n, 10)


def test_run_doc_stage_checkpoint_resume(spark, tmp_path):
    """The corpus pipeline gets the same checkpoint/lineage/resume contract
    as the tile pipeline: stages persist with per-partition content
    checksums, resume never re-invokes the producer, and the checksum is
    parallelism-invariant."""
    from engine import pipeline

    base = str(tmp_path / "corpus_run")
    docs = spark.read.parquet(DOCS_PQ)

    out1 = pipeline.run_doc_stage(
        spark, "pii", lambda: corpus.pii_scrub_df(docs), base
    )
    out2 = pipeline.run_doc_stage(
        spark,
        "gopher",
        lambda: corpus.gopher_quality_df(
            out1.withColumnRenamed("clean_text", "text")
        ),
        base,
    )
    assert out2.count() == docs.count()
    man = spark.read.json(f"{base}/_manifest").toPandas().set_index("stage")
    assert set(man.index) == {"pii", "gopher"}
    assert int(man.loc["pii", "n_rows"]) == docs.count()

    def boom():
        raise AssertionError("resume must not re-invoke the producer")

    res = pipeline.run_doc_stage(spark, "pii", boom, base, resume=True)
    assert res.count() == docs.count()

    # content checksum is row-order / parallelism invariant: rebuilding the
    # same stage from a repartitioned input yields the same manifest ck
    base2 = str(tmp_path / "corpus_run2")
    pipeline.run_doc_stage(
        spark, "pii", lambda: corpus.pii_scrub_df(docs.repartition(16)), base2
    )
    man2 = spark.read.json(f"{base2}/_manifest").toPandas().set_index("stage")
    assert int(man2.loc["pii", "content_ck"]) == int(man.loc["pii", "content_ck"])


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "no_rows"])
def test_run_doc_stage_commit_matches_separate_passes(spark, tmp_path, empty):
    """A tile_assign-shaped stage (string, timestamp, double and long
    columns): the manifest scalars and the lineage rows folded in the data
    write must equal separate passes over the persisted table (a per-row
    xxhash64 folded by bit_xor per written file), and the returned table
    must carry the schema Spark infers from the files."""
    import json

    from pyspark.sql import functions as F

    from engine import pipeline

    n = 500
    assign = pd.DataFrame(
        {
            "url": [f"http://h{i % 37}.example/{i}" for i in range(n)],
            "warc_ts": pd.to_datetime(1_600_000_000_000_000 + 7_919 * pd.Series(range(n), dtype="int64"), unit="us"),
            "lang": [None if i % 11 == 0 else "en" for i in range(n)],
            "lon": [(i * 7.3) % 360 - 180 for i in range(n)],
            "lat": [(i * 3.1) % 170 - 85 for i in range(n)],
            "tx": pd.Series([i % 256 for i in range(n)], dtype="int64"),
            "ty": pd.Series([i % 199 for i in range(n)], dtype="int64"),
        }
    )
    df = spark.createDataFrame(assign).repartition(3)
    if empty:
        df, n = df.limit(0), 0
    base = str(tmp_path / "run")
    persisted = pipeline.run_doc_stage(spark, "tile_assign", lambda: df, base)
    path = f"{base}/stage=tile_assign"
    inferred = spark.read.parquet(path)
    assert persisted.schema == inferred.schema
    assert [f.dataType.typeName() for f in inferred.schema] == [
        "string", "timestamp", "string", "double", "double", "long", "long"
    ]

    lineage = (
        inferred.withColumn("_h", F.xxhash64(*[F.col(c) for c in inferred.columns]))
        .withColumn("part_id", F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.expr("bit_xor(_h)").alias("ck_xor"))
    )
    want = sorted(tuple(r) for r in lineage.collect())
    got = spark.read.parquet(f"{base}/_lineage/stage=tile_assign")
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in lineage.schema]
    assert sorted(tuple(r) for r in got.collect()) == want

    ck = 0
    for r in want:
        ck ^= r[2]
    (mfile,) = os.listdir(f"{base}/_manifest")
    rec = json.loads(open(f"{base}/_manifest/{mfile}").read())
    assert {k: rec[k] for k in ("n_rows", "content_ck", "n_partitions")} == {
        "n_rows": n, "content_ck": ck, "n_partitions": len(want)
    }
    if empty:
        assert (rec["n_rows"], rec["content_ck"], rec["n_partitions"]) == (0, 0, 0)


def test_run_doc_stage_reads_back_every_type_as_inferred(spark, tmp_path):
    """The stage runners read a written table back with its own schema made
    nullable instead of inferring it from the files; that must give the
    inferred schema for nested, interval, char/varchar, collated and
    user-defined types too (maps and variants are left out: the content
    checksum cannot hash them)."""
    from pyspark.ml.linalg import Vectors

    from engine import pipeline

    df = spark.sql(
        """select cast(1 as tinyint) b, cast(2 as smallint) s, 3 i, 4L l, cast(1.5 as float) f,
                  cast(1.25 as decimal(10, 2)) dec, cast('x' as binary) bin, true bo,
                  date'2020-01-01' dt, timestamp_ntz'2020-01-01 00:00:00' tsn,
                  array(1, 2) arr, named_struct('a', 1, 'b', array(2.5d)) st,
                  interval '1' day dti, interval '1' year ymi,
                  cast('ab' as varchar(5)) vc, cast('ab' as char(4)) ch, collate('a', 'UTF8_LCASE') col"""
    ).crossJoin(spark.createDataFrame([(Vectors.dense([1.0, 2.0]),)], ["vec"]))
    persisted = pipeline.run_doc_stage(spark, "wide", lambda: df, str(tmp_path))
    assert persisted.schema == spark.read.parquet(str(tmp_path / "stage=wide")).schema


def test_domain_cap_prefilter_exact(spark):
    """The hot-domain hash pre-filter must return EXACTLY the rows of the
    plain window path on a heavily skewed fixture."""
    rows = pd.DataFrame(
        {
            "doc_id": range(2200),
            "source": ["hot"] * 2000 + [f"s{i}" for i in range(200)],
        }
    )
    df = spark.createDataFrame(rows)
    plain = corpus.domain_cap_df(df, "source", cap=10, key_col="doc_id")
    fast = corpus.domain_cap_df(
        df, "source", cap=10, key_col="doc_id", prefilter=True
    )
    a = sorted(r.doc_id for r in plain.select("doc_id").collect())
    b = sorted(r.doc_id for r in fast.select("doc_id").collect())
    assert a == b and len(a) == 10 + 200
    # tiny slack forces the doubling loop; result must still be exact
    tight = corpus.domain_cap_df(
        df, "source", cap=10, key_col="doc_id", prefilter=True, slack=1.001
    )
    c = sorted(r.doc_id for r in tight.select("doc_id").collect())
    assert a == c
    # pathological slack: the hot domain keeps ZERO survivor rows at the
    # first thresholds, which must be DETECTED (not silently dropped) and
    # resolved through the exact fallback
    zero = corpus.domain_cap_df(
        df, "source", cap=10, key_col="doc_id", prefilter=True, slack=1e-9
    )
    d = sorted(r.doc_id for r in zero.select("doc_id").collect())
    assert a == d


def test_dedup_spans_randomized_vs_python_reference(spark):
    """30 seeded random mini-corpora (tiny alphabet -> dense collisions,
    within- and cross-doc) checked against a direct python reference.
    Corpora are isolated by prefixing tokens with the corpus id, so ONE
    Spark run covers all of them (grams never cross corpora)."""
    from collections import Counter

    import numpy as np

    k = 3
    rng = np.random.default_rng(12345)
    corpora = {}
    rows = []
    doc_key = 0
    for c in range(30):
        docs = {}
        for d in range(int(rng.integers(2, 5))):
            n = int(rng.integers(0, 18))
            toks = [f"c{c}w{int(rng.integers(0, 5))}" for _ in range(n)]
            docs[doc_key] = toks
            rows.append((doc_key, " ".join(toks)))
            doc_key += 1
        corpora[c] = docs

    got = (
        corpus.dedup_spans_df(_docs(spark, rows), k=k)
        .toPandas()
        .set_index("doc_id")
    )

    for docs in corpora.values():
        cnt = Counter()
        for toks in docs.values():
            for j in range(len(toks) - k + 1):
                cnt[tuple(toks[j : j + k])] += 1
        for did, toks in docs.items():
            covered = set()
            for j in range(len(toks) - k + 1):
                if cnt[tuple(toks[j : j + k])] >= 2:
                    covered.update(range(j, j + k))
            clean = " ".join(t for i, t in enumerate(toks) if i not in covered)
            assert got.loc[did, "clean_text"] == clean, did
            assert got.loc[did, "n_removed"] == len(covered), did


def test_chunk_tokens_partition_property(spark):
    """Disjoint chunks (stride == size) partition the token stream: the
    concatenation of a doc's chunks equals its full token stream."""
    docs = spark.read.parquet(DOCS_PQ)
    chunks = (
        corpus.chunk_tokens_df(docs, size=7, stride=7)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    joined = chunks.groupby("doc_id")["chunk_text"].apply(" ".join)
    texts = spark.read.parquet(DOCS_PQ).select("doc_id", "text").toPandas()
    import re

    for _, row in texts.iterrows():
        toks = [w for w in re.split(r"\s+", row["text"]) if w]
        expect = " ".join(toks)
        if toks:
            assert joined[row["doc_id"]] == expect
        else:
            assert row["doc_id"] not in joined.index


def test_unigram_logprob_hand_computed(spark):
    import math

    rows = [(1, "a a b"), (2, "b"), (3, "")]
    got = (
        corpus.unigram_logprob_df(_docs(spark, rows), alpha=1.0)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # corpus counts: a=2, b=2, N=4, V=2 -> p(a)=p(b)=(2+1)/(4+3)=3/7
    p = 3.0 / 7.0
    assert got.loc[1, "n_scored"] == 3
    assert got.loc[1, "mean_neg_logprob"] == pytest.approx(-math.log(p), rel=1e-12)
    assert got.loc[2, "mean_neg_logprob"] == pytest.approx(-math.log(p), rel=1e-12)
    assert got.loc[3, "n_scored"] == 0 and got.loc[3, "mean_neg_logprob"] == 0.0


def test_unigram_logprob_external_reference(spark):
    import math

    docs = _docs(spark, [(1, "x y"), (2, "zz zz")])
    ref = spark.createDataFrame(pd.DataFrame({"text": ["x x x y"]}))
    got = (
        corpus.unigram_logprob_df(docs, reference=ref, alpha=1.0)
        .toPandas()
        .set_index("doc_id")
    )
    # ref: x=3, y=1, N=4, V=2 -> p(x)=4/7, p(y)=2/7, unseen p=1/7
    px, py, pu = 4 / 7, 2 / 7, 1 / 7
    assert got.loc[1, "mean_neg_logprob"] == pytest.approx(
        -(math.log(px) + math.log(py)) / 2, rel=1e-12
    )
    assert got.loc[2, "mean_neg_logprob"] == pytest.approx(-math.log(pu), rel=1e-12)


def test_unigram_logprob_duckdb_oracle(spark):
    docs = spark.read.parquet(DOCS_PQ)
    got = (
        corpus.unigram_logprob_df(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    exp = con.execute(
        """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
  FROM documents
), ex AS (
  SELECT doc_id, unnest(words) AS w FROM w
), freq AS (
  SELECT w, count(*) AS c FROM ex GROUP BY w
), tot AS (
  SELECT sum(c) AS N, count(*) AS V FROM freq
)
SELECT d.doc_id,
       COALESCE(s.n_scored, 0) AS n_scored,
       COALESCE(s.m, 0.0) AS mean_neg_logprob
FROM documents d
LEFT JOIN (
  SELECT ex.doc_id, count(*) AS n_scored,
         avg(-ln((f.c + 1.0) / (t.N + 1.0 * (t.V + 1)))) AS m
  FROM ex JOIN freq f USING (w) CROSS JOIN tot t
  GROUP BY ex.doc_id
) s USING (doc_id)
ORDER BY doc_id
"""
    ).df().set_index("doc_id")
    assert (got["n_scored"].to_numpy() == exp["n_scored"].to_numpy()).all()
    assert got["mean_neg_logprob"].to_numpy() == pytest.approx(
        exp["mean_neg_logprob"].to_numpy(), rel=1e-12
    )


def test_ccnet_buckets(spark):
    docs = spark.read.parquet(DOCS_PQ)
    scores = corpus.unigram_logprob_df(docs)
    b = corpus.ccnet_buckets(scores).toPandas()
    counts = b["bucket"].value_counts()
    n = len(b)
    assert set(counts.index) <= {"head", "middle", "tail"}
    for k in ("head", "middle", "tail"):
        assert counts.get(k, 0) > 0.2 * n  # roughly thirds
    # head scores <= tail scores
    assert b[b.bucket == "head"]["mean_neg_logprob"].max() <= b[
        b.bucket == "tail"
    ]["mean_neg_logprob"].min()


def test_pack_sequences_hand_computed(spark):
    rows = [(1, "a b c"), (2, "d e f g"), (3, ""), (4, "h")]
    got = (
        corpus.pack_sequences(_docs(spark, rows), size=4)
        .toPandas()
        .sort_values(["seq_id", "offset_in_seq"])
        .reset_index(drop=True)
    )
    # stream: a b c | d  ||  e f g h  (seq 0: doc1[3] + doc2[1]; seq 1: doc2[3] + doc4[1])
    recs = list(got[["seq_id", "doc_id", "offset_in_seq", "n_tokens", "part_text"]].itertuples(index=False))
    assert recs[0] == (0, 1, 0, 3, "a b c")
    assert recs[1] == (0, 2, 3, 1, "d")
    assert recs[2] == (1, 2, 0, 3, "e f g")
    assert recs[3] == (1, 4, 3, 1, "h")
    # every sequence except the last is exactly full; empty doc absent
    per_seq = got.groupby("seq_id")["n_tokens"].sum()
    assert per_seq.iloc[:-1].eq(4).all()
    assert 3 not in set(got["doc_id"])


def test_pack_sequences_duckdb_and_stream_property(spark):
    docs = spark.read.parquet(DOCS_PQ)
    size = 97
    got = (
        corpus.pack_sequences(docs, size=size)
        .toPandas()
        .sort_values(["seq_id", "offset_in_seq"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS_PQ}')")
    exp = (
        con.execute(corpus.pack_sequences_sql("documents", size=size))
        .df()
        .sort_values(["seq_id", "offset_in_seq"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ("seq_id", "doc_id", "offset_in_seq", "n_tokens", "part_text"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    # reassembled stream == id-ordered concatenation of all doc tokens
    import re

    stream = " ".join(got["part_text"])
    texts = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    expect = " ".join(
        w for t in texts["text"] for w in re.split(r"\s+", t) if w
    )
    assert stream == expect
    # all but the last sequence are exactly full
    per_seq = got.groupby("seq_id")["n_tokens"].sum().sort_index()
    assert per_seq.iloc[:-1].eq(size).all()


def test_pack_sequences_bucketed_equals_global_window(spark):
    """The two-pass bucketed plan (quantile buckets + broadcast offsets)
    must reproduce the single-global-window stream exactly — including at
    bucket boundaries — and its physical plan must not contain an
    unpartitioned window."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (int(i * 7 + 3), " ".join(f"w{i}_{j}" for j in range(int(rng.integers(0, 9)))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = corpus.pack_sequences(docs, size=16).orderBy("seq_id", "doc_id").toPandas()
    # reference: brute-force single-process stream
    stream = []
    for did, text in sorted(rows):
        words = [w for w in text.split(" ") if w]
        stream.extend((did, w) for w in words)
    exp = {}
    for pos, (did, w) in enumerate(stream):
        exp.setdefault((pos // 16, did), []).append((pos % 16, w))
    assert len(got) == len(exp)
    for r in got.itertuples():
        parts = exp[(r.seq_id, r.doc_id)]
        assert r.offset_in_seq == parts[0][0]
        assert r.n_tokens == len(parts)
        assert r.part_text == " ".join(w for _, w in parts)
    plan = corpus.pack_sequences(docs, size=16)._jdf.queryExecution().executedPlan().toString()
    # the running sum must be a window PARTITIONED by the bucket column,
    # not a single-task unpartitioned window over the whole corpus
    assert "windowspecdefinition(_b" in plan or "windowspecdefinition(cast(_b" in plan
