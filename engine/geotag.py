"""Geotag stage: text → (lon, lat) via broadcast gazetteer join.

Deterministic stand-in for the reference's geocoder (``OGRGeocode``,
``ogr/ogr_geocoding.cpp:100-197``): instead of a network service + cache
table, the gazetteer IS the cache table, broadcast to every executor.

Semantics: a page matches a gazetteer entry iff the place token occurs in
``text`` as a whitespace-delimited token.  Tokens are generated
never-substring-ambiguous (FIXTURES.md §2) so tokenize-then-equi-join is
exact — and it turns a scan-per-pattern problem into a single broadcast hash
join with no Python in the match path.

Pages with multiple place tokens emit one row per match (geotag_all) or the
first-by-position match (geotag_first — deterministic primary location).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def geotag_all(pages: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """One output row per (page, matched place): url, warc_ts, lang, token
    position, name, lon, lat, country_id.

    Plan: split/posexplode text (JVM-side, codegen) → broadcast hash join on
    the token.  No shuffle of the pages side; gazetteer (~5k rows) broadcast.
    """
    toks = pages.select(
        "url",
        "warc_ts",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).where(F.col("token").startswith("Ztown"))
    return toks.join(
        F.broadcast(gazetteer), toks["token"] == gazetteer["name"], "inner"
    ).select("url", "warc_ts", "lang", "pos", "name", "lon", "lat", "country_id")


def geotag_first(pages: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Primary location per page: the first place token by text position.

    First-match-only semantics mirror the OGR SQL join rule (one row per
    primary feature, ogr/ogr_sql.dox:414-433), implemented with a window
    rank over (url) ordered by token position — the engine's standard
    first-match pattern (SURVEY.md §2.3).
    """
    tagged = geotag_all(pages, gazetteer)
    w = Window.partitionBy("url").orderBy(F.col("pos").asc(), F.col("name").asc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "pos")
    )


def geocode_reverse(
    queries: DataFrame,
    gazetteer: DataFrame,
    query_id: str = "qid",
    k: int = 1,
) -> DataFrame:
    """Reverse geocoding: (lon, lat) → nearest gazetteer place — the
    ``OGRGeocodeReverse`` analog (``ogr/ogr_geocoding.cpp:331-357`` reverse
    query templates :100-117; the service's nearest-place answer becomes an
    exact kNN against the broadcast gazetteer, which IS the cache table, so
    repeated queries are deterministic by construction — the cache-table
    contract of OGRGeocodeCreateSession).

    Plan: k=1 (default) exact kNN via the combiner-style broadcast scan
    (``joins.knn_join_broadcast``) — queries broadcast, one vectorized pass
    over the gazetteer, per-partition top-k, one tiny merge shuffle — then
    a broadcast join restores the full place attribution.  Ties break on
    place name ascending (documented, parallelism-invariant).  A query or
    place whose lon or lat is NaN, ±inf or null takes no part.

    Output: (query_id, rank, name, place_lon, place_lat, dist,
    <other gazetteer columns>).
    """
    from engine import joins

    nn = joins.knn_join_broadcast(
        queries, gazetteer, k=k, query_id=query_id, point_id="name"
    )
    attrs = [c for c in gazetteer.columns if c not in ("name", "lon", "lat")]
    out = nn.join(F.broadcast(gazetteer.select("name", *attrs)),
                  nn["neighbor"] == gazetteer["name"])
    return out.select(
        query_id,
        "rank",
        F.col("neighbor").alias("name"),
        F.col("nbr_lon").alias("place_lon"),
        F.col("nbr_lat").alias("place_lat"),
        "dist",
        *attrs,
    )
