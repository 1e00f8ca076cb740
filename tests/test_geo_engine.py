"""Geo wired through SearchQuery/Engine + DSL geo grammar (round-2 wiring
of J2/O4/O6/A2/R6 into the live search path — reference spatial clauses
src/Storage/SqliteStorage.php:1988-2209, processResults geo scoring
SearchEngine.php:760-825, URL geo params src/DSL/URLQueryParser.php:200-239)."""

import math

import pytest

from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.build import build_index
from yetisearch_spark.engine import Engine, SearchQuery
from yetisearch_spark.geo import haversine_m_py

# a small city grid around (48.85, 2.35)
LAT0, LNG0 = 48.85, 2.35


@pytest.fixture(scope="module")
def geo_engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("geo_idx"))
    pdf = generate_transcripts(300, seed=55)
    # deterministic grid: each doc offset by (i%20, i//20) * ~100m
    pdf["lat"] = [LAT0 + (i % 20) * 0.0009 for i in range(len(pdf))]
    pdf["lng"] = [LNG0 + (i // 20) * 0.00135 for i in range(len(pdf))]
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4)
    eng = Engine(spark, {"g": out})
    return eng, pdf


def test_near_filter(geo_engine):
    eng, pdf = geo_engine
    res = eng.search("g", SearchQuery(
        query="data", limit=50,
        geo_filters={"near": {"lat": LAT0, "lng": LNG0, "radius": 2000}}))
    assert res["results"]
    for item in res["results"]:
        d = item["document"]
        assert haversine_m_py(LAT0, LNG0, d["lat"], d["lng"]) <= 2000 + 1e-6


def test_within_bbox(geo_engine):
    eng, _ = geo_engine
    box = {"north": LAT0 + 0.008, "south": LAT0 - 0.001,
           "east": LNG0 + 0.008, "west": LNG0 - 0.001}
    res = eng.search("g", SearchQuery(
        query="data OR search OR process OR error OR file", limit=50,
        geo_filters={"within": box}))
    assert res["results"]
    for item in res["results"]:
        d = item["document"]
        assert box["south"] <= d["lat"] <= box["north"]
        assert box["west"] <= d["lng"] <= box["east"]


def test_distance_sort_and_metadata(geo_engine):
    eng, _ = geo_engine
    res = eng.search("g", SearchQuery(
        query="data", limit=10,
        geo_filters={"distance_sort": {"lat": LAT0, "lng": LNG0}}))
    dists = [item["distance"] for item in res["results"]]
    assert dists == sorted(dists)
    meta = res["results"][0]["metadata"]
    assert meta["distance_units"] == "m"
    assert "bearing" in meta and "cardinal" in meta


def test_distance_survives_result_fields_projection(geo_engine):
    """F5 projection must not strip the geo outputs — distance and bearing
    metadata attach from the raw row before field filtering."""
    eng, _ = geo_engine
    res = eng.search("g", SearchQuery(
        query="data", limit=5, result_fields=["role"],
        geo_filters={"distance_sort": {"lat": LAT0, "lng": LNG0}}))
    assert res["results"]
    top = res["results"][0]
    assert top["distance"] is not None
    assert "bearing" in top["metadata"]
    assert "text" not in top["document"]  # projection applied


def test_nearest_knn_mode(geo_engine):
    eng, _ = geo_engine
    res = eng.search("g", SearchQuery(
        query="", geo_filters={"nearest": {"lat": LAT0, "lng": LNG0, "k": 5}}))
    assert res["count"] == 5
    dists = [item["distance"] for item in res["results"]]
    assert dists == sorted(dists)


def test_distance_facet_a2(geo_engine):
    eng, _ = geo_engine
    res = eng.search("g", SearchQuery(
        query="data", limit=5,
        geo_filters={"near": {"lat": LAT0, "lng": LNG0, "radius": 20000},
                     "distance_sort": {"lat": LAT0, "lng": LNG0}},
        facets={"distance": {"ranges": [{"to": 500},
                                        {"from": 500, "to": 1500},
                                        {"from": 1500}]}}))
    fac = res["facets"]["distance"]
    assert fac and sum(b["count"] for b in fac) > 0


def test_r6_distance_blending(geo_engine):
    eng, _ = geo_engine
    eng.config["distance_weight"] = 0.5
    try:
        res = eng.search("g", SearchQuery(
            query="data", limit=10, bypass_cache=True,
            geo_filters={"near": {"lat": LAT0, "lng": LNG0,
                                  "radius": 50000}}))
        assert res["results"]
        # blended scores: (1-w)*text + w*100*exp(-k*km) — a nearby doc
        # cannot score below w*100*exp(-k*near) - epsilon of pure distance
        for item in res["results"]:
            assert 0.0 <= item["score"] <= 100.0
        scores = [i["score"] for i in res["results"]]
        assert scores == sorted(scores, reverse=True)
    finally:
        eng.config["distance_weight"] = 0.0


def test_dsl_geo_near():
    from yetisearch_spark.dsl import QueryParser
    q = QueryParser().parse('error NEAR(48.85, 2.35, 5000) role = "user"')
    assert q.query == "error"
    assert q.geo_filters["near"] == {"lat": 48.85, "lng": 2.35,
                                     "radius": 5000.0}
    assert q.filters == [{"field": "role", "operator": "=", "value": "user"}]


def test_dsl_geo_within_and_fts_near_distinction():
    from yetisearch_spark.dsl import QueryParser
    q = QueryParser().parse("report WITHIN(49.0, 48.0, 3.0, 2.0) LIMIT 5")
    assert q.geo_filters["within"] == {"north": 49.0, "south": 48.0,
                                       "east": 3.0, "west": 2.0}
    assert q.limit == 5
    # FTS5-style NEAR with word args is NOT a geo filter — stays query text
    q2 = QueryParser().parse("NEAR ( data query , 10 )")
    assert not q2.geo_filters
    assert "near" in q2.query.lower()


def test_url_geo_params():
    from yetisearch_spark.dsl import URLQueryParser
    q = URLQueryParser().parse_query_string(
        "q=error&geo[near][lat]=48.85&geo[near][lng]=2.35"
        "&geo[near][radius]=5000&geo[sort][lat]=48.85&geo[sort][lng]=2.35"
        "&geo[units]=km")
    assert q.geo_filters["near"]["radius"] == 5000.0
    assert q.geo_filters["distance_sort"]["direction"] == "asc"
    assert q.geo_filters["units"] == "km"


def test_two_pass_search_r7(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tp_idx"))
    pdf = generate_transcripts(400, seed=66)
    pdf["title"] = pdf["text"].str.split().str[:3].str.join(" ")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4,
                fields=["title", "text"])
    eng = Engine(spark, {"tp": out},
                 config={"two_pass_search": True,
                         "field_weights": {"title": 3.0, "text": 1.0}})
    res = eng.search("tp", SearchQuery(query="data", limit=10,
                                       bypass_cache=True))
    assert res["results"]
    # pass-1 (title hits, x2 weights, x1.5 boost) must lead the ranking:
    # the top result's title contains the term's stem
    from yetisearch_spark.analyzer import analyze
    top = res["results"][0]["document"]
    assert "data" in analyze(top["title"] or "")

    # a filter bounds both passes and the enriched page: every row is a
    # user turn, and the total counts only the filtered candidates (the
    # single-pass filtered engine's exact count; "data" matches 2 user
    # turns among its 7 matches, so the whole filtered set fits the page)
    filt = [{"field": "role", "operator": "=", "value": "user"}]
    res_f = eng.search("tp", SearchQuery(query="data", limit=10,
                                         bypass_cache=True, filters=filt))
    one_pass = Engine(spark, {"tp": out},
                      config={"field_weights": {"title": 3.0, "text": 1.0}})
    want = one_pass.search("tp", SearchQuery(query="data", limit=10,
                                             bypass_cache=True,
                                             filters=filt))
    assert res_f["results"]
    assert all(r["document"]["role"] == "user" for r in res_f["results"])
    assert res_f["total"] == want["total"] == len(res_f["results"])
