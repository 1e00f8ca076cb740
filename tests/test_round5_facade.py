"""Facade routes: the block-max pruned tier behind SearchIndex.search and
Engine.search, on the shared seed-77 index, must take the pruned path
and serve the exact path's pages and totals."""

from yetisearch_spark.engine import SearchQuery
from yetisearch_spark.query import SearchIndex, parse_query

from facade_helpers import _engine, _exact_and_routed, _page, _rows, _top_terms


def test_searchindex_facade_routes_and_matches_exact(spark, facade_idx):
    exact = SearchIndex(spark, facade_idx, cache_postings=False,
                        cache_docs=False)
    exact.pruned_gate_blocks = -1          # facade pruning disabled
    routed = SearchIndex(spark, facade_idx, cache_postings=False,
                         cache_docs=False)
    routed.pruned_gate_blocks = 0          # facade pruning forced
    t = _top_terms(exact, 4)
    queries = [f'"{t[0]}"',
               f'"{t[0]}" AND "{t[1]}"',
               f'"{t[0]}" OR "{t[2]}" OR "{t[3]}"']
    for q in queries:
        got = routed.search(q, k=10)
        assert _rows(got) == _page(exact, q), q
        # the routed frame must actually have taken the pruned path
        assert routed.route(parse_query(q), 10).kind == "pruned", q
    exact.close()
    routed.close()


def test_searchindex_facade_with_docs(spark, facade_idx):
    routed = SearchIndex(spark, facade_idx, cache_postings=False,
                         cache_docs=False)
    routed.pruned_gate_blocks = 0
    t = _top_terms(routed, 4)
    out = routed.search(f'"{t[0]}"', k=5, with_docs=True).collect()
    assert len(out) == 5
    assert "text" in out[0].asDict()
    routed.close()


def test_searchindex_facade_default_gate_small_corpus(spark, facade_idx):
    """Default gate: a 3k-doc corpus is far below GATE_MIN_BLOCKS — the
    facade serves the exact path (no behavior change at small scale)."""
    ix = SearchIndex(spark, facade_idx, cache_postings=False, cache_docs=False)
    t = _top_terms(ix, 4)
    df = ix.search(f'"{t[0]}"', k=10)
    assert ix.route(parse_query(f'"{t[0]}"'), 10).kind == "exact"
    assert len(df.collect()) == 10
    ix.close()


def test_engine_facade_pruned_matches_exact(spark, facade_idx):
    """Engine.search through the pruned tier: page rows AND exact totals
    for single-term and AND shapes; R5 normalization consumes the pruned
    page unchanged."""
    exact, routed = _exact_and_routed(spark, facade_idx)
    t = _top_terms(exact.index("t"), 4)
    for q in [t[0], f"{t[0]} {t[1]}"]:
        a = exact.search("t", q)
        b = routed.search("t", q)
        assert b["total"] == a["total"], q
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], q
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], q
        assert b["total"] > 0 and b["results"], q


def test_engine_facade_pruned_min_score_and_offset(spark, facade_idx):
    exact, routed = _exact_and_routed(spark, facade_idx)
    t = _top_terms(exact.index("t"), 4)
    q = SearchQuery(query=f"{t[0]} {t[1]}", limit=5, offset=3, min_score=10.0)
    a = exact.search("t", q)
    b = routed.search("t", q)
    assert [r["id"] for r in b["results"]] == [r["id"] for r in a["results"]]
    assert b["total"] == a["total"]


def test_engine_pruned_single_runs_one_action(spark, facade_idx):
    """The pruned single-term engine route must stay ONE Spark action
    per query: the page+total union collect, with the total a driver
    literal (df) — no count job, no extra phase-1 job once the per-term
    block metadata is memoized."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    eng = _engine(spark, facade_idx, 0)
    t = _top_terms(eng.index("t"), 4)[0]
    q = SearchQuery(query=t, limit=10, bypass_cache=True)
    eng.search("t", q)          # warm-up: meta collect + plan build

    calls = []
    orig = CDF.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    CDF.collect = counting
    try:
        out = eng.search("t", q)
    finally:
        CDF.collect = orig
    assert out["total"] > 0 and out["results"]
    assert len(calls) == 1, f"{len(calls)} collects on the hot pruned path"
