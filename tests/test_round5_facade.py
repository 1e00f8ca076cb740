"""Round 5: the block-max pruned tier must be reachable from the user
facade (SearchIndex.search / Engine.search) and stay result-identical —
pages AND totals — with the exact path."""

import pytest

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.query import SearchIndex, parse_query


@pytest.fixture(scope="module")
def idx_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("facade_idx"))
    pdf = generate_transcripts(3000, seed=77)
    build_index(spark, spark.createDataFrame(pdf), out,
                num_buckets=8, block_size=16)
    return out


def _common_terms(index, n=4):
    rows = (index._term_stats.orderBy("df", ascending=False)
            .limit(50).collect())
    from yetisearch_spark.analyzer import analyze
    terms = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    return terms[:n]


def _page(index, q, k=10):
    return [(r["doc_id"], round(r["score"], 9))
            for r in index.search(q, k=k).collect()]


def test_searchindex_facade_routes_and_matches_exact(spark, idx_dir):
    exact = SearchIndex(spark, idx_dir, cache_postings=False,
                        cache_docs=False)
    exact.pruned_gate_blocks = -1          # facade pruning disabled
    routed = SearchIndex(spark, idx_dir, cache_postings=False,
                         cache_docs=False)
    routed.pruned_gate_blocks = 0          # facade pruning forced
    t = _common_terms(exact)
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


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_searchindex_facade_with_docs(spark, idx_dir):
    routed = SearchIndex(spark, idx_dir, cache_postings=False,
                         cache_docs=False)
    routed.pruned_gate_blocks = 0
    t = _common_terms(routed)
    out = routed.search(f'"{t[0]}"', k=5, with_docs=True).collect()
    assert len(out) == 5
    assert "text" in out[0].asDict()
    routed.close()


def test_searchindex_facade_default_gate_small_corpus(spark, idx_dir):
    """Default gate: a 3k-doc corpus is far below GATE_MIN_BLOCKS — the
    facade serves the exact path (no behavior change at small scale)."""
    ix = SearchIndex(spark, idx_dir, cache_postings=False, cache_docs=False)
    t = _common_terms(ix)
    df = ix.search(f'"{t[0]}"', k=10)
    assert ix.route(parse_query(f'"{t[0]}"'), 10).kind == "exact"
    assert len(df.collect()) == 10
    ix.close()


def test_engine_facade_pruned_matches_exact(spark, idx_dir):
    """Engine.search through the pruned tier: page rows AND exact totals
    for single-term and AND shapes; R5 normalization consumes the pruned
    page unchanged."""
    from yetisearch_spark.engine import Engine
    exact = Engine(spark, {"t": idx_dir},
                   config={"pruned_gate_blocks": -1, "enable_fuzzy": False})
    routed = Engine(spark, {"t": idx_dir},
                    config={"pruned_gate_blocks": 0, "enable_fuzzy": False})
    t = _common_terms(exact.index("t"))
    for q in [t[0], f"{t[0]} {t[1]}"]:
        a = exact.search("t", q)
        b = routed.search("t", q)
        assert b["total"] == a["total"], q
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], q
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], q
        assert b["total"] > 0 and b["results"], q


def test_engine_facade_pruned_min_score_and_offset(spark, idx_dir):
    from yetisearch_spark.engine import Engine, SearchQuery
    exact = Engine(spark, {"t": idx_dir},
                   config={"pruned_gate_blocks": -1, "enable_fuzzy": False})
    routed = Engine(spark, {"t": idx_dir},
                    config={"pruned_gate_blocks": 0, "enable_fuzzy": False})
    t = _common_terms(exact.index("t"))
    q = SearchQuery(query=f"{t[0]} {t[1]}", limit=5, offset=3, min_score=10.0)
    a = exact.search("t", q)
    b = routed.search("t", q)
    assert [r["id"] for r in b["results"]] == [r["id"] for r in a["results"]]
    assert b["total"] == a["total"]


def test_engine_pruned_single_runs_one_action(spark, idx_dir):
    """The pruned single-term engine route must stay ONE Spark action
    per query: the page+total union collect, with the total a driver
    literal (df) — no count job, no extra phase-1 job once the per-term
    block metadata is memoized."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from yetisearch_spark.engine import Engine, SearchQuery

    eng = Engine(spark, {"t": idx_dir},
                 config={"pruned_gate_blocks": 0, "enable_fuzzy": False})
    t = _common_terms(eng.index("t"))[0]
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
