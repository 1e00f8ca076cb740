"""Engine.search with a filter: single/OR queries route through the
deepening page + position-free exact filtered total, facet queries keep
the exact path; results equal the exact engine's either way."""

import pytest

from yetisearch_spark.engine import SearchQuery

from facade_helpers import _build, _exact_and_routed, _top_terms


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory, "f7_idx", 2500, 55)


def test_engine_filtered_single_or_parity(spark, fidx):
    """A filter on single/OR queries routes through the deepening page +
    position-free exact filtered total — identical to the exact engine,
    including when the filter defeats the deepening."""
    exact, routed = _exact_and_routed(spark, fidx)
    t = _top_terms(routed.index("t"), 2)
    filters = [
        [{"field": "role", "operator": "=", "value": "user"}],
        # a filter sparse enough to defeat the deepening (exact fallback)
        [{"field": "role", "operator": "=", "value": "zz_nobody"}],
    ]
    for q in [t[0], f'"{t[0]}" OR "{t[1]}"']:
        for fl in filters:
            sq = SearchQuery(query=q, limit=5, bypass_cache=True,
                             filters=fl)
            a = exact.search("t", sq)
            b = routed.search("t", sq)
            assert a["total"] == b["total"], (q, fl)
            assert ([(r["id"], r["score"]) for r in a["results"]]
                    == [(r["id"], r["score"]) for r in b["results"]]), (q, fl)


def test_engine_filtered_keeps_exact_path_for_facets(spark, fidx):
    """Facet queries need the complete filtered set — the deepening must
    not hijack them; results stay identical either way."""
    exact, routed = _exact_and_routed(spark, fidx)
    t = _top_terms(routed.index("t"), 2)
    sq = SearchQuery(query=t[0], limit=5, bypass_cache=True,
                     filters=[{"field": "role", "operator": "=",
                               "value": "user"}],
                     facets={"tool": {}})
    a = exact.search("t", sq)
    b = routed.search("t", sq)
    assert a["total"] == b["total"]
    assert a.get("facets") == b.get("facets")
    assert ([(r["id"], r["score"]) for r in a["results"]]
            == [(r["id"], r["score"]) for r in b["results"]])
