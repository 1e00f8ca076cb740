"""Totals policy and keyset cursors on the shared seed-77 index: the
engine facade serves the pruned OR / weighted-OR family with EXACT totals
(wand's count-only plan); ``estimate`` / ``deferred`` are opt-in
divergences. Filtered AND/phrase/NEAR shapes and search_after pages equal
the exact engine's."""

import shutil

import pytest

from yetisearch_spark.engine import Engine, SearchQuery
from yetisearch_spark.query import SearchIndex, parse_query
from yetisearch_spark.wand import pruned_scored

from facade_helpers import _engine, _exact_and_routed, _top_terms


def _queries(t):
    return [
        f'"{t[0]}" OR "{t[2]}" OR "{t[3]}"',                    # flat OR
        f'"{t[0]} {t[1]}" OR NEAR("{t[0]}" "{t[2]}", 5) OR "{t[1]}" '
        f'OR "{t[3]}"',                                          # full M7
        f'"{t[0]} {t[1]}" OR "{t[0]}"',          # shared constituent
        f'NEAR("{t[0]}" "{t[1]}", 3) OR "{t[2]}"',
        f'"{t[0]} zzznope" OR "{t[1]}"',         # dead phrase child
        f'NEAR("{t[0]}" "zzznope", 3) OR "{t[1]}"',  # dead NEAR child
        f'"{t[0]}" OR "zzznope"',                # single live bare slot
        f'"{t[0]} {t[1]}" OR NEAR("{t[2]}" "{t[3]}", 4)',  # no bare slot
    ]


def _count_from_info(info):
    cf, base = info["exact_count"]()
    return int(base) + (cf.count() if cf is not None else 0)


def test_exact_count_plan_matches_exact_count(spark, facade_idx):
    """Cold head → block-probed plan; totals identical to the exact
    count for every OR / weighted-OR composition."""
    for q in _queries(_top_terms(
            SearchIndex(spark, facade_idx, cache_postings=False,
                        cache_docs=False), 4)):
        # fresh index per query: the HEAD term must be genuinely cold so
        # the probe path (not the hot-frame anti-join) is what's tested
        idx = SearchIndex(spark, facade_idx)
        try:
            node = parse_query(q)
            scored, info = pruned_scored(idx, node, 10, gate_blocks=0)
            assert scored is not None, q
            assert info.get("exact_count") is not None, q
            want = idx.count(q)
            assert _count_from_info(info) == want, q
            assert info["total_estimate"] >= want, q
        finally:
            idx.close()


def test_exact_count_plan_hot_head_and_fallback(spark, facade_idx,
                                                monkeypatch):
    """Hot head (pinned light frame) skips the probe; the over-cap
    fallback (full light decodes, one distinct count) is also exact."""
    import yetisearch_spark.wand as wand_mod

    idx = SearchIndex(spark, facade_idx)
    try:
        t = _top_terms(idx, 4)
        q = f'"{t[0]} {t[1]}" OR "{t[2]}" OR "{t[0]}"'
        want = idx.count(q)
        node = parse_query(q)
        # hot head: materialize the head term's light frame first
        idx._decoded_for_term(t[0], with_positions=False).count()
        scored, info = pruned_scored(idx, node, 10, gate_blocks=0)
        assert _count_from_info(info) == want
        # over-cap fallback (cap forced to -1) on a COLD-head index
        cold = SearchIndex(spark, facade_idx)
        try:
            monkeypatch.setattr(wand_mod, "COUNT_PROBE_CAP", -1)
            scored2, info2 = pruned_scored(cold, parse_query(q), 10,
                                           gate_blocks=0)
            assert _count_from_info(info2) == want
        finally:
            cold.close()
    finally:
        idx.close()


def test_engine_facade_wor_total_modes(spark, facade_idx):
    """Engine.search now routes OR / weighted-OR through the pruned tier:
    default config serves EXACT totals (identical to the unpruned
    engine); estimate/deferred are opt-in divergences that mark the
    result."""
    exact, routed = _exact_and_routed(spark, facade_idx)
    est = _engine(spark, facade_idx, 0, total_mode="estimate")
    dfr = _engine(spark, facade_idx, 0, total_mode="deferred")
    t = _top_terms(exact.index("t"), 4)
    queries = [f"{t[0]} OR {t[2]}",
               f'"{t[0]} {t[1]}" OR NEAR("{t[0]}" "{t[2]}", 5) '
               f'OR "{t[1]}" OR "{t[3]}"']
    for q in queries:
        a = exact.search("t", q)
        b = routed.search("t", q)
        assert "total_mode" not in b, q
        assert b["total"] == a["total"], q
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], q
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], q
        assert b["total"] > 0 and b["results"], q

        e = est.search("t", q)
        assert e["total_mode"] == "estimate", q
        assert e["total"] >= a["total"], q
        assert [r["id"] for r in e["results"]] == \
               [r["id"] for r in a["results"]], q

        d = dfr.search("t", q)
        assert d["total_mode"] == "deferred", q
        assert d["total"] == min(a["total"], 20), q   # default limit=20
        assert [r["id"] for r in d["results"]] == \
               [r["id"] for r in a["results"]], q


def test_engine_wor_totals_under_deletes(spark, facade_idx, tmp_path):
    """The count-only total plan under a tombstoned serving view: head
    df comes from delta-corrected term stats, slot tables are decode-
    level tombstone-filtered, and the probe's raw superset only removes
    visible docs — totals must equal the exact engine's."""
    from yetisearch_spark.streaming import delete_docs

    mut = str(tmp_path / "totals_deleted")
    shutil.copytree(facade_idx, mut)
    base = SearchIndex(spark, mut, cache_postings=False, cache_docs=False)
    t = _top_terms(base, 4)
    victims = sorted(r["doc_id"]
                     for r in base.search(t[0], k=3000).collect())[::4]
    base.close()
    assert victims
    delete_docs(spark, mut, victims)

    exact, routed = _exact_and_routed(spark, mut)
    for q in [f'"{t[0]} {t[1]}" OR "{t[2]}" OR NEAR("{t[1]}" "{t[3]}", 4)',
              f"{t[0]} OR {t[3]}"]:
        a = exact.search("t", q)
        b = routed.search("t", q)
        assert b["total"] == a["total"] and b["total"] > 0, q
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], q
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], q
        # no tombstoned doc on the page
        vic = set(victims)
        assert not any(int(r["document"]["doc_id"]) in vic
                       for r in b["results"]), q



def test_engine_filtered_complete_shape_pruned_parity(spark, facade_idx):
    """docs_in_set routing: filtered AND/phrase/NEAR queries route
    through the complete pruned frame — results, totals, facets, and
    sort must equal the exact engine's."""
    base = SearchIndex(spark, facade_idx, cache_postings=False,
                       cache_docs=False)
    t = _top_terms(base, 4)
    base.close()
    exact, routed = _exact_and_routed(spark, facade_idx)
    filt = [{"field": "role", "operator": "=", "value": "user"}]
    shapes = [f"{t[0]} {t[1]}",                       # implicit AND
              f'"{t[0]} {t[1]}"',                     # phrase
              f'NEAR("{t[0]}" "{t[1]}", 5)']          # NEAR
    for q in shapes:
        for extra in [{}, {"facets": {"tool": {}}},
                      {"sort": {"ts": "desc"}}]:
            qa = SearchQuery(query=q, filters=filt, limit=8, **extra)
            a = exact.search("t", qa)
            b = routed.search("t", qa)
            assert b["total"] == a["total"], (q, extra)
            assert [r["id"] for r in b["results"]] == \
                   [r["id"] for r in a["results"]], (q, extra)
            assert [r["score"] for r in b["results"]] == \
                   [r["score"] for r in a["results"]], (q, extra)
            if "facets" in extra:
                assert b.get("facets") == a.get("facets"), (q, extra)


def test_search_after_cursor_pages(spark, facade_idx):
    """Keyset deep pagination — walking pages with next_cursor must
    reproduce the offset path's pages exactly (ids, 0-100 scores,
    totals), while each cursor page only ever sorts ``limit`` rows (the
    offset path sorts offset+limit). Unsupported shapes must refuse
    loudly."""
    eng = Engine(spark, {"t": facade_idx}, config={"enable_fuzzy": False})
    t = _top_terms(eng.index("t"), 4)
    q = f"{t[0]} OR {t[2]}"
    pages_off = [eng.search("t", SearchQuery(query=q, limit=7,
                                             offset=i * 7))
                 for i in range(3)]
    cur = None
    for i in range(3):
        r = eng.search("t", SearchQuery(query=q, limit=7,
                                        search_after=cur))
        assert [x["id"] for x in r["results"]] == \
               [x["id"] for x in pages_off[i]["results"]], i
        assert [x["score"] for x in r["results"]] == \
               [x["score"] for x in pages_off[i]["results"]], i
        assert r["total"] == pages_off[i]["total"], i
        cur = r["next_cursor"]

    with pytest.raises(ValueError):
        eng.search("t", SearchQuery(query=q, limit=5, offset=3,
                                    search_after=[1.0, 0]))
    with pytest.raises(ValueError):
        eng.search("t", SearchQuery(query=q, limit=5, min_score=1.0,
                                    search_after=[1.0, 0]))
    with pytest.raises(ValueError):
        eng.search("t", SearchQuery(query=q, limit=5,
                                    sort={"n_chars": "desc"},
                                    search_after=[1.0, 0]))
    with pytest.raises(ValueError):   # boosts rescore the page (R2)
        eng.search("t", SearchQuery(query=q, limit=5,
                                    boost_fields={"text": 2.0},
                                    search_after=[1.0, 0]))


def test_searchindex_after_param(spark, facade_idx):
    """SearchIndex.search(after=): raw-score keyset page equals the
    corresponding slice of a deeper top-k."""
    idx = SearchIndex(spark, facade_idx)
    try:
        t = _top_terms(idx, 4)
        q = f'"{t[0]}" OR "{t[1]}"'
        top10 = idx.search(q, k=10).collect()
        p1 = top10[:5]
        cur = (p1[-1]["score"], p1[-1]["doc_id"])
        p2 = idx.search(q, k=5, after=cur).collect()
        assert [(r["doc_id"], r["score"]) for r in p2] == \
               [(r["doc_id"], r["score"]) for r in top10[5:]]
    finally:
        idx.close()
