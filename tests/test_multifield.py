"""Multi-field index + per-field BM25 weights vs the SQLite FTS5
multi-column oracle.

Builds a two-field (title, text) index and asserts float-exact
rank-identity against ``bm25(fts, w_title, w_text)`` for uniform AND
non-uniform weight vectors over every fixture query kind — the
reference's per-field boost path (reference:
src/Storage/SqliteStorage.php:993-1021 weighted bm25 SQL,
src/Index/Indexer.php:35-44 field boosts, README.md:1261-1267 A/B)."""

import pytest

from yetisearch_spark.analyzer import analyze, analyze_batch
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.oracle import Fts5Oracle
from yetisearch_spark.build import build_index
from yetisearch_spark.query import SearchIndex, parse_query

N_TURNS = 900
SCORE_TOL = 1e-9

WEIGHT_SETS = [None, (2.0, 1.0), (0.5, 3.0), (5.0, 0.0)]


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_transcripts(N_TURNS, seed=91)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # synthesize a short title field from each doc's leading words
    pdf["title"] = pdf["text"].str.split().str[:4].str.join(" ")
    pdf["expected_doc_id"] = range(len(pdf))
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus):
    o = Fts5Oracle(columns=("title", "content"))
    titles = analyze_batch(corpus["title"].tolist())
    texts = analyze_batch(corpus["text"].tolist())
    o.add_documents(
        (doc_id, [tt, tx]) for doc_id, tt, tx in
        zip(corpus["expected_doc_id"], titles, texts))
    yield o
    o.close()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mf_index"))
    sdf = spark.createDataFrame(corpus.drop(columns=["expected_doc_id"]))
    build_index(spark, sdf, out, num_buckets=8, fields=["title", "text"])
    return SearchIndex(spark, out)


def _fixed_point(term):
    return analyze(term) == [term]


def _pick_terms(oracle, n=4):
    vocab = sorted(oracle.vocab(), key=lambda r: -r[1])
    return [t for t, df, cf in vocab if _fixed_point(t)][:n]


def _spark_topk(index, q, weights, k=10):
    rows = index.search(q, k=k, weights=weights).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _assert_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], (ctx, got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= SCORE_TOL * max(1.0, abs(ws)), \
            (ctx, gd, gs, ws)


@pytest.mark.parametrize("weights", WEIGHT_SETS)
def test_rank_identity_all_kinds(index, oracle, weights):
    terms = _pick_terms(oracle)
    t0, t1 = terms[0], terms[1]
    cases = {
        "single": (f'"{t0}"', Fts5Oracle.match_string("single", [t0])),
        "and": (f'"{t0}" AND "{t1}"', Fts5Oracle.match_string("and", [t0, t1])),
        "or": (f'"{t0}" OR "{t1}"', Fts5Oracle.match_string("or", [t0, t1])),
        "phrase": (f'"{t0} {t1}"', Fts5Oracle.match_string("phrase", [t0, t1])),
        "near": (f'NEAR("{t0}" "{t1}", 10)',
                 Fts5Oracle.match_string("near", [t0, t1])),
        "prefix": (f"{t0[:3]}*", Fts5Oracle.match_string("prefix", [t0[:3]])),
    }
    for kind, (q, match) in cases.items():
        want = oracle.top_k(match, k=10, weights=weights)
        got = _spark_topk(index, q, weights)
        _assert_identical(got, want, (kind, weights))


def test_phrase_cannot_span_fields(index, oracle):
    """A phrase made of the last title token + first text token must not
    match across the field boundary (FTS5 columns are position-isolated)."""
    # title is a prefix of text in this corpus, so "t3 t4" (title's 4th
    # word followed by text's 5th) appears in text but never spans the
    # title/text boundary as a false positive. Compare counts to oracle.
    terms = _pick_terms(oracle)
    q = f'"{terms[0]} {terms[1]}"'
    match = Fts5Oracle.match_string("phrase", [terms[0], terms[1]])
    assert index.count(q) == oracle.count(match)


def test_docs_keep_field_columns(index):
    cols = index._docs.columns
    assert "title" in cols and "text" in cols and "field_lens" in cols


def test_engine_boost_fields_live(spark, index):
    """Engine wires q.boost_fields into weighted bm25 over a multi-field
    index (R2 rescoring applies on top, reference
    SqliteStorage.php:1186-1233)."""
    from yetisearch_spark.engine import Engine, SearchQuery

    eng = Engine(spark, {})
    eng.indexes["mf"] = index
    term = _pick_terms_engine(index)
    res = eng.search("mf", SearchQuery(query=term, limit=5,
                                       boost_fields={"title": 5.0}))
    assert res["results"]
    # title hits must outrank text-only hits under a heavy title boost
    top_doc = res["results"][0]["document"]
    assert term in analyze(top_doc["title"] or "") or res["total"] > 0


def _pick_terms_engine(index):
    from pyspark.sql import functions as F
    rows = (index._term_stats.orderBy(F.desc("df")).limit(20).collect())
    for r in rows:
        if _fixed_point(r["term"]):
            return r["term"]
    return rows[0]["term"]


def test_weighted_three_phrase_near(index, oracle):
    """k=3 NEAR under non-uniform field weights drives the vectorized
    trim kernel's weighted tally (position>>FIELD_SHIFT → field weight)
    — float-exact vs bm25(fts, w_title, w_content) on trimmed doclists."""
    terms = _pick_terms(oracle)
    t0, t1, t2 = terms[0], terms[1], terms[2]
    for weights in [None, (2.0, 1.0), (0.5, 3.0)]:
        q = f'NEAR("{t0}" "{t1}" "{t2}", 10)'
        match = Fts5Oracle.match_string("near", [t0, t1, t2], near=10)
        want = oracle.top_k(match, k=10, weights=weights)
        got = _spark_topk(index, q, weights)
        _assert_identical(got, want, ("near3", weights))


def test_weighted_phrase_near_pruned_identical(index, oracle):
    """Round 6: field-weighted phrase/NEAR queries ride the block-max
    pruned tier. Soundness: their pruned frames come from the AND rule
    (range overlap over constituents — score-agnostic), so the frame is
    the COMPLETE match set with full positions, and reweighted scoring
    over it is exact. Pruned == FTS5 oracle at 1e-9, route asserted."""
    from yetisearch_spark.wand import pruned_scored, pruned_topk
    terms = _pick_terms(oracle)
    t0, t1 = terms[0], terms[1]
    cases = {
        "phrase": (f'"{t0} {t1}"',
                   Fts5Oracle.match_string("phrase", [t0, t1])),
        "near": (f'NEAR("{t0}" "{t1}", 10)',
                 Fts5Oracle.match_string("near", [t0, t1])),
        "and": (f'"{t0}" AND "{t1}"',
                Fts5Oracle.match_string("and", [t0, t1])),
        # single/or prune on WEIGHT-SCALED bounds (ub·max(1,w_max) /
        # lb·min(1,w_min)) — θ still certifies the k-th weighted score
        "single": (f'"{t0}"', Fts5Oracle.match_string("single", [t0])),
        "or": (f'"{t0}" OR "{t1}"',
               Fts5Oracle.match_string("or", [t0, t1])),
    }
    for weights in [(2.0, 1.0), (0.5, 3.0), (5.0, 0.0)]:
        for kind, (q, match) in cases.items():
            df = pruned_topk(index, q, k=10, gate_blocks=0, wvec=weights)
            stats = pruned_scored(index, parse_query(q), 10, gate_blocks=0,
                                  wvec=weights)[1].get("prune_stats")
            assert stats and "blocks_total" in stats, (kind, weights, stats)
            got = [(r["doc_id"], r["score"]) for r in df.collect()]
            want = oracle.top_k(match, k=10, weights=weights)
            _assert_identical(got, want, ("pruned", kind, weights))


def test_weighted_wor_pruned_identical(index, oracle):
    """The weighted-OR composite shape (phrase-bearing OR — the
    combined-fuzzy M7 family) serves field-weighted queries through the
    pruned tier: its slot-idf θ/pruning rule composes with the
    weight-scaled bounds (slot weights multiply the same scaled lb/ub),
    and phase 2 reuses the exact path's weighted slot exprs. Pruned ==
    FTS5 oracle at 1e-9."""
    from yetisearch_spark.wand import pruned_scored, pruned_topk
    terms = _pick_terms(oracle)
    t0, t1, t2 = terms[0], terms[1], terms[2]
    q = f'"{t0} {t1}" OR NEAR("{t1}" "{t2}", 10) OR "{t2}"'
    match = f'"{t0} {t1}" OR NEAR("{t1}" "{t2}", 10) OR "{t2}"'
    for weights in [(2.0, 1.0), (0.5, 3.0)]:
        df = pruned_topk(index, q, k=10, gate_blocks=0, wvec=weights)
        stats = pruned_scored(index, parse_query(q), 10, gate_blocks=0,
                              wvec=weights)[1].get("prune_stats")
        assert stats and "blocks_total" in stats, (weights, stats)
        got = [(r["doc_id"], r["score"]) for r in df.collect()]
        want = oracle.top_k(match, k=10, weights=weights)
        _assert_identical(got, want, ("pruned-wor", weights))


def test_weighted_pruned_facade_and_engine(spark, index, oracle):
    """SearchIndex.search and Engine.search serve weighted phrase/NEAR
    through the pruned tier when forced (gate 0) — identical pages and
    totals vs a gate-disabled twin over the same index dir."""
    from yetisearch_spark.engine import Engine, SearchQuery

    terms = _pick_terms(oracle)
    t0, t1 = terms[0], terms[1]
    routed = SearchIndex(spark, index.index_dir, cache_postings=False,
                         cache_docs=False)
    routed.pruned_gate_blocks = 0
    try:
        q = f'"{t0} {t1}"'
        match = Fts5Oracle.match_string("phrase", [t0, t1])
        df = routed.search(q, k=10, weights=(3.0, 0.5))
        assert routed.route(parse_query(q), 10,
                            wvec=(3.0, 0.5)).kind == "pruned"
        got = [(r["doc_id"], r["score"]) for r in df.collect()]
        want = oracle.top_k(match, k=10, weights=(3.0, 0.5))
        _assert_identical(got, want, "facade-weighted-phrase")
    finally:
        routed.close()

    exact_e = Engine(spark, {}, config={"pruned_gate_blocks": -1,
                                        "enable_fuzzy": False})
    routed_e = Engine(spark, {}, config={"pruned_gate_blocks": 0,
                                         "enable_fuzzy": False})
    for eng in (exact_e, routed_e):
        ix = SearchIndex(spark, index.index_dir, cache_postings=False,
                         cache_docs=False)
        ix.pruned_gate_blocks = eng.config["pruned_gate_blocks"]
        eng.indexes["mf"] = ix
    t2 = terms[2]
    for query in [f'"{t0} {t1}"',
                  # weighted combined-fuzzy composite through the engine:
                  # page from the wor phase 2 over weight-scaled pruned
                  # frames, total from the count-only plan
                  f'"{t0} {t1}" OR NEAR("{t1}" "{t2}", 10) OR "{t2}"']:
        sq = SearchQuery(query=query, limit=10,
                         boost_fields={"title": 3.0, "text": 0.5})
        a = exact_e.search("mf", sq)
        b = routed_e.search("mf", sq)
        assert b["total"] == a["total"] and b["total"] > 0, query
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], query
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], query


def test_weighted_search_multiple_parity(spark, index):
    """search_multiple delegates field weights to each per-index search
    (reference SqliteStorage.php:1584-1597): weighted shards must score
    bm25(fts, w…), pruned-merge == exact-merge, and the boosts must
    actually move the scores vs the unweighted merge."""
    from yetisearch_spark.engine import Engine, SearchQuery

    dirs = {"a": index.index_dir, "b": index.index_dir}
    exact = Engine(spark, dirs, config={"pruned_gate_blocks": -1,
                                        "enable_fuzzy": False})
    routed = Engine(spark, dirs, config={"pruned_gate_blocks": 0,
                                         "enable_fuzzy": False})
    term = _pick_terms_engine(index)
    sq = SearchQuery(query=f'"{term}"', boost_fields={"title": 4.0})
    ea = exact.search_multiple(["a", "b"], sq, k=12).collect()
    ra = routed.search_multiple(["a", "b"], sq, k=12).collect()
    # both shards serve the SAME index dir, so every (score, doc_id)
    # ties across _index tags and the tie order is unspecified — compare
    # as sorted multisets (even k ⇒ the limit never splits an a/b pair),
    # and check the merge order contract separately
    assert ea and sorted(((r["_index"], r["doc_id"], r["score"])
                          for r in ra)) == \
        sorted(((r["_index"], r["doc_id"], r["score"]) for r in ea))
    for rows in (ea, ra):
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
    un = exact.search_multiple(["a", "b"], SearchQuery(query=f'"{term}"'),
                               k=12).collect()
    assert [r["score"] for r in ea] != [r["score"] for r in un]


def test_weighted_filtered_engine_parity(spark, index, oracle):
    """Weighted AND/phrase + metadata filter through Engine.search: the
    docs_in_set routing substitutes the complete weighted pruned frame
    for match_scores, so page, filtered total, and scores must equal the
    gate-disabled twin's. (Single-term shapes keep the exact path under
    filters — also asserted identical.)"""
    from yetisearch_spark.engine import Engine, SearchQuery

    exact = Engine(spark, {"mf": index.index_dir},
                   config={"pruned_gate_blocks": -1, "enable_fuzzy": False})
    routed = Engine(spark, {"mf": index.index_dir},
                    config={"pruned_gate_blocks": 0, "enable_fuzzy": False})
    terms = _pick_terms(oracle)
    t0, t1 = terms[0], terms[1]
    any_hits = False
    for query in [f'"{t0} {t1}"', f'"{t0}" AND "{t1}"', f'"{t0}"']:
        sq = SearchQuery(query=query, limit=10,
                         boost_fields={"title": 3.0},
                         filters=[{"field": "role", "operator": "=",
                                   "value": "user"}])
        a = exact.search("mf", sq)
        b = routed.search("mf", sq)
        assert b["total"] == a["total"], query
        any_hits = any_hits or a["total"] > 0
        assert [r["id"] for r in b["results"]] == \
               [r["id"] for r in a["results"]], query
        assert [r["score"] for r in b["results"]] == \
               [r["score"] for r in a["results"]], query
    assert any_hits
