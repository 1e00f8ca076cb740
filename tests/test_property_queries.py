"""Property-based rank identity: RANDOM boolean query trees vs SQLite
FTS5. The fixture suites cover each operator shape individually; this
sweeps arbitrary nests of AND/OR/NOT over terms, phrases, prefixes and
NEAR groups — the qualification + slot-order-accumulation paths under
composition (both grammars are FTS5's, so ONE serialized string drives
both engines)."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yetisearch_spark.analyzer import analyze, analyze_batch
from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.oracle import Fts5Oracle
from yetisearch_spark.query import SearchIndex

N_TURNS = 1200
SCORE_TOL = 1e-9


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_transcripts(N_TURNS, seed=77)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf["expected_doc_id"] = range(len(pdf))
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus):
    o = Fts5Oracle()
    o.add_documents(zip(corpus["expected_doc_id"],
                        analyze_batch(corpus["text"].tolist())))
    yield o
    o.close()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("prop_idx"))
    build_index(spark, spark.createDataFrame(
        corpus.drop(columns=["expected_doc_id"])), out, num_buckets=8)
    return SearchIndex(spark, out)


def _fixed_point(term):
    return analyze(term) == [term]


@pytest.fixture(scope="module")
def vocab_terms(oracle):
    """Fixed-point stems across the df spectrum, plus stable prefixes
    (prefixes whose analysis is the identity, so both engines see the
    same string)."""
    rows = sorted(oracle.vocab(), key=lambda r: -r[1])
    terms = [t for t, df, cf in rows if _fixed_point(t)]
    from yetisearch_spark.query import _analyze_prefix
    prefixes = []
    for t in terms:
        if len(t) >= 4:
            p = t[:3]
            # alnum only: both grammars accept bareword `p*`, but FTS5
            # errors on unquoted specials ('-', "'" are tokenchars here)
            if p.isalnum() and _analyze_prefix(p) == p:
                prefixes.append(p)
    assert len(terms) >= 12 and len(prefixes) >= 4
    return terms, sorted(set(prefixes))


def _tree_strategy(terms, prefixes):
    term_st = st.sampled_from(terms)

    def quote(t):
        return f'"{t}"'

    atom = st.one_of(
        term_st.map(quote),
        st.sampled_from(prefixes).map(lambda p: f"{p}*"),
        # 2-term phrase (may or may not occur — zero-match branches are
        # exactly what the qualification logic must survive)
        st.tuples(term_st, term_st).map(lambda ab: f'"{ab[0]} {ab[1]}"'),
        st.tuples(term_st, term_st,
                  st.integers(min_value=0, max_value=10)).map(
            lambda abn: f'NEAR("{abn[0]}" "{abn[1]}", {abn[2]})'),
        st.tuples(term_st, term_st, term_st,
                  st.integers(min_value=1, max_value=10)).map(
            lambda x: f'NEAR("{x[0]}" "{x[1]}" "{x[2]}", {x[3]})'),
    )

    simple_excl = st.one_of(
        term_st.map(quote),
        st.sampled_from(prefixes).map(lambda p: f"{p}*"),
        st.tuples(term_st, term_st).map(lambda ab: f'"{ab[0]} {ab[1]}"'),
        st.tuples(term_st, term_st).map(
            lambda ab: f'("{ab[0]}" OR "{ab[1]}")'))

    def combine(children):
        def join(args):
            op, (a, b) = args
            return f"({a}{op}{b})"

        and_or = st.tuples(st.sampled_from([" AND ", " OR "]),
                           st.tuples(children, children)).map(join)
        # NOT excludes restricted to phrase/prefix atoms and ORs of them:
        # the replicated scope of FTS5's dead-NOT first-posting leak
        # (SearchIndex._dead_not_quirk_slots). Compound excludes
        # (NEAR / nested NOT) hit progressively deeper uninitialized-
        # iterator states in FTS5 — probes show nested-NOT excludes even
        # CANCEL sibling leaks — and are a documented divergence where
        # this engine scores by the spec instead of the SQLite artifact.
        nt = st.tuples(st.just(" NOT "),
                       st.tuples(children, simple_excl)).map(join)
        return st.one_of(and_or, nt)

    return st.recursive(atom, combine, max_leaves=5)


def test_dead_not_first_posting_leak(index, oracle):
    """Pinned round-5 property-sweep find: FTS5 leaks a dead NOT's
    exclude-phrase instances into bm25 on the exclude's FIRST matching
    row ('("say" OR ("index fiancé" NOT "say"))' doubled doc 1's say
    contribution — include's constituents never co-occur, so the NOT
    iterator never advances). Replicated in
    SearchIndex._dead_not_quirk_slots; this is the original falsifying
    example, plus the aliveness boundary (co-occurring constituents →
    no leak)."""
    import math
    for q in ['("say" OR ("index fiancé" NOT "say"))',
              '("say" OR ("say get" NOT "say"))']:
        got = [(r["doc_id"], r["score"])
               for r in index.search(q, k=20).collect()]
        want = oracle.top_k(q, k=20)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (gd, gs), (od, osc) in zip(got, want):
            assert math.isclose(gs, osc, rel_tol=SCORE_TOL,
                                abs_tol=1e-12), (q, gd, gs, osc)


@settings(max_examples=30, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_trees_rank_identical(data, index, oracle, vocab_terms):
    terms, prefixes = vocab_terms
    q = data.draw(_tree_strategy(terms, prefixes))
    got = [(r["doc_id"], r["score"]) for r in index.search(q, k=20).collect()]
    want = oracle.top_k(q, k=20)
    assert len(got) == len(want), (q, got, want)
    for (gd, gs), (od, osc) in zip(got, want):
        assert gd == od, (q, got, want)
        assert math.isclose(gs, osc, rel_tol=SCORE_TOL, abs_tol=1e-12), \
            (q, gd, gs, osc)
    # count must agree with the oracle too (M8 under composition)
    assert index.count(q) == oracle.count(q), q


@pytest.fixture(scope="module")
def mf_oracle(corpus):
    o = Fts5Oracle(columns=("title", "content"))
    titles = analyze_batch(
        corpus["text"].str.split().str[:4].str.join(" ").tolist())
    texts = analyze_batch(corpus["text"].tolist())
    o.add_documents(
        (doc_id, [tt, tx]) for doc_id, tt, tx in
        zip(corpus["expected_doc_id"], titles, texts))
    yield o
    o.close()


@pytest.fixture(scope="module")
def mf_index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("prop_mf_idx"))
    pdf = corpus.drop(columns=["expected_doc_id"]).copy()
    pdf["title"] = pdf["text"].str.split().str[:4].str.join(" ")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8,
                fields=["title", "text"])
    return SearchIndex(spark, out)


@pytest.fixture(scope="module")
def mf_routed(spark, mf_index):
    """Forced-pruned twin over the same multi-field index dir: weighted
    queries whose shape the pruned tier serves (round 6: every simple
    shape) take it; complex trees fall through to the exact path."""
    ix = SearchIndex(spark, mf_index.index_dir, cache_postings=False,
                     cache_docs=False)
    ix.pruned_gate_blocks = 0
    yield ix
    ix.close()


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_trees_weighted_multifield(data, mf_index, mf_oracle,
                                          mf_routed, vocab_terms):
    """Random trees × non-uniform per-field bm25 weights: the weighted
    tally (position>>FIELD_SHIFT → weight) must stay float-exact under
    boolean composition and context gating too — on BOTH the exact path
    and the forced-pruned twin (weight-scaled bounds / complete-frame
    reweighting, round 6)."""
    terms, prefixes = vocab_terms
    q = data.draw(_tree_strategy(terms, prefixes))
    weights = data.draw(st.sampled_from(
        [(2.0, 1.0), (0.5, 3.0), (5.0, 0.0)]))
    want = mf_oracle.top_k(q, k=20, weights=list(weights))
    for ix in (mf_index, mf_routed):
        got = [(r["doc_id"], r["score"]) for r in
               ix.search(q, k=20, weights={"title": weights[0],
                                           "text": weights[1]}).collect()]
        assert len(got) == len(want), (q, weights, got, want)
        for (gd, gs), (od, osc) in zip(got, want):
            assert gd == od, (q, weights, got, want)
            assert math.isclose(gs, osc, rel_tol=SCORE_TOL,
                                abs_tol=1e-12), \
                (q, weights, gd, gs, osc)


@pytest.fixture(scope="module")
def seg_pair(spark, corpus, tmp_path_factory):
    """The same corpus served two ways: base + 2 appended segments
    (GlobalSegmentedIndex) vs one-shot build — exact global stats mean
    they must score identically for ANY query."""
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            append_segment)

    root = tmp_path_factory.mktemp("prop_seg")
    pdf = corpus.drop(columns=["expected_doc_id"])
    seg_dir = str(root / "segmented")
    build_index(spark, spark.createDataFrame(pdf.iloc[:800]), seg_dir,
                num_buckets=8)
    for i in range(2):
        chunk = pdf.iloc[800 + i * 200: 1000 + i * 200]
        append_segment(spark, seg_dir, spark.createDataFrame(chunk),
                       epoch=i, auto_compact_segments=None)
    live = GlobalSegmentedIndex(spark, seg_dir)
    yield live
    live.close()


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_trees_segmented_serving(data, seg_pair, index, oracle,
                                        vocab_terms):
    """Random boolean trees over the segmented serving view must match
    FTS5 over the whole corpus — the union relations' global stats under
    arbitrary composition (doc_ids are identical: appends allocate above
    the base high-water mark in the same (conv_id, turn_idx) order)."""
    terms, prefixes = vocab_terms
    q = data.draw(_tree_strategy(terms, prefixes))
    got = [(r["doc_id"], r["score"])
           for r in seg_pair.search(q, k=20).collect()]
    want = oracle.top_k(q, k=20)
    assert len(got) == len(want), (q, got, want)
    for (gd, gs), (od, osc) in zip(got, want):
        assert gd == od, (q, got, want)
        assert math.isclose(gs, osc, rel_tol=SCORE_TOL, abs_tol=1e-12), \
            (q, gd, gs, osc)


@pytest.fixture(scope="module")
def engine_pair(spark, index):
    """Two engines over the property corpus: pruning disabled vs forced.
    Everything between the user and the rank-identical core — rescoring,
    R5 normalization, result caching, pruned routing, the round-6 totals
    policy — must agree between them."""
    from yetisearch_spark.engine import Engine
    exact = Engine(spark, {"p": index.index_dir},
                   config={"pruned_gate_blocks": -1, "enable_fuzzy": False})
    routed = Engine(spark, {"p": index.index_dir},
                    config={"pruned_gate_blocks": 0, "enable_fuzzy": False})
    return exact, routed


@settings(max_examples=50, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_trees_engine_facade(data, engine_pair, vocab_terms):
    """Round-6 order 5: the random-tree generator through Engine.search.
    The forced-pruned engine must match the pruning-disabled twin on
    result ids, 0-100 scores AND totals for arbitrary compositions —
    simple shapes take the pruned tier (OR/weighted-OR now with the
    exact count-only total plan), everything else must fall through to
    the identical exact path."""
    from yetisearch_spark.engine import SearchQuery
    terms, prefixes = vocab_terms
    q = data.draw(_tree_strategy(terms, prefixes))
    limit = data.draw(st.sampled_from([5, 20]))
    offset = data.draw(st.sampled_from([0, 3]))
    # round-6 docs_in_set routing: a filter drives complete-frame
    # substitution for and/phrase/near and deepening/fallthrough else
    filters = data.draw(st.sampled_from(
        [None, [{"field": "role", "operator": "=", "value": "user"}]]))
    exact, routed = engine_pair
    sq = SearchQuery(query=q, limit=limit, offset=offset,
                     filters=filters or [], bypass_cache=True)
    a = exact.search("p", sq)
    b = routed.search("p", sq)
    assert b["total"] == a["total"], q
    assert "total_mode" not in b, q
    assert [r["id"] for r in b["results"]] == \
           [r["id"] for r in a["results"]], (q, limit, offset)
    assert [r["score"] for r in b["results"]] == \
           [r["score"] for r in a["results"]], (q, limit, offset)
