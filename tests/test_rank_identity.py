"""End-to-end rank-identity: Spark engine vs SQLite FTS5 oracle.

Builds the full index (doc_ids → analyze → postings → stats → encoded
blocks) over a deterministic synthetic transcript corpus, then asserts
the engine's top-10 (doc_id, score) is rank-identical to the oracle for
every fixture query kind (single/and/or/phrase/near/prefix/filtered),
mirroring the reference's golden e2e strategy
(reference: benchmarks/benchmark.php:211-327)."""

import math
import os

import pytest

from yetisearch_spark.analyzer import analyze, analyze_batch
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.oracle import Fts5Oracle
from yetisearch_spark.build import build_index
from yetisearch_spark.query import SearchIndex, parse_query

N_TURNS = 1500
SCORE_TOL = 1e-9


@pytest.fixture(scope="module")
def corpus():
    pdf = generate_transcripts(N_TURNS, seed=42)
    # stable doc order = (conv_id, turn_idx); doc_id = dense rank
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf["expected_doc_id"] = range(len(pdf))
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus):
    o = Fts5Oracle()
    token_lists = analyze_batch(corpus["text"].tolist())
    o.add_documents(zip(corpus["expected_doc_id"], token_lists))
    yield o
    o.close()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    sdf = spark.createDataFrame(corpus.drop(columns=["expected_doc_id"]))
    build_index(spark, sdf, out, num_buckets=8,
                salt_threshold=400, num_salts=4)
    return SearchIndex(spark, out)


def test_doc_ids_stable(index, corpus):
    got = (index._docs.select("doc_id", "conv_id", "turn_idx")
           .orderBy("doc_id").toPandas())
    assert (got["doc_id"].to_numpy() == corpus["expected_doc_id"].to_numpy()).all()
    assert (got["conv_id"].to_numpy() == corpus["conv_id"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == corpus["turn_idx"].to_numpy()).all()


def test_doc_lens_match_oracle(index, oracle, corpus):
    # doc_len in the index == token count the oracle indexed
    got = dict(index._docs.select("doc_id", "doc_len").collect())
    token_lists = analyze_batch(corpus["text"].tolist())
    for doc_id, toks in zip(corpus["expected_doc_id"], token_lists):
        assert got[doc_id] == len(toks), doc_id


def _fixed_point(term):
    """True if the term survives query-side analysis unchanged (stems that
    collide with stop words, like 'on' = stem('one'), are not directly
    queryable — the reference would drop them from the query too)."""
    return analyze(term) == [term]


def _pick_terms(oracle):
    """head/mid/tail-df terms from the oracle vocabulary."""
    vocab = sorted(oracle.vocab(), key=lambda r: -r[1])
    fixed = [(t, df, cf) for t, df, cf in vocab if _fixed_point(t)]
    head = [t for t, df, cf in fixed[:5]]
    mid = [t for t, df, cf in fixed[len(fixed) // 3: len(fixed) // 3 + 5]]
    tail = [t for t, df, cf in fixed[-5:]]
    return head, mid, tail, fixed


def _assert_rank_identical(engine_rows, oracle_rows, label):
    assert len(engine_rows) == len(oracle_rows), \
        f"{label}: count {len(engine_rows)} vs oracle {len(oracle_rows)}"
    for i, ((gd, gs), (od, osc)) in enumerate(zip(engine_rows, oracle_rows)):
        assert gd == od, f"{label}[{i}]: doc {gd} vs oracle {od}\n{engine_rows}\n{oracle_rows}"
        assert math.isclose(gs, osc, rel_tol=SCORE_TOL, abs_tol=1e-12), \
            f"{label}[{i}]: score {gs} vs oracle {osc}"


def _engine_topk(index, query, k=10):
    rows = index.search(query, k=k).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_single_term(index, oracle):
    head, mid, tail, _ = _pick_terms(oracle)
    for t in head[:2] + mid[:2] + tail[:2]:
        got = _engine_topk(index, f'"{t}"')
        want = oracle.top_k(oracle.match_string("single", [t]))
        _assert_rank_identical(got, want, f"single:{t}")


def test_and(index, oracle):
    head, mid, tail, _ = _pick_terms(oracle)
    combos = [(head[0], head[1]), (head[0], mid[0]), (mid[0], mid[1]),
              (head[0], head[1], mid[0])]
    for terms in combos:
        q = " AND ".join(f'"{t}"' for t in terms)
        got = _engine_topk(index, q)
        want = oracle.top_k(oracle.match_string("and", list(terms)))
        _assert_rank_identical(got, want, f"and:{terms}")


def test_or(index, oracle):
    head, mid, tail, _ = _pick_terms(oracle)
    combos = [(mid[0], mid[1]), (mid[0], tail[0]), (head[0], tail[1]),
              (mid[1], mid[2], tail[2])]
    for terms in combos:
        q = " OR ".join(f'"{t}"' for t in terms)
        got = _engine_topk(index, q)
        want = oracle.top_k(oracle.match_string("or", list(terms)))
        _assert_rank_identical(got, want, f"or:{terms}")


@pytest.mark.parametrize("w", [1.2, 0.8])
@pytest.mark.parametrize("kind", ["single", "and", "or"])
def test_single_field_weighted(index, oracle, kind, w):
    """Single-field weights score a single-term slot from tf alone (the
    rule both serving tiers share); the page must still be FTS5's
    bm25(fts, w)."""
    head, mid, tail, _ = _pick_terms(oracle)
    terms = {"single": [mid[0]], "and": [head[0], mid[0]],
             "or": [mid[0], tail[0]]}[kind]
    q = {"single": " ", "and": " AND ", "or": " OR "}[kind].join(
        f'"{t}"' for t in terms)
    rows = index.search(q, k=10, weights={"text": w}).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    want = oracle.top_k(oracle.match_string(kind, terms), weights=[w])
    _assert_rank_identical(got, want, f"weighted {kind}:{terms} w={w}")


def test_phrase(index, oracle, corpus):
    # find real adjacent pairs in the analyzed corpus so phrases have hits
    token_lists = analyze_batch(corpus["text"].tolist()[:300])
    pairs = {}
    for toks in token_lists:
        for a, b in zip(toks, toks[1:]):
            if _fixed_point(a) and _fixed_point(b):
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    common = sorted(pairs.items(), key=lambda kv: -kv[1])[:3]
    rare = [kv for kv in pairs.items() if kv[1] == 1][:2]
    for (a, b), _n in common + rare:
        got = _engine_topk(index, f'"{a} {b}"')
        want = oracle.top_k(oracle.match_string("phrase", [a, b]))
        _assert_rank_identical(got, want, f"phrase:{a} {b}")


def test_near(index, oracle):
    head, mid, tail, _ = _pick_terms(oracle)
    for a, b, n in [(head[0], head[1], 10), (head[0], mid[0], 10),
                    (mid[0], mid[1], 3), (head[0], head[1], 0)]:
        got = _engine_topk(index, f'NEAR("{a}" "{b}", {n})')
        want = oracle.top_k(oracle.match_string("near", [a, b], near=n))
        _assert_rank_identical(got, want, f"near:{a},{b},{n}")


def test_prefix(index, oracle):
    _, _, _, vocab = _pick_terms(oracle)
    # pick 3-char prefixes shared by several terms
    from collections import Counter
    pref = Counter(t[:3] for t, df, cf in vocab if len(t) >= 3)
    picks = [p for p, c in pref.most_common(4)]
    for p in picks:
        got = _engine_topk(index, f"{p}*")
        want = oracle.top_k(oracle.match_string("prefix", [p]))
        _assert_rank_identical(got, want, f"prefix:{p}")


def test_composite_fuzzy_shape(index, oracle):
    """The reference's combined query shape:
    ("a b" OR NEAR(a b, 10) OR a OR b)
    (reference: src/Search/SearchEngine.php:599-614)."""
    head, mid, _, _ = _pick_terms(oracle)
    a, b = head[0], mid[0]
    q = f'("{a} {b}" OR NEAR("{a}" "{b}", 10) OR "{a}" OR "{b}")'
    got = _engine_topk(index, q)
    match = f'("{a} {b}" OR NEAR("{a}" "{b}", 10) OR "{a}" OR "{b}")'
    want = oracle.top_k(match)
    _assert_rank_identical(got, want, "composite")


def test_count_matches_oracle(index, oracle):
    head, mid, _, _ = _pick_terms(oracle)
    assert index.count(f'"{head[0]}"') == oracle.count(oracle.match_string("single", [head[0]]))
    assert index.count(f'"{head[0]}" AND "{mid[0]}"') == \
        oracle.count(oracle.match_string("and", [head[0], mid[0]]))


def test_filtered_search(index, oracle, corpus):
    """Filters compose with relevance: role filter applied on top of BM25
    (reference F1/F4, src/Storage/SqliteStorage.php:1025-1037)."""
    head, _, _, _ = _pick_terms(oracle)
    t = head[0]
    got = index.search(f'"{t}"', k=10, filters={"role": "assistant"}).collect()
    want_all = oracle.top_k(oracle.match_string("single", [t]), k=100000)
    role_by_doc = dict(zip(corpus["expected_doc_id"], corpus["role"]))
    want = [(d, s) for d, s in want_all if role_by_doc[d] == "assistant"][:10]
    _assert_rank_identical([(r["doc_id"], r["score"]) for r in got], want,
                           f"filtered:{t}")


def test_near_three_phrases(index, oracle):
    """k≥3 NEAR exercises the batch-vectorized trim kernel (flat offset
    arithmetic, round-4) — must stay rank-identical to FTS5's multi-
    phrase near-group trim."""
    head, mid, _, _ = _pick_terms(oracle)
    cases = [(head[0], head[1], head[2], 10),
             (head[0], mid[0], head[2], 12),
             (head[0], head[1], mid[1], 6),
             (head[0], head[1], head[2], 0)]
    nonempty = 0
    for a, b, c, n in cases:
        got = _engine_topk(index, f'NEAR("{a}" "{b}" "{c}", {n})')
        want = oracle.top_k(oracle.match_string("near", [a, b, c], near=n))
        _assert_rank_identical(got, want, f"near3:{a},{b},{c},{n}")
        nonempty += bool(want)
    assert nonempty >= 2  # the vectorized path actually produced pages


def test_phrase_agg_fallback_identical(spark, index, oracle, corpus):
    """The ≥2-over-cap phrase fallback (one shuffle, pivoted position
    columns + the JVM intersect chain — round-4 rewrite, no Python
    kernel) must stay rank-identical to FTS5. Forced by zeroing the
    broadcast cap on an uncached index."""
    uncached = SearchIndex(spark, index.index_dir, cache_postings=False,
                           cache_docs=False)
    uncached.PHRASE_BCAST_DF_CAP = 0
    token_lists = analyze_batch(corpus["text"].tolist()[:300])
    pairs = {}
    for toks in token_lists:
        for a, b in zip(toks, toks[1:]):
            if _fixed_point(a) and _fixed_point(b):
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    common = sorted(pairs.items(), key=lambda kv: -kv[1])[:2]
    # also one trigram phrase (duplicate-shift handling: occurrence i
    # shifts by i even when a term repeats)
    tri = None
    for toks in token_lists:
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            if all(map(_fixed_point, (a, b, c))):
                tri = (a, b, c)
                break
        if tri:
            break
    queries = [list(p) for p, _n in common] + ([list(tri)] if tri else [])
    ran = 0
    for toks in queries:
        q = '"' + " ".join(toks) + '"'
        got = [(r["doc_id"], r["score"])
               for r in uncached.search(q, k=10).collect()]
        want = oracle.top_k(oracle.match_string("phrase", toks))
        _assert_rank_identical(got, want, f"phrase_agg:{toks}")
        ran += bool(want)
    assert ran >= 2
    uncached.close()
