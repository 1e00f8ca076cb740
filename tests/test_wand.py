"""Block-max pruned top-k must be result-identical to the exact path and
actually skip blocks."""

import pytest

from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.build import build_index
from yetisearch_spark.query import SearchIndex
from yetisearch_spark.query import parse_query
from yetisearch_spark.wand import pruned_scored, pruned_topk


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand_idx"))
    pdf = generate_transcripts(3000, seed=77)
    # small blocks so pruning has something to skip
    build_index(spark, spark.createDataFrame(pdf), out,
                num_buckets=8, block_size=16)
    return SearchIndex(spark, out)


def _exact(index, q, k=10):
    return [(r["doc_id"], round(r["score"], 9))
            for r in index.search(q, k=k).collect()]


def _stats(index, q, k=10, **kw):
    """wand's routing info for q: the gate dict when it routes to the
    exact path, else the pruned tier's block counters."""
    _, info = pruned_scored(index, parse_query(q), k, **kw)
    return info if info.get("gated") else info.get("prune_stats")


def _pruned(index, q, k=10):
    # gate_blocks=0: these tests exercise the pruning mechanics; the cost
    # gate (small corpora route to the exact path) is tested separately
    df = pruned_topk(index, q, k=k, gate_blocks=0)
    rows = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    return rows, _stats(index, q, k, gate_blocks=0)


def _common_terms(index, n=4):
    rows = (index._term_stats.orderBy("df", ascending=False)
            .limit(50).collect())
    from yetisearch_spark.analyzer import analyze
    terms = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    return terms[:n], {r["term"]: r["df"] for r in rows}


def test_single_term_identical_and_pruned(index):
    terms, dfs = _common_terms(index)
    for t in terms[:3]:
        got, stats = _pruned(index, f'"{t}"')
        want = _exact(index, f'"{t}"')
        assert got == want, t
        if dfs[t] > 200:  # enough blocks for pruning to bite
            assert stats["blocks_decoded"] < stats["blocks_total"], \
                (t, stats)


def test_and_identical(index):
    terms, _ = _common_terms(index)
    q = f'"{terms[0]}" AND "{terms[1]}"'
    got, stats = _pruned(index, q)
    want = _exact(index, q)
    assert got == want
    assert stats["blocks_decoded"] <= stats["blocks_total"]


def test_or_identical(index):
    terms, _ = _common_terms(index)
    q = f'"{terms[0]}" OR "{terms[2]}" OR "{terms[3]}"'
    got, _ = _pruned(index, q)
    want = _exact(index, q)
    assert got == want


def test_phrase_pruned_identical(index):
    """Round 5: multi-term phrases prune on the AND rule over their
    constituents (candidates hold every constituent; block-complete
    positions make phase 2 exact) instead of falling back."""
    terms, _ = _common_terms(index)
    for q in [f'"{terms[0]} {terms[1]}"', f'"{terms[1]} {terms[0]}"']:
        got, stats = _pruned(index, q)
        want = _exact(index, q)
        assert got == want, q
        assert stats is not None and "blocks_decoded" in stats, (q, stats)
        assert stats["blocks_decoded"] <= stats["blocks_total"]


def test_near_pruned_identical(index):
    terms, _ = _common_terms(index)
    for q in [f'NEAR("{terms[0]}" "{terms[1]}", 10)',
              f'NEAR("{terms[0]}" "{terms[2]}" "{terms[3]}", 8)']:
        got, stats = _pruned(index, q)
        want = _exact(index, q)
        assert got == want, q


def test_weighted_or_fuzzy_shape_identical(index):
    """The combined-fuzzy (M7) family: OR mixing multi-term phrases,
    NEARs and bare terms prunes via the weighted-OR rule (per-term
    summed slot idfs; θ from the bare-term slots' attained bounds).
    Phrase slot idfs need the standalone df — the exact run fills the
    shared cache — then pruned == exact, scores at 1e-9."""
    t, _ = _common_terms(index)
    queries = [
        f'"{t[0]} {t[1]}" OR NEAR("{t[0]}" "{t[2]}", 5) OR "{t[1]}" OR "{t[3]}"',
        f'"{t[0]} {t[1]}" OR "{t[0]}"',              # shared constituent
        f'NEAR("{t[0]}" "{t[1]}", 3) OR "{t[2]}"',
        f'"{t[0]} zzznope" OR "{t[1]}"',             # dead phrase child
        f'NEAR("{t[0]}" "zzznope", 3) OR "{t[1]}"',  # dead NEAR child
        f'"{t[0]} {t[1]}" OR "{t[0]} {t[1]}"',       # duplicate slots
    ]
    for q in queries:
        want = _exact(index, q)      # also fills the phrase-df cache
        got, stats = _pruned(index, q)
        assert got == want, q


def test_weighted_or_random_compositions(index):
    """Deterministic random sweep over mixed-slot OR shapes (the whole
    'wor' family): pruned == exact for every composition."""
    import random
    rng = random.Random(7)
    t, _ = _common_terms(index, n=8)
    t = t[:6]

    def atom():
        kind = rng.choice(["s", "s", "ph", "n2", "n3"])
        if kind == "s":
            return f'"{rng.choice(t)}"'
        if kind == "ph":
            return f'"{rng.choice(t)} {rng.choice(t)}"'
        if kind == "n2":
            return f'NEAR("{rng.choice(t)}" "{rng.choice(t)}", {rng.randint(0, 8)})'
        return (f'NEAR("{rng.choice(t)}" "{rng.choice(t)}" '
                f'"{rng.choice(t)}", {rng.randint(1, 8)})')

    for _ in range(15):
        q = " OR ".join(atom() for _ in range(rng.randint(2, 4)))
        want = _exact(index, q)
        got, _stats = _pruned(index, q)
        assert got == want, q


def test_weighted_or_cold_phrase_df_routes_exact(spark, index):
    """Without a match cache (cache_postings=False) the recursive
    phrase-df fill would rebuild the phrase table per query — a cold
    phrase df must still route to the exact path there (and be
    correct)."""
    from yetisearch_spark.query import SearchIndex
    cold = SearchIndex(spark, index.index_dir, cache_postings=False,
                       cache_docs=False)
    t, _ = _common_terms(index)
    q = f'"{t[0]} {t[1]}" OR "{t[2]}"'
    df = pruned_topk(cold, q, k=10, gate_blocks=0)
    stats = _stats(cold, q, gate_blocks=0)
    assert stats and stats.get("reason") == "cold-phrase-df"
    got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    assert got == _exact(index, q)
    cold.close()


def test_weighted_or_cold_phrase_df_fills_pruned(spark, index):
    """Round 6 (verdict order 2): first sight of a phrase-bearing
    weighted OR on a fresh cache-enabled replica must NOT abandon
    pruning — the slot df comes from counting the count-exact pruned
    phrase table, which also lands in the match cache for phase 2."""
    from yetisearch_spark.query import SearchIndex, parse_query
    fresh = SearchIndex(spark, index.index_dir)
    try:
        t, _ = _common_terms(index)
        q = f'"{t[0]} {t[1]}" OR "{t[2]}" OR NEAR("{t[1]}" "{t[3]}", 4)'
        node = parse_query(q)
        ph = node.children[0]
        assert fresh._df_count_cache.get(("ph", ph.terms)) is None
        df = pruned_topk(fresh, q, k=10, gate_blocks=0)
        got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
        stats = _stats(fresh, q, gate_blocks=0)
        # the route stayed pruned: stats are prune counters, not a
        # gated-with-reason dict
        assert stats is not None and "reason" not in stats, stats
        assert "blocks_decoded" in stats
        # the fill is cached for later queries (df AND the table itself)
        assert fresh._df_count_cache.get(("ph", ph.terms)) is not None
        assert ("ph", ph.terms) in fresh._match_cache
        assert got == _exact(index, q)
        # dead phrase child: fills df=0 and stays pruned
        q2 = f'"{t[0]} zzznope" OR "{t[2]}"'
        df2 = pruned_topk(fresh, q2, k=10, gate_blocks=0)
        got2 = [(r["doc_id"], round(r["score"], 9)) for r in df2.collect()]
        s2 = _stats(fresh, q2, gate_blocks=0)
        assert s2 is not None and "reason" not in s2, s2
        assert got2 == _exact(index, q2)
    finally:
        fresh.close()


def test_fallback_for_unsupported_shape(index):
    terms, _ = _common_terms(index)
    # NOT and mixed nests stay on the exact path
    q = f'"{terms[0]}" NOT "{terms[1]}"'
    got, stats = _pruned(index, q)
    want = _exact(index, q)
    assert got == want
    assert stats["gated"] and stats["reason"] == "shape"


def test_missing_term(index):
    got, _ = _pruned(index, '"zzznotaterm"')
    assert got == []
    got2, _ = _pruned(index, '"zzznotaterm" AND "data"')
    assert got2 == []


def test_spark_phase1_identical(index):
    """driver_cap=0 forces the distributed phase-1 (no metadata collect);
    results must still be exactly the full-path results for every shape."""
    terms, _ = _common_terms(index)
    queries = [f'"{terms[0]}"',
               f'"{terms[0]}" AND "{terms[1]}"',
               f'"{terms[0]}" OR "{terms[2]}" OR "{terms[3]}"']
    for q in queries:
        df = pruned_topk(index, q, k=10, driver_cap=0, gate_blocks=0)
        got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
        assert got == _exact(index, q), q


def test_spark_phase1_never_collects_metadata(spark, index, monkeypatch):
    """Above driver_cap, phase 1 must not collect block metadata — the
    survivor set stays a Spark plan joined into the scan."""
    from yetisearch_spark import wand as wand_mod

    def boom(*a, **k):
        raise AssertionError("driver selection ran above the cap")

    monkeypatch.setattr(wand_mod, "_driver_select", boom)
    terms, _ = _common_terms(index)
    df = pruned_topk(index, f'"{terms[0]}"', k=10, driver_cap=0,
                     gate_blocks=0)
    got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    assert got == _exact(index, f'"{terms[0]}"')


def test_spark_selection_prunes_synthetic_head_term(spark):
    """Synthetic head term with 120k block-metadata rows (≈15M docs):
    the Spark-side selection must (a) stay lazy, (b) select exactly the
    blocks with block_max ≥ the k-th largest max, (c) prune almost all
    blocks."""
    from pyspark.sql import functions as F
    from yetisearch_spark.wand import _spark_select

    n_blocks = 120_000
    # deterministic pseudo-random block maxima in (0, 2.2]
    meta = (spark.range(n_blocks)
            .select(F.lit("head").alias("term"),
                    (F.col("id") * 128).alias("min_doc"),
                    (F.col("id") * 128 + 127).alias("max_doc"),
                    F.lit(128).alias("n_docs"),
                    (F.pmod(F.xxhash64(F.col("id")), F.lit(100_000))
                     .cast("double") / 100_000.0 * 2.2)
                    .alias("bmax")))
    meta = meta.select("term", "min_doc", "max_doc", "n_docs",
                       F.col("bmax").alias("bmax_lb"),
                       F.col("bmax").alias("bmax_ub"))
    full_terms, sel = _spark_select(meta, ["head"], {"head": 1.0},
                                    {"head": n_blocks}, "single", k=10)
    assert full_terms == []
    n_sel = sel.count()
    assert 10 <= n_sel < n_blocks // 100  # pruned >99% of blocks
    # exactness of the rule: selected == blocks with ub >= 10th largest lb
    top10 = (meta.orderBy(F.desc("bmax_lb")).limit(10)
             .agg(F.min("bmax_lb")).collect()[0][0])
    want = meta.where(F.col("bmax_ub") >= top10).count()
    assert n_sel == want


def test_cost_gate_routes_small_queries_to_exact(index):
    """Default gate: a small-corpus query never pays the phase-1 metadata
    job — it routes to the exact path (and still returns exact results)."""
    terms, _ = _common_terms(index)
    q = f'"{terms[0]}" AND "{terms[1]}"'
    df = pruned_topk(index, q, k=10)  # default gate
    stats = _stats(index, q)
    assert stats is not None and stats.get("gated") is True
    got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    assert got == _exact(index, q)


def test_duplicate_terms_route_to_exact_path(index):
    """FTS5 scores a duplicated phrase slot TWICE ('t OR t' = 2×t); the
    pruned shapes key per term and would halve it — duplicates must
    serve the exact path and stay result-identical (round-4 property-
    sweep follow-up)."""
    terms, _dfs = _common_terms(index)
    t = terms[0]
    for q in (f'"{t}" OR "{t}"', f'"{t}" AND "{t}"'):
        got = pruned_topk(index, q, k=10, gate_blocks=0)
        stats = _stats(index, q, gate_blocks=0)
        assert stats is not None and stats.get("reason") == "duplicate-terms"
        a = [(r["doc_id"], round(r["score"], 9)) for r in got.collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in index.search(q, k=10).collect()]
        assert a == b, q
        # and the duplicate genuinely doubles the single-slot score
        single = {r["doc_id"]: r["score"]
                  for r in index.search(f'"{t}"', k=10).collect()}
        for d, s in a:
            assert s == pytest.approx(2 * single[d], rel=1e-9)


def test_filtered_search_pruned_identical(index):
    """Round-6 filtered deepening: SearchIndex.search with filters must
    return exactly the exact path's rows when routed pruned (forced
    gate), across shapes, both projections, and a filter sparse enough
    to defeat the deepening (fall-back path)."""
    terms, dfs = _common_terms(index)
    exact = SearchIndex(index.spark, index.index_dir,
                        cache_postings=False, cache_docs=False)
    exact.pruned_gate_blocks = -1
    routed = SearchIndex(index.spark, index.index_dir,
                         cache_postings=False, cache_docs=False)
    routed.pruned_gate_blocks = 0
    try:
        queries = [f'"{terms[0]}"',
                   f'"{terms[0]}" AND "{terms[1]}"',
                   f'"{terms[0]}" OR "{terms[2]}"',
                   f'"{terms[0]} {terms[1]}"']
        for q in queries:
            for filt in [{"role": "user"}, {"role": "user", "tool": "bash"}]:
                want = [(r["doc_id"], round(r["score"], 9))
                        for r in exact.search(q, k=10,
                                              filters=filt).collect()]
                got = [(r["doc_id"], round(r["score"], 9))
                       for r in routed.search(q, k=10,
                                              filters=filt).collect()]
                assert got == want, (q, filt)
        # with_docs projection parity on one shape
        filt = {"role": "user"}
        q = f'"{terms[0]}" OR "{terms[2]}"'
        want = exact.search(q, k=5, filters=filt, with_docs=True).collect()
        got = routed.search(q, k=5, filters=filt, with_docs=True).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
        # a filter no doc satisfies: deepening finds 0 survivors twice,
        # falls back exact, which returns the same empty page
        nores = routed.search(f'"{terms[0]}"', k=10,
                              filters={"role": "nope"}).collect()
        assert nores == []
    finally:
        exact.close()
        routed.close()


def test_weighted_single_or_scaled_bounds_identical(index):
    """Field-weighted single/OR queries prune on WEIGHT-SCALED bounds
    (ub·max(1,w_max) for pruning, lb·min(1,w_min) for θ — both sound by
    BM25-contrib monotonicity/concavity in tf). Pruned == exact-path
    weighted scores, and on head terms blocks are still skipped."""
    terms, dfs = _common_terms(index)
    for wvec in [(2.0,), (0.5,)]:
        for q in [f'"{terms[0]}"',
                  f'"{terms[0]}" OR "{terms[2]}" OR "{terms[3]}"']:
            df = pruned_topk(index, q, k=10, gate_blocks=0, wvec=wvec)
            stats = _stats(index, q, gate_blocks=0, wvec=wvec)
            assert stats and "blocks_total" in stats, (q, wvec, stats)
            got = [(r["doc_id"], round(r["score"], 9))
                   for r in df.collect()]
            want = [(r["doc_id"], round(r["score"], 9))
                    for r in index.search(q, k=10, weights=wvec).collect()]
            assert got == want, (q, wvec, got[:3], want[:3])
