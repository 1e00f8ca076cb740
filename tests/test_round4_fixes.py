"""Round-4 review-finding regressions: WAND tombstone soundness routing,
corrector cache keyed insert, language-aware plan keys, typed facet tie
ordering."""

import pandas as pd
import pytest

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.engine import Engine, SearchQuery


@pytest.fixture(scope="module")
def two_indexes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r4_two_idx")
    dirs = {}
    for name, seed in (("a", 11), ("b", 12)):
        out = str(root / f"idx_{name}")
        pdf = generate_transcripts(300, seed=seed)
        build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
        dirs[name] = out
    return dirs


def test_pruned_equals_exact_under_tombstones(spark, tmp_path):
    """Round 5 (replacing the round-4 exact-path forcing): a tombstoned
    serving view keeps the PRUNED tier — per-block maxima are recomputed
    over surviving docs (blocks named by the victims' own tokens, bounded
    by deleted postings), phase 2 filters the delete vector, and df comes
    from the deleted-df deltas — so pruned == exact at 1e-9 with the top
    former winners deleted (exactly the case that breaks naive bounds)."""
    from yetisearch_spark.query import SearchIndex
    from yetisearch_spark.query import parse_query
    from yetisearch_spark.streaming import GlobalSegmentedIndex, delete_docs
    from yetisearch_spark.wand import pruned_scored, pruned_topk

    out = str(tmp_path / "wand_tomb_route")
    pdf = generate_transcripts(400, seed=37)
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    base = SearchIndex(spark, out)
    # delete the CURRENT top hits — their norms are the stored block
    # maxima, so stale bounds would overestimate theta and over-prune
    victims = [r["doc_id"] for r in base.search("search", k=3).collect()]
    base.close()
    delete_docs(spark, out, victims)

    live = GlobalSegmentedIndex(spark, out)
    for q in ["search", "search OR data", "search AND data",
              '"search data"', 'NEAR("search" "data", 10)']:
        got = pruned_topk(live, q, k=10, gate_blocks=0)
        stats = pruned_scored(live, parse_query(q), 10, gate_blocks=0)[1]
        assert not (stats or {}).get("gated"), (q, stats)
        rows = [(r["doc_id"], round(r["score"], 9)) for r in got.collect()]
        exact = [(r["doc_id"], round(r["score"], 9))
                 for r in live.search(q, k=10).collect()]
        assert rows == exact, q
        assert not set(victims) & {d for d, _ in rows}
    live.close()


def test_pruned_under_tombstones_dead_block(spark, tmp_path):
    """Every doc of some block deleted: the override must zero that
    block's bounds (its stored max is attained only by hidden docs) and
    results must still match the exact path."""
    from yetisearch_spark.query import SearchIndex
    from yetisearch_spark.streaming import GlobalSegmentedIndex, delete_docs
    from yetisearch_spark.wand import pruned_topk

    out = str(tmp_path / "wand_dead_block")
    pdf = generate_transcripts(400, seed=38)
    # tiny blocks → a whole block's docs are easy to delete
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8,
                block_size=4)
    base = SearchIndex(spark, out)
    hits = sorted(r["doc_id"] for r in base.search("data", k=400).collect())
    base.close()
    delete_docs(spark, out, hits[:8])  # first two blocks' worth of matches

    live = GlobalSegmentedIndex(spark, out)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in pruned_topk(live, "data", k=10,
                                gate_blocks=0).collect()]
    exact = [(r["doc_id"], round(r["score"], 9))
             for r in live.search("data", k=10).collect()]
    assert got == exact
    live.close()


def test_pruned_sound_under_avgdl_drift(spark, tmp_path):
    """Stored block maxima were computed at each part's BUILD avgdl; a
    segmented view serves at the UNION avgdl. The [lb, ub] scaling in
    _block_meta must keep pruning exact when a segment shifts avgdl hard
    (short-doc base + long-doc segment here)."""
    import pandas as pd

    from yetisearch_spark.streaming import GlobalSegmentedIndex, append_segment
    from yetisearch_spark.wand import pruned_topk

    out = str(tmp_path / "wand_avgdl_drift")
    base_pdf = generate_transcripts(300, seed=39)
    base_pdf["text"] = base_pdf["text"].str.split().str[:4].str.join(" ") \
        + " zzdrift"
    build_index(spark, spark.createDataFrame(base_pdf), out, num_buckets=8,
                block_size=8)
    seg_pdf = generate_transcripts(300, seed=40)
    seg_pdf["conv_id"] = seg_pdf["conv_id"] + "_seg"
    seg_pdf["text"] = (seg_pdf["text"] + " ") * 6 + "zzdrift"
    append_segment(spark, out, spark.createDataFrame(seg_pdf), epoch=0,
                   auto_compact_segments=None)

    live = GlobalSegmentedIndex(spark, out)
    for q in ["zzdrift", "zzdrift OR data"]:
        got = [(r["doc_id"], round(r["score"], 9))
               for r in pruned_topk(live, q, k=10, gate_blocks=0).collect()]
        exact = [(r["doc_id"], round(r["score"], 9))
                 for r in live.search(q, k=10).collect()]
        assert got == exact, q
    live.close()


def test_corrector_cache_keyed_per_index(spark, two_indexes):
    """corrector() must INSERT per (index, epoch), not replace the whole
    dict — alternating fuzzy queries across two indexes must not
    re-collect either vocabulary (round-4 advice finding)."""
    eng = Engine(spark, two_indexes)
    ca1 = eng.corrector("a")
    cb1 = eng.corrector("b")
    ca2 = eng.corrector("a")   # would re-collect before the fix
    cb2 = eng.corrector("b")
    assert ca1 is ca2
    assert cb1 is cb2
    assert ca1 is not cb1


def test_corrector_cache_evicts_stale_epochs(spark, tmp_path):
    from yetisearch_spark.streaming import upsert_documents

    out = str(tmp_path / "r4_epoch_idx")
    pdf = generate_transcripts(300, seed=13)
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    eng = Engine(spark, {"m": out})
    c0 = eng.corrector("m")
    new = pd.DataFrame({
        "conv_id": ["conv_zz"], "turn_idx": [0], "role": ["user"],
        "text": ["an appended document about quexolite minerals"],
        "tool": [None], "ts": [pd.Timestamp("2025-01-01")]})
    upsert_documents(spark, out, spark.createDataFrame(new), epoch=1)
    c1 = eng.corrector("m")
    assert c1 is not c0
    # the stale epoch's entry was evicted, not retained alongside
    assert len([k for k in eng._correctors if k[0] == "m"]) == 1


def test_plan_key_distinguishes_language(spark, two_indexes):
    """Two queries identical except for q.language flow through
    per-language synonym maps — the K1/plan cache must not serve one
    language's page for the other (round-4 advice finding)."""
    syn = {"en": {"search": ["lookup"]}, "de": {"search": ["suche"]}}
    eng = Engine(spark, two_indexes,
                 config={"enable_synonyms": True, "synonyms": syn})
    q_en = SearchQuery(query="search", language="en", limit=5)
    q_de = SearchQuery(query="search", language="de", limit=5)
    r_en = eng.search("a", q_en)
    r_de = eng.search("a", q_de)
    # cache-key separation: the second call compiled its own plan (a
    # collision would have returned r_en verbatim, same object)
    assert r_de is not r_en
    # and a repeat of each language hits its OWN cache entry
    assert eng.search("a", q_en) is r_en
    assert eng.search("a", q_de) is r_de


def test_facet_ties_order_numeric_values_naturally(spark, tmp_path):
    """Equal-count numeric facet values must order by value (9 before
    10), matching `ORDER BY count DESC, field ASC` typed ordering — not
    lexicographic str() ordering ('10' < '9')."""
    out = str(tmp_path / "r4_facet_idx")
    rows = []
    for i, turn in enumerate([9, 10, 9, 10]):
        rows.append((f"conv_{i}", turn, "user",
                     "facet tie ordering probe document", None,
                     pd.Timestamp("2025-01-01")))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4)
    eng = Engine(spark, {"f": out})
    q = SearchQuery(query="probe", facets={"turn_idx": {"limit": 1}})
    got = eng.facets("f", q)["turn_idx"]
    assert got == [{"value": 9, "count": 2}]


def test_verify_index_and_debug_query(spark, two_indexes):
    """index:verify / debug:query CLI analogs (reference
    bin/yetisearch:112-156)."""
    from yetisearch_spark.debug import debug_query, verify_index

    status = verify_index(spark, two_indexes["a"])
    assert status["ok"], status
    assert status["docs"] == status["manifest_docs"] \
        == status["global_stats_docs"]
    assert status["terms"] > 0 and status["posting_blocks"] > 0
    assert status["segments"] == [] and status["tombstones"] == 0

    out = debug_query(spark, two_indexes["a"], "data AND process", k=5)
    assert "And" in out["ast"] or "Phrase" in out["ast"]
    assert "Physical Plan" in out["plan"]

    out = debug_query(spark, two_indexes["a"], "data", k=5)
    route = out["route"]                # gated or pruned, always reported
    assert route["kind"] in ("pruned", "exact"), route
    if route["kind"] == "exact":
        assert route["reason"] == "est_blocks", route
    assert route["stats"] is not None, route


def test_verify_index_flags_missing_parts(spark, tmp_path):
    import shutil

    from yetisearch_spark.debug import verify_index

    pdf = generate_transcripts(100, seed=15)
    out = str(tmp_path / "broken_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4)
    shutil.rmtree(f"{out}/term_stats")
    status = verify_index(spark, out)
    assert not status["ok"]
    assert status["error"] == "missing layout parts"


def test_one_touch_decode_fill(spark, two_indexes):
    """A decode miss fills the term's final cached layout at once (one
    partition below COPART_MIN_DF) and the plan built over it is
    memoised on that first call: the second search hands back the same
    frame object, and every page is equal."""
    from yetisearch_spark.query import SearchIndex

    idx = SearchIndex(spark, two_indexes["b"])
    q = "data AND process"

    def rows(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    df1 = idx.search(q, k=10)
    r1 = rows(df1)
    for term in ("data", "process"):
        frame = idx._decoded_cache[("t", term, False)]
        assert frame.storageLevel.useMemory
        assert frame.rdd.getNumPartitions() == 1

    df2 = idx.search(q, k=10)
    assert df2 is df1                     # memoised from touch 1
    assert rows(df2) == r1
    assert rows(idx.search(q, k=10)) == r1
    idx.close()


def test_lru_eviction_drops_match_table_and_df(spark, two_indexes):
    """One eviction path for the persisted match tables, whoever fills
    them: with room for two, the exact path's _plan and wand's forced-
    pruned phrase route fill four phrase tables in turn, and each
    evicted table is unpersisted and takes its cached df with it."""
    from pyspark import StorageLevel

    from yetisearch_spark.query import SearchIndex, parse_query
    from yetisearch_spark.wand import pruned_scored

    idx = SearchIndex(spark, two_indexes["a"])
    idx.DECODED_CACHE_MAX = 2
    phrases = ['"href http"', '"say make"', '"jalapeño go"', '"get say"']
    keys = [("ph", parse_query(p).terms) for p in phrases]

    idx.match_scores(parse_query(phrases[0])).collect()     # via _plan
    oldest = idx._match_cache[keys[0]]
    assert idx._df_count_cache[keys[0]] > 0
    for p in phrases[1:3]:                                  # via wand
        scored, info = pruned_scored(idx, parse_query(p), 10, gate_blocks=0)
        assert scored is not None, info
    assert list(idx._match_cache) == keys[1:3]
    assert keys[0] not in idx._df_count_cache
    assert oldest.storageLevel == StorageLevel.NONE

    second = idx._match_cache[keys[1]]
    idx.match_scores(parse_query(phrases[3])).collect()     # via _plan
    assert list(idx._match_cache) == keys[2:]
    assert second.storageLevel == StorageLevel.NONE
    assert idx._df_count_cache[keys[3]] > 0
    idx.close()


def test_warm_materializes_doc_store(spark, two_indexes):
    from yetisearch_spark.query import SearchIndex

    idx = SearchIndex(spark, two_indexes["a"])
    out = idx.warm()
    assert out["docs"] == 300
    # storage-level check: the persisted docs relation is now materialized
    assert idx._docs.storageLevel.useMemory
    idx.close()

    uncached = SearchIndex(spark, two_indexes["a"], cache_docs=False)
    out = uncached.warm()
    assert out["docs"] == 0
    assert out["warmed_terms"] > 0   # round 5: head-term decode prefill
    uncached.close()
