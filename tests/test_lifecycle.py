"""Segment lifecycle (round-4): auto-compaction trigger, epoch
monotonicity across the in-place swap, single-job serving-view stats,
the documented delete-df drift bound, and WAND × segmented serving."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.query import SearchIndex
from yetisearch_spark.streaming import (GlobalSegmentedIndex, append_segment,
                                        compact_in_place, delete_docs,
                                        index_epoch, list_segments)


def _pages(idx, queries, k=20):
    out = {}
    for q in queries:
        out[q] = {r["doc_id"]: r["score"] for r in idx.search(q, k=k).collect()}
    return out


QUERIES = ["data", "data AND process", '"data process"', "comput*",
           "error OR fail"]


def test_auto_compaction_merges_smallest_and_serving_identical(spark,
                                                               tmp_path):
    """Round 5: hitting the segment-count threshold runs a TIERED merge
    (the smallest segments fold into one; the base index is untouched
    and doc_ids are preserved) — never an implicit full rewrite. The
    epoch keeps rising and serving stays score-identical (1e-9) to a
    one-shot twin."""
    from yetisearch_spark.streaming import GlobalSegmentedIndex

    pdf = generate_transcripts(800, seed=61)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    chunks = [pdf.iloc[:500]] + [pdf.iloc[500 + i * 100: 600 + i * 100]
                                 for i in range(3)]
    out = str(tmp_path / "auto_idx")
    build_index(spark, spark.createDataFrame(chunks[0]), out, num_buckets=8)
    base_manifest_mtime = None
    import os
    epochs = [index_epoch(out)]
    ids_before_merge = None
    for i, chunk in enumerate(chunks[1:]):
        append_segment(spark, out, spark.createDataFrame(chunk), epoch=i,
                       auto_compact_segments=3)
        epochs.append(index_epoch(out))
        if i == 1:  # two segments committed, about to trigger on the 3rd
            live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                        cache_postings=False)
            ids_before_merge = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
                                for r in live._docs.collect()}
            live.close()
    # the 3rd append triggers the tiered merge: 3 segments → 2 (the two
    # smallest merged), base untouched
    assert len(list_segments(out)) == 2
    assert epochs == sorted(epochs) and len(set(epochs)) == len(epochs)
    assert os.path.isdir(os.path.join(out, "postings"))  # base intact

    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    # doc_ids preserved across the merge for every doc present before it
    ids_after = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
                 for r in live._docs.collect()}
    for key, did in ids_before_merge.items():
        assert ids_after[key] == did, key

    twin = str(tmp_path / "twin_idx")
    build_index(spark, spark.createDataFrame(pdf), twin, num_buckets=8)
    b = SearchIndex(spark, twin)
    for q in QUERIES:
        a_rows = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
                  live.search(q, k=20, with_docs=True).collect()}
        b_rows = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
                  b.search(q, k=20, with_docs=True).collect()}
        assert set(a_rows) == set(b_rows), q
        for key in a_rows:
            assert a_rows[key] == pytest.approx(b_rows[key], rel=1e-9), \
                (q, key)
    live.close()
    b.close()


def test_no_auto_compaction_when_disabled(spark, tmp_path):
    pdf = generate_transcripts(400, seed=62)
    out = str(tmp_path / "manual_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:300]), out,
                num_buckets=8)
    for i in range(3):
        seg = pdf.iloc[300 + i * 30: 330 + i * 30]
        append_segment(spark, out, spark.createDataFrame(seg), epoch=i,
                       auto_compact_segments=None)
    assert len(list_segments(out)) == 3


def test_segmented_view_stats_single_job(spark, tmp_path):
    """GlobalSegmentedIndex construction must run ONE corpus-stats job
    regardless of segment count (a per-part collect loop made view
    construction linear in #segments — round-4 verdict order)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    pdf = generate_transcripts(500, seed=63)
    out = str(tmp_path / "onejob_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:300]), out,
                num_buckets=8)
    for i in range(4):
        seg = pdf.iloc[300 + i * 50: 350 + i * 50]
        append_segment(spark, out, spark.createDataFrame(seg), epoch=i,
                       auto_compact_segments=None)

    calls = []
    orig = CDF.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    CDF.collect = counting
    try:
        live = GlobalSegmentedIndex(spark, out)
    finally:
        CDF.collect = orig
    assert len(calls) == 1, f"{len(calls)} collects at view construction"
    assert live.n_docs == 500
    live.close()


def test_deleted_serving_identical_to_compacted(spark, tmp_path):
    """Round 5: per-term deleted-df deltas (recorded at tombstone time)
    plus decode-level tombstone filtering make the segmented view's
    df/idf/phrase-df EXACT under deletes — scores are IDENTICAL to the
    compacted index at 1e-9 (the round-4 <25% drift bound is retired)."""
    pdf = generate_transcripts(800, seed=64)
    out = str(tmp_path / "drift_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    base = SearchIndex(spark, out)
    # delete every OTHER match of each probe term — survivors keep
    # matching while the stored posting blocks keep the victims' residue
    victims = sorted({r["doc_id"] for q in ("data", "process", "error")
                      for r in base.search(q, k=500).collect()[::2]})
    base.close()
    delete_docs(spark, out, victims)

    live = GlobalSegmentedIndex(spark, out)
    comp = str(tmp_path / "drift_compacted")
    from yetisearch_spark.streaming import compact
    compact(spark, out, comp)
    cidx = SearchIndex(spark, comp)
    # term stats themselves must be delete-exact (df AND cf)
    for t in ("data", "process", "error"):
        assert live.term_stats_for([t]) == cidx.term_stats_for([t]), t
    # compacted doc_ids are re-densified; compare via (conv_id, turn_idx)
    for q in QUERIES:
        a = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
             live.search(q, k=200, with_docs=True).collect()}
        b = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
             cidx.search(q, k=200, with_docs=True).collect()}
        assert set(a) == set(b), q   # same visible docs match
        for key in a:
            assert a[key] == pytest.approx(b[key], rel=1e-9), (q, key)
    live.close()
    cidx.close()


def test_deleted_df_deltas_dedupe_double_deletes(spark, tmp_path):
    """Deleting the same doc twice must not double-subtract its df
    deltas (and a second identical delete is a no-op)."""
    from yetisearch_spark.streaming import load_deleted_df
    pdf = generate_transcripts(300, seed=65)
    out = str(tmp_path / "dd_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    base = SearchIndex(spark, out)
    victims = sorted({r["doc_id"]
                      for r in base.search("data", k=50).collect()[:5]})
    base.close()
    delete_docs(spark, out, victims)
    d1 = (load_deleted_df(spark, out).groupBy().agg(
        F.sum("df").alias("s")).collect()[0]["s"])
    delete_docs(spark, out, victims)      # exact repeat
    delete_docs(spark, out, victims[:2])  # partial repeat
    d2 = (load_deleted_df(spark, out).groupBy().agg(
        F.sum("df").alias("s")).collect()[0]["s"])
    assert d1 == d2
    live = GlobalSegmentedIndex(spark, out)
    comp = str(tmp_path / "dd_compacted")
    from yetisearch_spark.streaming import compact
    compact(spark, out, comp)
    cidx = SearchIndex(spark, comp)
    assert live.term_stats_for(["data"]) == cidx.term_stats_for(["data"])
    live.close()
    cidx.close()
    live.close()
    cidx.close()


def test_pruned_topk_over_segmented_view(spark, tmp_path):
    """WAND pruning must compose with GlobalSegmentedIndex's union
    relations (base + 2 appended segments, no deletes): pruned == exact
    on both driver and spark phase-1 paths (round-4 verdict order)."""
    from yetisearch_spark.query import parse_query
    from yetisearch_spark.wand import pruned_scored, pruned_topk

    pdf = generate_transcripts(900, seed=65)
    out = str(tmp_path / "wand_seg_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:600]), out,
                num_buckets=8)
    for i in range(2):
        seg = pdf.iloc[600 + i * 150: 750 + i * 150]
        append_segment(spark, out, spark.createDataFrame(seg), epoch=i,
                       auto_compact_segments=None)
    live = GlobalSegmentedIndex(spark, out)
    assert live._tomb is None
    for q in ["data", "data AND process", "error OR fail"]:
        got = pruned_topk(live, q, k=10, gate_blocks=0)
        stats = pruned_scored(live, parse_query(q), 10,
                              gate_blocks=0)[1].get("prune_stats")
        assert stats is not None and not stats.get("gated"), (q, stats)
        a = [(r["doc_id"], r["score"]) for r in got.collect()]
        b = [(r["doc_id"], r["score"])
             for r in live.search(q, k=10).collect()]
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, rel=1e-9)
    live.close()


def test_engine_serves_across_auto_compaction(spark, tmp_path):
    """Round-4 review finding: after an in-place compaction the engine's
    serving view must be a FRESH SearchIndex over the new files — the
    pre-compaction base describes deleted parquet and stale corpus
    stats. Query results and stats must stay correct through the swap
    with no manual intervention."""
    from yetisearch_spark.engine import Engine, SearchQuery

    pdf = generate_transcripts(700, seed=66)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = str(tmp_path / "eng_autocompact")
    build_index(spark, spark.createDataFrame(pdf.iloc[:400]), out,
                num_buckets=8)
    eng = Engine(spark, {"m": out})
    before = eng.search("m", SearchQuery(query="data", limit=5))
    assert before["total"] > 0
    for i in range(3):
        chunk = pdf.iloc[400 + i * 100: 500 + i * 100]
        append_segment(spark, out, spark.createDataFrame(chunk), epoch=i,
                       auto_compact_segments=3)
    # round 5: the auto trigger is a TIERED merge (2 segments remain) —
    # the engine must serve correctly across the out-of-band segment swap
    assert len(list_segments(out)) == 2
    mid = eng.search("m", SearchQuery(query="data", limit=5))
    assert eng.get_stats("m")["document_count"] == 700
    # explicit optimize (S9) still does the full in-place rewrite; the
    # engine must then swap to a fresh SearchIndex over the new files
    compact_in_place(spark, out)
    assert list_segments(out) == []
    after = eng.search("m", SearchQuery(query="data", limit=5))
    assert eng.get_stats("m")["document_count"] == 700
    assert [(r["document"]["conv_id"], r["document"]["turn_idx"], r["score"])
            for r in mid["results"]] == \
           [(r["document"]["conv_id"], r["document"]["turn_idx"], r["score"])
            for r in after["results"]]
    # twin built in one shot must agree on the page
    twin_dir = str(tmp_path / "eng_twin")
    build_index(spark, spark.createDataFrame(pdf), twin_dir, num_buckets=8)
    twin = Engine(spark, {"t": twin_dir})
    want = twin.search("t", SearchQuery(query="data", limit=5))
    got_keys = [(r["document"]["conv_id"], r["document"]["turn_idx"],
                 r["score"]) for r in after["results"]]
    want_keys = [(r["document"]["conv_id"], r["document"]["turn_idx"],
                  r["score"]) for r in want["results"]]
    assert got_keys == want_keys
    assert after["total"] == want["total"]


def test_interrupted_compaction_swap_recovers(spark, tmp_path):
    """A kill between the two swap renames leaves the index parked at
    <dir>.pre_compact — the next open must restore it (compaction is
    idempotent, so serving the pre-compaction state is correct)."""
    import os

    pdf = generate_transcripts(300, seed=67)
    out = str(tmp_path / "crash_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    # simulate the crash window: index_dir renamed away, swap-in never ran
    os.replace(out, out + ".pre_compact")
    assert not os.path.isdir(out)
    idx = SearchIndex(spark, out)     # load_manifest restores the park
    assert idx.n_docs == 300
    assert idx.search("data", k=3).count() >= 0
    idx.close()


def test_verify_index_reports_corrupt_manifest(spark, tmp_path):
    """index:verify must report ok:false on a truncated manifest, not
    crash (round-4 review finding)."""
    import json
    import os

    from yetisearch_spark.debug import verify_index

    pdf = generate_transcripts(100, seed=68)
    out = str(tmp_path / "corrupt_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4)
    m = json.load(open(os.path.join(out, "manifest.json")))
    del m["stages"]["docs"]           # interrupted-build shape
    json.dump(m, open(os.path.join(out, "manifest.json"), "w"))
    status = verify_index(spark, out)
    assert status["ok"] is False
    assert "manifest" in status["error"]


def test_compaction_preserves_build_config(spark, tmp_path):
    """A custom block_size must survive compaction AND tiered merges
    (WAND block geometry) — both forward the full build config."""
    from yetisearch_spark.build import load_manifest
    from yetisearch_spark.streaming import segment_dir

    pdf = generate_transcripts(400, seed=69)
    out = str(tmp_path / "cfg_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:300]), out,
                num_buckets=8, block_size=32, num_salts=4)
    for i in range(2):
        append_segment(spark, out,
                       spark.createDataFrame(pdf.iloc[300 + i * 50:
                                                      350 + i * 50]),
                       epoch=i, auto_compact_segments=2)
    # round 5: the auto trigger merges the two segments into one
    segs = list_segments(out)
    assert len(segs) == 1
    mcfg = load_manifest(segment_dir(out, segs[0])).get("config", {})
    assert int(mcfg.get("block_size")) == 32
    assert int(mcfg.get("num_salts")) == 4
    compact_in_place(spark, out)
    assert list_segments(out) == []
    cfg = load_manifest(out).get("config", {})
    assert int(cfg.get("block_size")) == 32
    assert int(cfg.get("num_salts")) == 4


def test_fresh_reader_after_compaction_with_live_old_view(spark, tmp_path):
    """Round-4 property-sweep find (pinned): compact_in_place swaps the
    directory BEHIND Spark's back, so the session still holds file
    listings and persisted relations for the old files under the same
    path — a fresh SearchIndex's scan could canonically match a stale
    cached plan and serve pre-compaction postings without touching disk
    (internally inconsistent results: prefix matches pointing at the
    wrong docs). compact_in_place must refreshByPath; this drives the
    exact failing flow: live queried view kept open across the swap."""
    from yetisearch_spark.engine import Engine, SearchQuery
    from yetisearch_spark.streaming import (compact_in_place,
                                            delete_by_conv_prefix)

    pdf = generate_transcripts(700, seed=55)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    base = pdf.iloc[:350]
    out = str(tmp_path / "stale_idx")
    build_index(spark, spark.createDataFrame(base), out, num_buckets=8)
    eng = Engine(spark, {"m": out})
    for conv in ("conv_00000003", "conv_00000016"):
        delete_by_conv_prefix(spark, out, conv)
    # query through the live (tombstoned) view so its relations are
    # persisted over the CURRENT files — then compact underneath it
    for q in ["data", "comput*", "error OR fail"]:
        eng.search("m", SearchQuery(query=q, limit=500))
    compact_in_place(spark, out)

    cidx = SearchIndex(spark, out)
    state_keys_with = {
        (r["conv_id"], int(r["turn_idx"]))
        for _, r in base.iterrows()
        if r["conv_id"] not in ("conv_00000003", "conv_00000016")}
    for q in ["data", "comput*", "error OR fail"]:
        got = {(r["conv_id"], r["turn_idx"]) for r in
               cidx.search(q, k=500, with_docs=True).collect()}
        assert got <= state_keys_with, q
        # internal consistency: the match set equals the docs whose
        # tokens actually contain a matching term
        if q == "comput*":
            truth = {(r["conv_id"], r["turn_idx"]) for r in
                     cidx._docs.where(
                         F.array_contains("tokens", "comput")).collect()}
            assert got == truth
    cidx.close()
