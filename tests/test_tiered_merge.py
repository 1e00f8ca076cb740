"""Round 5: tiered segment merge (merge_segments) — doc_id preservation,
tombstone/delta rewrite, high-water id allocation, crash recovery."""

import os

import pytest
from pyspark.sql import functions as F

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.query import SearchIndex
from yetisearch_spark.streaming import (GlobalSegmentedIndex, append_segment,
                                        delete_docs, high_water_doc_id,
                                        list_segments, load_deleted_df,
                                        load_tombstones, merge_segments,
                                        segment_dir)


def _build_with_segments(spark, tmp_path, n_segs=3, seed=71):
    pdf = generate_transcripts(400 + n_segs * 60, seed=seed)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = str(tmp_path / "m_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:400]), out,
                num_buckets=8)
    for i in range(n_segs):
        seg = pdf.iloc[400 + i * 60: 460 + i * 60]
        append_segment(spark, out, spark.createDataFrame(seg), epoch=i,
                       auto_compact_segments=None)
    return out, pdf


def test_merge_preserves_serving_and_ids(spark, tmp_path):
    out, pdf = _build_with_segments(spark, tmp_path)
    before = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                  cache_postings=False)
    ids = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
           for r in before._docs.collect()}
    pages = {q: [(r["doc_id"], round(r["score"], 9))
                 for r in before.search(q, k=20).collect()]
             for q in ["data", "data AND process", '"data process"',
                       "comput*"]}
    before.close()

    n_before = len(list_segments(out))
    merge_segments(spark, out)
    assert len(list_segments(out)) < n_before

    after = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                 cache_postings=False)
    ids_after = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
                 for r in after._docs.collect()}
    assert ids_after == ids  # every doc_id survives the merge verbatim
    for q, want in pages.items():
        got = [(r["doc_id"], round(r["score"], 9))
               for r in after.search(q, k=20).collect()]
        assert got == want, q
    after.close()


def test_merge_applies_tombstones_and_rewrites_deltas(spark, tmp_path):
    out, pdf = _build_with_segments(spark, tmp_path, seed=72)
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    # victims: some in the base (ids < 400), some in segments (ids >= 400)
    hits = sorted(r["doc_id"] for r in live.search("data", k=400).collect())
    base_victims = [d for d in hits if d < 400][:3]
    seg_victims = [d for d in hits if d >= 400][:3]
    live.close()
    assert base_victims and seg_victims
    delete_docs(spark, out, base_victims + seg_victims)

    segs = list_segments(out)
    merge_segments(spark, out, epochs=segs)  # merge ALL segments into one
    assert len(list_segments(out)) == 1

    # segment victims were applied physically: only base victims remain
    tomb = load_tombstones(spark, out)
    remaining = sorted(r["doc_id"] for r in tomb.collect())
    assert remaining == sorted(base_victims)
    # the merged segment no longer contains the applied victims
    seg_docs = spark.read.parquet(
        os.path.join(segment_dir(out, list_segments(out)[0]), "docs"))
    held = {r["doc_id"] for r in seg_docs.select("doc_id").collect()}
    assert not set(seg_victims) & held

    # deltas were rewritten from the remaining victims only, and serving
    # stats stay exact vs a full compaction
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    comp = str(tmp_path / "m_compacted")
    from yetisearch_spark.streaming import compact
    compact(spark, out, comp)
    cidx = SearchIndex(spark, comp, cache_postings=False, cache_docs=False)
    for t in ("data", "process"):
        assert live.term_stats_for([t]) == cidx.term_stats_for([t]), t
    a = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
         live.search("data", k=100, with_docs=True).collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
         cidx.search("data", k=100, with_docs=True).collect()}
    assert set(a) == set(b)
    for key in a:
        assert a[key] == pytest.approx(b[key], rel=1e-9), key
    live.close()
    cidx.close()


def test_high_water_never_reallocates_live_ids(spark, tmp_path):
    """Merging drops tombstoned docs (count shrinks below allocated
    ids); a later append must allocate ABOVE every live id."""
    out, pdf = _build_with_segments(spark, tmp_path, seed=73)
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    seg_hits = sorted(r["doc_id"]
                      for r in live.search("data", k=400).collect()
                      if r["doc_id"] >= 400)
    live.close()
    delete_docs(spark, out, seg_hits[:10])
    merge_segments(spark, out, epochs=list_segments(out))
    hw = high_water_doc_id(out)

    extra = generate_transcripts(50, seed=99)
    extra["conv_id"] = extra["conv_id"] + "_x"
    append_segment(spark, out, spark.createDataFrame(extra), epoch=50,
                   auto_compact_segments=None)
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    ids = [r["doc_id"] for r in live._docs.select("doc_id").collect()]
    assert len(ids) == len(set(ids)), "doc_id collision after merge+append"
    assert min(i for i in ids if i >= hw) >= hw  # new docs above the mark
    live.close()


def test_appends_after_auto_merge_are_not_swallowed(spark, tmp_path):
    """Pinned (found by scripts/bench_merge.py): the merged segment used
    to take epoch max+1, colliding with the caller's NEXT batch id —
    append_segment would resume into the merged dir and silently DROP
    that batch. Sequential batch ids across auto-merges must all land."""
    pdf = generate_transcripts(400 + 6 * 50, seed=76)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = str(tmp_path / "seq_idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:400]), out,
                num_buckets=8)
    for i in range(6):   # sequential epochs 0..5, auto-merge at 3
        seg = pdf.iloc[400 + i * 50: 450 + i * 50]
        append_segment(spark, out, spark.createDataFrame(seg), epoch=i,
                       auto_compact_segments=3)
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    assert live.n_docs == len(pdf)
    keys = {(r["conv_id"], r["turn_idx"]) for r in
            live._docs.select("conv_id", "turn_idx").collect()}
    assert len(keys) == len(pdf)
    live.close()


def test_merge_noop_cases(spark, tmp_path):
    out, pdf = _build_with_segments(spark, tmp_path, n_segs=1, seed=74)
    assert merge_segments(spark, out) == {}          # <2 segments
    assert merge_segments(spark, out, epochs=[0]) == {}
    assert len(list_segments(out)) == 1


def test_interrupted_merge_recovery(spark, tmp_path):
    """A marker-present segment (crash between rename and source
    removal) must have its sources cleaned on the next mutation."""
    import json
    out, pdf = _build_with_segments(spark, tmp_path, n_segs=3, seed=75)
    segs = list_segments(out)
    merged = merge_segments(spark, out, epochs=segs[:2])
    assert merged
    new_seg = [e for e in list_segments(out) if e not in segs][0]
    # simulate the crash window: re-create a stale source dir + marker
    stale = segment_dir(out, 99)
    import shutil
    shutil.copytree(segment_dir(out, segs[2]), stale)
    with open(os.path.join(segment_dir(out, new_seg),
                           "merge_sources.json"), "w") as f:
        json.dump({"sources": [99, new_seg]}, f)
    from yetisearch_spark.streaming import _finish_interrupted_merge
    _finish_interrupted_merge(out)
    assert 99 not in list_segments(out)
    assert not os.path.exists(os.path.join(segment_dir(out, new_seg),
                                           "merge_sources.json"))


def test_crash_after_rename_recovers_exact_state(spark, tmp_path,
                                                 monkeypatch):
    """Round-6 advice (medium): a crash between the merged-segment rename
    and the tombstone/delta-table swap used to leave the OLD deltas
    double-subtracting victims the merged segment had already applied
    physically (df/cf drift, permanent). The commit marker now records
    the whole post-rename step list; recovery replays it. Simulate the
    crash by no-op'ing _complete_merge_commit during the merge, recover,
    and assert the state is identical to a clean merge — delta exactness
    vs a full compaction, sources gone, high_water ratcheted."""
    import yetisearch_spark.streaming as st

    out, pdf = _build_with_segments(spark, tmp_path, seed=77)
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    hits = sorted(r["doc_id"] for r in live.search("data", k=400).collect())
    base_victims = [d for d in hits if d < 400][:3]
    seg_victims = [d for d in hits if d >= 400][:3]
    live.close()
    assert base_victims and seg_victims
    delete_docs(spark, out, base_victims + seg_victims)
    hw_before = high_water_doc_id(out)

    monkeypatch.setattr(st, "_complete_merge_commit",
                        lambda *a, **k: None)
    merge_segments(spark, out, epochs=list_segments(out))
    monkeypatch.undo()

    # crash-window state: merged segment AND sources on disk, marker
    # present, old tombstone/delta tables still in place, .rewrite side
    # dirs parked
    markers = [ep for ep in list_segments(out) if os.path.exists(
        os.path.join(segment_dir(out, ep), "merge_sources.json"))]
    assert len(markers) == 1
    assert len(list_segments(out)) > 1

    st._finish_interrupted_merge(out)
    st._finish_interrupted_merge(out)   # idempotent replay

    segs = list_segments(out)
    assert len(segs) == 1
    assert not os.path.exists(os.path.join(segment_dir(out, segs[0]),
                                           "merge_sources.json"))
    # segment victims applied physically; only base victims remain, and
    # the delta table was swapped (not left double-subtracting)
    tomb = load_tombstones(spark, out)
    assert sorted(r["doc_id"] for r in tomb.collect()) == \
        sorted(base_victims)
    assert high_water_doc_id(out) >= hw_before

    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    comp = str(tmp_path / "crash_compacted")
    from yetisearch_spark.streaming import compact
    compact(spark, out, comp)
    cidx = SearchIndex(spark, comp, cache_postings=False, cache_docs=False)
    for t in ("data", "process"):
        assert live.term_stats_for([t]) == cidx.term_stats_for([t]), t
    a = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
         live.search("data", k=100, with_docs=True).collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
         cidx.search("data", k=100, with_docs=True).collect()}
    assert set(a) == set(b)
    for key in a:
        assert a[key] == pytest.approx(b[key], rel=1e-9), key
    live.close()
    cidx.close()


def test_merge_settles_pending_delete_markers(spark, tmp_path):
    """A delete marker left behind after its deltas committed must not
    survive a merge: the merge rewrites deleted_df without the batch
    tags, so a surviving marker would replay its deltas on the next
    mutation and subtract df twice for victims still tombstoned outside
    the merged segments."""
    from yetisearch_spark.build import load_docs
    from yetisearch_spark.streaming import compact

    out, _ = _build_with_segments(spark, tmp_path, seed=73)
    base_docs = load_docs(spark, out)
    ids = [r["doc_id"] for r in base_docs.select("doc_id")
           .orderBy("doc_id").limit(40).collect()]
    delete_docs(spark, out, ids[:3])
    # the crash window after the delta append: the committed batch's
    # marker is still on disk
    bid = (spark.read.option("mergeSchema", "true")
           .parquet(os.path.join(out, "deleted_df"))
           .select("batch").first()["batch"])
    spark.createDataFrame([(d,) for d in ids[:3]], "doc_id long").write \
        .parquet(os.path.join(out, "deleted_df_pending", bid))

    merge_segments(spark, out, epochs=list_segments(out)[:2])
    delete_docs(spark, out, [ids[30]])

    terms = sorted({t for r in base_docs.where(
        F.col("doc_id").isin(ids[:3] + [ids[30]])).select("tokens").collect()
        for t in r["tokens"]})
    live = GlobalSegmentedIndex(spark, out, cache_docs=False,
                                cache_postings=False)
    comp = str(tmp_path / "pending_compacted")
    compact(spark, out, comp)
    cidx = SearchIndex(spark, comp, cache_postings=False, cache_docs=False)
    assert live.term_stats_for(terms) == cidx.term_stats_for(terms)
    live.close()
    cidx.close()
