"""Resume-from-checkpoint (north_rule) + incremental segments/compaction."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.build import build_index, load_manifest
from yetisearch_spark.query import SearchIndex


def test_resume_skips_completed_and_matches_full_build(spark, tmp_path):
    pdf = generate_transcripts(600, seed=33)
    df = spark.createDataFrame(pdf)

    full_dir = str(tmp_path / "full")
    build_index(spark, df, full_dir, num_buckets=4)

    # simulate a crash after the stats stage: copy artifacts, drop the
    # 'postings' stage from the manifest and delete its output
    resumed_dir = str(tmp_path / "resumed")
    shutil.copytree(full_dir, resumed_dir)
    shutil.rmtree(os.path.join(resumed_dir, "postings"))
    m = load_manifest(resumed_dir)
    del m["stages"]["postings"]
    with open(os.path.join(resumed_dir, "manifest.json"), "w") as f:
        json.dump(m, f)

    m2 = build_index(spark, df, resumed_dir, num_buckets=4)
    assert set(m2["stages"]) == {"docs", "stats", "postings", "term_stats"}
    # resumed docs stage must NOT have rerun (same committed wall time)
    assert m2["stages"]["docs"]["wall_s"] == \
        load_manifest(full_dir)["stages"]["docs"]["wall_s"]

    # identical query results
    q = "search AND data"
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         SearchIndex(spark, full_dir).search(q, k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         SearchIndex(spark, resumed_dir).search(q, k=10).collect()]
    assert a == b

    # per-bucket counters present (lineage requirement)
    pb = m2["stages"]["postings"]["counters"]["per_bucket"]
    assert pb and all({"blocks", "postings", "bytes"} <= set(v) for v in pb.values())


def test_segments_and_compaction(spark, tmp_path):
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            append_segment, compact,
                                            delete_docs, high_water_doc_id,
                                            list_segments, live_docs)

    base_pdf = generate_transcripts(400, seed=44)
    extra_pdf = generate_transcripts(200, seed=45)
    extra_pdf["conv_id"] = extra_pdf["conv_id"].str.replace("conv_", "convX_")

    idx_dir = str(tmp_path / "seg_idx")
    build_index(spark, spark.createDataFrame(base_pdf), idx_dir, num_buckets=4)
    assert high_water_doc_id(idx_dir) == 400

    append_segment(spark, idx_dir, spark.createDataFrame(extra_pdf), epoch=0)
    assert list_segments(idx_dir) == [0]
    assert high_water_doc_id(idx_dir) == 600

    seg = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    assert seg.n_docs == 600
    # segment doc_ids start above the base index
    seg_docs = live_docs(spark, idx_dir)
    assert seg_docs.count() == 600
    assert seg_docs.agg(F.max("doc_id")).collect()[0][0] == 599

    hits = seg.search("search", k=10).collect()
    assert hits

    # tombstone a hit, verify it disappears from the view
    victim = hits[0]["doc_id"]
    delete_docs(spark, idx_dir, [victim])
    seg2 = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    assert all(r["doc_id"] != victim for r in seg2.search("search", k=10).collect())

    # compaction produces a clean single index without the victim
    compact_dir = str(tmp_path / "compacted")
    compact(spark, idx_dir, compact_dir)
    cidx = SearchIndex(spark, compact_dir)
    assert cidx.n_docs == 599


def test_segment_doc_ids_consistent_across_postings_and_docs(spark, tmp_path):
    """A segment search hit's doc_id (postings space) must join back to the
    correct segment document text (docs space) — regression for the
    doc_id_base shift living only in the manifest."""
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            append_segment, delete_docs,
                                            live_docs)

    base_pdf = generate_transcripts(150, seed=71)
    seg_pdf = generate_transcripts(60, seed=72)
    seg_pdf["conv_id"] = seg_pdf["conv_id"].str.replace("conv_", "seg_")
    # plant a unique marker term ONLY in segment docs
    seg_pdf.loc[seg_pdf.index[:5], "text"] = [
        f"zebrafish quantum marker number {i}" for i in range(5)]

    idx_dir = str(tmp_path / "idspace_idx")
    build_index(spark, spark.createDataFrame(base_pdf), idx_dir, num_buckets=4)
    append_segment(spark, idx_dir, spark.createDataFrame(seg_pdf), epoch=0)

    seg = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    hits = seg.search("zebrafish", k=10).collect()
    assert len(hits) == 5
    hit_ids = {r["doc_id"] for r in hits}
    # postings-space ids are above the base high-water mark
    assert all(d >= 150 for d in hit_ids)
    # and join back to exactly the marker documents in the docs view
    joined = (live_docs(spark, idx_dir)
              .where(F.col("doc_id").isin(list(hit_ids)))
              .select("text").collect())
    assert len(joined) == 5
    assert all("zebrafish" in r["text"] for r in joined)

    # tombstoning a search-hit id removes that document from BOTH spaces
    victim = sorted(hit_ids)[0]
    delete_docs(spark, idx_dir, [victim])
    seg2 = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    assert all(r["doc_id"] != victim
               for r in seg2.search("zebrafish", k=10).collect())
    assert live_docs(spark, idx_dir).where(
        F.col("doc_id") == victim).count() == 0


def test_delete_by_conv_prefix(spark, tmp_path):
    from yetisearch_spark.streaming import delete_by_conv_prefix, live_docs

    pdf = generate_transcripts(300, seed=66)
    idx_dir = str(tmp_path / "prefix_idx")
    build_index(spark, spark.createDataFrame(pdf), idx_dir, num_buckets=4)
    target_prefix = pdf["conv_id"].iloc[0][:9]  # e.g. 'conv_0000'
    expected = int(pdf["conv_id"].str.startswith(target_prefix).sum())
    n = delete_by_conv_prefix(spark, idx_dir, target_prefix)
    assert n == expected
    assert live_docs(spark, idx_dir).where(
        F.col("conv_id").startswith(target_prefix)).count() == 0


def test_multifield_segments_and_compaction_inherit_fields(spark, tmp_path):
    """Segments and compaction of a multi-field index must index the same
    fields (and preserve weighted search), not silently fall back to
    single-field."""
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            append_segment, compact)

    base = generate_transcripts(150, seed=91)
    base["title"] = base["text"].str.split().str[:3].str.join(" ")
    extra = generate_transcripts(50, seed=92)
    extra["conv_id"] = extra["conv_id"].str.replace("conv_", "mfseg_")
    extra["title"] = "special zygote title"

    idx_dir = str(tmp_path / "mf_seg_idx")
    build_index(spark, spark.createDataFrame(base), idx_dir, num_buckets=4,
                fields=["title", "text"])
    append_segment(spark, idx_dir, spark.createDataFrame(extra), epoch=0)

    seg_manifest = load_manifest(os.path.join(idx_dir, "segments", "epoch=0"))
    assert seg_manifest["config"]["fields"] == ["title", "text"]
    seg = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    hits = seg.search("zygote", k=5).collect()
    assert len(hits) == 5  # title-only term found → segment indexed titles

    out = str(tmp_path / "mf_compacted")
    compact(spark, idx_dir, out)
    cm = load_manifest(out)
    assert cm["config"]["fields"] == ["title", "text"]
    cidx = SearchIndex(spark, out)
    # weighted search works over the compacted index (title-boosted)
    rows = cidx.search('"zygote"', k=5, weights={"title": 3.0}).collect()
    assert len(rows) == 5


def test_upsert_documents(spark, tmp_path):
    """S2/S4: re-ingesting an existing (conv_id, turn_idx) replaces the old
    version — searches hit only the new text, old ids are tombstoned."""
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            live_docs, upsert_documents)

    pdf = generate_transcripts(120, seed=81)
    idx_dir = str(tmp_path / "upsert_idx")
    build_index(spark, spark.createDataFrame(pdf), idx_dir, num_buckets=4)

    victim = pdf.iloc[0]
    updated = pdf.iloc[[0]].copy()
    updated["text"] = "replacement walrus content entirely new"
    new_rows = generate_transcripts(10, seed=82)
    new_rows["conv_id"] = new_rows["conv_id"].str.replace("conv_", "new_")
    batch = __import__("pandas").concat([updated, new_rows])

    out = upsert_documents(spark, idx_dir, spark.createDataFrame(batch),
                           epoch=0)
    assert out["replaced"] == 1
    assert out["inserted"] == 11

    seg = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    hits = seg.search("walrus", k=5).collect()
    assert len(hits) == 1 and hits[0]["doc_id"] >= 120
    # the replaced identity resolves to exactly one live doc — the new one
    live = live_docs(spark, idx_dir).where(
        (F.col("conv_id") == victim["conv_id"])
        & (F.col("turn_idx") == int(victim["turn_idx"]))).collect()
    assert len(live) == 1 and "walrus" in live[0]["text"]


def test_synonyms_per_language_and_file(tmp_path):
    from yetisearch_spark.correction import expand_synonyms
    nested = {"en": {"car": ["automobile", "vehicle"]},
              "fr": {"voiture": ["automobile"]}}
    assert expand_synonyms(["car"], nested, language="en") \
        == {"car": ["automobile", "vehicle"]}
    assert expand_synonyms(["voiture"], nested, language="fr") \
        == {"voiture": ["automobile"]}
    assert expand_synonyms(["car"], nested, language="fr") == {}
    # file source
    import json
    p = tmp_path / "syn.json"
    p.write_text(json.dumps({"bug": ["defect", "fault"]}))
    assert expand_synonyms(["Bug"], str(p)) == {"Bug": ["defect", "fault"]}


def test_build_with_language_option(spark, tmp_path):
    import pandas as pd
    texts = ["Les ordinateurs sont utiles pour les développeurs",
             "La maison est grande et belle aujourd'hui",
             "Les ordinateurs modernes calculent rapidement"] * 30
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [None] * len(texts),
        "ts": pd.Timestamp("2025-01-01"),
    })
    out = str(tmp_path / "fr_idx")
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=4,
                language="french")
    idx = SearchIndex(spark, out)
    # 'ordinateurs' stems to 'ordinat' under the French stemmer
    assert idx.count('"ordinat"') == 60
    assert load_manifest(out)["config"]["language"] == "french"
