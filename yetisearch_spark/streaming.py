"""Incremental / streaming index maintenance.

The reference is a batch library with no streaming subsystem (SURVEY
§2.15) — its incremental story is per-document upsert/delete inside
SQLite transactions (reference: src/Storage/SqliteStorage.php:359-763)
plus FTS5 'optimize' compaction (:1383-1395). The Spark-native
equivalents:

  * StructuredStreaming ingestion: ``readStream`` over a transcript
    source → ``foreachBatch`` appending per-epoch index *segments*
    (same layout as the main index, under segments/epoch=N/), exactly
    the Lucene/FTS5 segment model.
  * segment-aware querying: a SearchIndex view that unions base +
    segment postings (term stats re-aggregated on the fly).
  * compaction (S9 'optimize'): merge segments back into the base
    index — one build-shaped job.
  * deletes (S5): a tombstone table anti-joined at query time, applied
    physically at compaction.

Epoch doc_ids are allocated above a high-water mark recorded in the
manifest, so segment builds never collide with base ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import build_index, load_docs, load_manifest
from .query import SearchIndex


def segment_dir(index_dir: str, epoch: int) -> str:
    return os.path.join(index_dir, "segments", f"epoch={epoch}")


def list_segments(index_dir: str) -> list[int]:
    root = os.path.join(index_dir, "segments")
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("epoch="):
            suffix = name.split("=", 1)[1]
            if not suffix.isdigit():
                continue   # in-flight build dirs (epoch=N.building)
            if os.path.exists(os.path.join(root, name, "manifest.json")):
                out.append(int(suffix))
    return sorted(out)


def _doc_count(manifest: dict) -> int:
    return int(manifest["stages"]["docs"]["counters"]["docs"])


def index_epoch(index_dir: str) -> int:
    """Monotonic mutation counter in the base manifest — the serving-side
    invalidation signal (reference invalidates its query cache on
    insert/delete: src/Storage/SqliteStorage.php:364-367,708-711)."""
    return int(load_manifest(index_dir).get("epoch", 0))


def bump_epoch(index_dir: str, high_water: int | None = None) -> int:
    """Increment the index epoch after any mutation (segment append,
    tombstone write). Engines compare epochs per search and drop their
    result caches / re-resolve segments when it moves. ``high_water``
    ratchets the allocated-doc_id mark (monotonic — see
    high_water_doc_id)."""
    import json

    manifest = load_manifest(index_dir)
    manifest["epoch"] = int(manifest.get("epoch", 0)) + 1
    if high_water is not None:
        manifest["high_water"] = max(int(manifest.get("high_water", 0)),
                                     int(high_water))
    p = os.path.join(index_dir, "manifest.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, p)
    return manifest["epoch"]


def high_water_doc_id(index_dir: str) -> int:
    """Next free doc_id: max(stored allocation mark, live doc count).
    The stored mark matters after a tiered merge — merged segments keep
    their (sparse) preserved ids while tombstoned docs leave the count,
    so the count alone could re-allocate a live id."""
    manifest = load_manifest(index_dir)
    total = _doc_count(manifest)
    for ep in list_segments(index_dir):
        total += _doc_count(load_manifest(segment_dir(index_dir, ep)))
    return max(total, int(manifest.get("high_water", 0)))


#: default auto-compaction trigger: when a mutated index accumulates
#: this many segments, the ⌈n/2⌉ SMALLEST segments merge into one
#: (tiered merge — an O(merged-bytes) segment-local job that preserves
#: doc_ids and never touches the base index). A FULL rewrite happens
#: only on explicit optimize (compact/compact_in_place — the
#: reference's manual `optimize`, src/Storage/SqliteStorage.php:
#: 1383-1395). Override per append via ``auto_compact_segments``
#: (None disables, matching reference parity).
AUTO_COMPACT_SEGMENTS = 16

#: merged segments are numbered from here — a range no streaming batch
#: id reaches, so a merge can never collide with (and swallow) a later
#: append's segment directory
MERGED_EPOCH_BASE = 10 ** 12


def _inherited_build_kwargs(index_dir: str, overrides: dict) -> dict:
    cfg = load_manifest(index_dir).get("config", {})
    kwargs = {"num_buckets": cfg.get("num_buckets", 32),
              "block_size": cfg.get("block_size", 128),
              "salt_threshold": cfg.get("salt_threshold", 100_000),
              "num_salts": cfg.get("num_salts", 16),
              "language": cfg.get("language", "english"),
              "fields": cfg.get("fields", ["text"])}
    kwargs.update(overrides)
    return kwargs


def append_segment(spark: SparkSession, index_dir: str,
                   transcripts: DataFrame, epoch: int,
                   auto_compact_segments: int | None = AUTO_COMPACT_SEGMENTS,
                   **build_kwargs) -> dict:
    """Build one incremental segment (a full mini-index) whose doc_ids
    start at the current high-water mark. When the committed segment
    count reaches ``auto_compact_segments`` the ⌈n/2⌉ smallest segments
    merge into one (merge_segments): cost is O(merged segment bytes) —
    never a full-corpus job fired implicitly by an append — doc_ids are
    PRESERVED across the merge, and serving stays score-identical
    (the 1e-9 segment-serving guarantee)."""
    _finish_interrupted_merge(index_dir)
    base = high_water_doc_id(index_dir)
    seg = segment_dir(index_dir, epoch)
    kwargs = _inherited_build_kwargs(index_dir, build_kwargs)
    # doc_id_base threads the shift through the build itself, so posting
    # blobs, block min/max metadata and the docs view all live in the same
    # (shifted) id space — tombstones and search hits are interchangeable
    manifest = build_index(spark, transcripts, seg, doc_id_base=base,
                           input_path=f"<stream epoch {epoch}>", **kwargs)
    new_docs = int(manifest["stages"]["docs"]["counters"]["docs"])
    bump_epoch(index_dir, high_water=base + new_docs)
    if (auto_compact_segments is not None
            and len(list_segments(index_dir)) >= auto_compact_segments):
        merge_segments(spark, index_dir)
    return manifest


def streaming_index_writer(spark: SparkSession, index_dir: str,
                           **build_kwargs):
    """foreachBatch sink: each micro-batch becomes one segment.

    Usage:
        q = (stream_df.writeStream
             .foreachBatch(streaming_index_writer(spark, idx_dir))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_segment(spark, index_dir, batch_df, int(epoch_id),
                       **build_kwargs)

    return write_batch


# ---------------------------------------------------------------------------
# tombstones (S5 delete semantics)
# ---------------------------------------------------------------------------

def tombstone_path(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def deleted_df_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deleted_df")


def load_deleted_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    p = deleted_df_path(index_dir)
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p)


def _pending_delta_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deleted_df_pending")


def _delta_frame(spark: SparkSession, index_dir: str,
                 victims: DataFrame, batch_id: str) -> DataFrame:
    """Per-term deleted-df/cf deltas for ``victims``, tagged with the
    delete batch id (replay idempotency key). The scan reads the RAW
    docs union (no tombstone filter — the victims are tombstoned by the
    time this runs, so live_docs would hide exactly the rows whose
    tokens we need)."""
    return (_docs_of(spark, _part_dirs(index_dir))
            .join(victims, "doc_id", "left_semi")
            .select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("term")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"),
                 F.count(F.lit(1)).cast("long").alias("cf"))
            .withColumn("batch", F.lit(batch_id)))


def _replay_pending_deltas(spark: SparkSession, index_dir: str) -> None:
    """Heal a delete batch that crashed between its tombstone append and
    its delta append (advice r6 #3): the per-batch marker written BEFORE
    the tombstones records the victim set; if the batch's deltas never
    landed, write them for the victims that DID get tombstoned, then
    drop the marker. Idempotent: committed batches are recognized by
    their batch tag in deleted_df (read with mergeSchema — merge
    rewrites drop the tag column), and post-compaction markers resolve
    to an empty tombstoned set (physically applied deletes need no
    deltas)."""
    import shutil
    pend = _pending_delta_dir(index_dir)
    if not os.path.isdir(pend):
        return
    for bid in os.listdir(pend):
        bdir = os.path.join(pend, bid)
        if not os.path.isdir(bdir):
            continue
        done = False
        if os.path.isdir(deleted_df_path(index_dir)):
            dd = (spark.read.option("mergeSchema", "true")
                  .parquet(deleted_df_path(index_dir)))
            if "batch" in dd.columns:
                done = dd.where(F.col("batch") == bid).limit(1).count() > 0
        if not done:
            victims_m = spark.read.parquet(bdir)
            tombs = load_tombstones(spark, index_dir)
            if tombs is not None:
                applied = victims_m.join(tombs.select("doc_id")
                                         .dropDuplicates(),
                                         "doc_id", "left_semi")
                if applied.limit(1).count() > 0:
                    (_delta_frame(spark, index_dir, applied, bid)
                     .write.mode("append")
                     .parquet(deleted_df_path(index_dir)))
                    bump_epoch(index_dir)
        shutil.rmtree(bdir, ignore_errors=True)


def _record_tombstones(spark: SparkSession, index_dir: str,
                       victims: DataFrame) -> int:
    """Central S5 delete bookkeeping (round-5): dedupe the victim set
    against existing tombstones, record per-term deleted-df/cf DELTAS
    (one job bounded by the victims' own token counts — their tokens are
    in the docs store, so no posting decode), append the tombstone rows,
    bump the epoch. Serving subtracts the deltas from merged term stats,
    making segmented df/idf EXACT under deletes (scores identical to the
    compacted index at 1e-9 — the round-4 <25% drift bound is retired).
    Returns the number of NEWLY tombstoned docs.

    Crash safety (round 7, advice r6 #3): a per-batch victim MARKER is
    written before the tombstone append; the next mutation replays the
    delta write from it if the crash window between the two appends was
    hit (a bare retry dedupes the victims away and would otherwise
    leave df permanently over-counted until compaction)."""
    import shutil
    import uuid
    _replay_pending_deltas(spark, index_dir)
    victims = victims.select("doc_id").dropDuplicates()
    existing = load_tombstones(spark, index_dir)
    if existing is not None:
        # double-deletes must not double-subtract the deltas
        victims = victims.join(existing, "doc_id", "left_anti")
    victims = victims.persist()
    try:
        n_new = victims.count()
        if n_new == 0:
            return 0
        # marker FIRST, tombstone rows second, deltas third: any crash
        # between the writes is healed by _replay_pending_deltas (the
        # marker holds the victim set; tombstoned-but-delta-less victims
        # get their deltas on the next mutation). The tombstone-before-
        # delta order keeps the unhealed window conservative (df briefly
        # OVER-counted, never under).
        #
        # All writes after the marker use a RE-READ of the marker file,
        # not the `victims` plan: appending to the tombstones path
        # triggers Spark's recacheByPath on every cached plan reading
        # that path — including victims itself (its dedupe anti-joins
        # the tombstones), which silently recomputes to EMPTY against
        # the new file list. The round-6 code hit exactly that on every
        # delete batch after the first (empty delta appends → df
        # over-count); pinned by test_round7_delete_marker.
        bid = uuid.uuid4().hex
        bdir = os.path.join(_pending_delta_dir(index_dir), bid)
        victims.write.mode("overwrite").parquet(bdir)
        stable = spark.read.parquet(bdir)
        stable.write.mode("append").parquet(tombstone_path(index_dir))
        (_delta_frame(spark, index_dir, stable, bid)
         .write.mode("append").parquet(deleted_df_path(index_dir)))
        shutil.rmtree(bdir, ignore_errors=True)
        bump_epoch(index_dir)
        return n_new
    finally:
        victims.unpersist()


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> None:
    """Record deletes; applied as an anti-join at query time and made
    physical at compaction (delete-vector model). Per-term df deltas are
    recorded at delete time so segmented serving stays df-exact."""
    df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    _record_tombstones(spark, index_dir, df)


def upsert_documents(spark: SparkSession, index_dir: str,
                     transcripts: DataFrame, epoch: int,
                     **build_kwargs) -> dict:
    """S2/S4 per-document MERGE: tombstone every live doc whose
    (conv_id, turn_idx) identity matches an incoming row, then append the
    batch as a new segment — the delete-vector equivalent of the
    reference's per-id REPLACE upsert (src/Storage/SqliteStorage.php:
    359-763). Returns {"replaced": n, "inserted": m, "manifest": ...}."""
    keys = transcripts.select("conv_id", "turn_idx").dropDuplicates()
    victims = (live_docs(spark, index_dir)
               .join(keys, ["conv_id", "turn_idx"], "left_semi")
               .select("doc_id"))
    n_replaced = _record_tombstones(spark, index_dir, victims)
    manifest = append_segment(spark, index_dir, transcripts, epoch,
                              **build_kwargs)
    return {"replaced": n_replaced,
            "inserted": int(manifest["stages"]["docs"]["counters"]["docs"]),
            "manifest": manifest}


def delete_by_conv_prefix(spark: SparkSession, index_dir: str,
                          prefix: str) -> int:
    """S6 deleteByIdPrefix analog: tombstone every doc whose conv_id starts
    with prefix (reference: src/Storage/SqliteStorage.php:775-856).
    Returns the number of tombstoned docs."""
    victims = (live_docs(spark, index_dir)
               .where(F.col("conv_id").startswith(prefix))
               .select("doc_id"))
    return _record_tombstones(spark, index_dir, victims)


def load_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    p = tombstone_path(index_dir)
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p)


# ---------------------------------------------------------------------------
# segment-aware view + compaction
# ---------------------------------------------------------------------------

def _part_dirs(index_dir: str) -> list[str]:
    """The base index directory and its committed segments'."""
    return [index_dir] + [segment_dir(index_dir, e)
                          for e in list_segments(index_dir)]


def _docs_of(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Union of the docs relations of index part directories (no job)."""
    out = None
    for p in dirs:
        dd = load_docs(spark, p, load_manifest(p))
        out = dd if out is None else out.unionByName(dd)
    return out


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Live documents of base + segments: the union of the parts' docs
    relations minus tombstones. Builds a plan and runs no job — the
    input of upsert victim lookup, prefix deletes and compaction."""
    docs = _docs_of(spark, _part_dirs(index_dir))
    tomb = load_tombstones(spark, index_dir)
    return docs if tomb is None else docs.join(tomb, "doc_id", "left_anti")


def _override_rows(batches):
    """mapInArrow kernel of the tombstone overrides: (term, min_doc,
    data) block rows → one (term, min_doc, doc_id, tf, doc_len) row per
    posting, decoded by the serving routes' batch kernel
    (query._decode_blocks), so a corrupt block raises the same
    ValueError naming its term."""
    import numpy as np
    import pyarrow as pa

    from .query import _decode_blocks, _posting_columns, _rows_of

    for batch in batches:
        if batch.num_rows == 0:
            continue
        col = batch.schema.get_field_index
        terms = batch.column(col("term"))
        out = _decode_blocks(batch.column(col("data")), False, terms)
        if out[1].size == 0:
            continue
        idx = pa.array(np.repeat(np.arange(batch.num_rows, dtype=np.int64),
                                 out[0]))
        yield pa.record_batch(
            [terms.take(idx), batch.column(col("min_doc")).take(idx)]
            + _posting_columns(_rows_of(out, False)),
            names=["term", "min_doc", "doc_id", "tf", "doc_len"])


class GlobalSegmentedIndex(SearchIndex):
    """Serving view over base + committed segments minus tombstones with
    EXACT GLOBAL BM25 statistics: one logical SearchIndex whose postings
    and docs relations are the UNION of the parts' parquet relations, so
    df / n_docs / avgdl / phrase-df all compute over the whole corpus —
    an append-only workload scores IDENTICALLY to the compacted index
    (tests assert it to 1e-9). This is strictly stronger than the
    reference's multi-index merge (per-index stats,
    src/Storage/SqliteStorage.php:1574-1628).

    Deletes: tombstoned docs are hidden immediately (docs anti-join +
    match anti-join) and the corpus stats (n_docs, avgdl) are corrected
    by one tiny aggregate at view construction; only their residual
    term-df contributions persist until compaction (their postings are
    inside encoded blocks) — the Lucene delete-vector semantics.

    Construction is file-path based and cheap (no data jobs except the
    optional tombstone-stat correction); Engine rebuilds the view when
    the index epoch moves."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_postings: bool = True, cache_docs: bool = True):
        # deliberately NOT calling SearchIndex.__init__ — the relations
        # come from the union of parts instead of one directory
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_manifest(index_dir)
        cfg = self.manifest.get("config", {})
        self.num_buckets = int(cfg.get("num_buckets", 32))
        self.fields = list(cfg.get("fields", ["text"]))

        part_dirs = _part_dirs(index_dir)
        postings = docs = term_stats = None
        for p in part_dirs:
            m = load_manifest(p)
            # each part's stored block_max_norm was computed at ITS build
            # avgdl — tag the rows so _block_meta can scale the WAND
            # bounds to the serving avgdl (bm25_norm ratio is bounded by
            # the avgdl ratio; see SearchIndex._block_meta)
            part_avgdl = float(m.get("stages", {}).get("stats", {})
                               .get("counters", {}).get("avgdl") or 1.0)
            pp = (spark.read.parquet(os.path.join(p, "postings"))
                  .withColumn("_part_avgdl", F.lit(part_avgdl)))
            postings = pp if postings is None else postings.unionByName(pp)
            dd = load_docs(spark, p, m)
            docs = dd if docs is None else docs.unionByName(dd)
            ts = spark.read.parquet(os.path.join(p, "term_stats"))
            term_stats = ts if term_stats is None \
                else term_stats.unionByName(ts)
        # ONE job for every part's corpus stats (a per-part collect loop
        # ran #segments sequential driver jobs per epoch bump — linear
        # view-construction latency in segment count)
        gs = (spark.read.parquet(*[os.path.join(p, "global_stats")
                                   for p in part_dirs])
              .agg(F.sum("n_docs").alias("n"),
                   F.sum(F.col("avgdl") * F.col("n_docs")).alias("toks"))
              .collect()[0])
        n_docs = int(gs["n"] or 0)
        tok_total = float(gs["toks"] or 0.0)

        self._tomb = load_tombstones(spark, index_dir)
        self._docs_raw = docs  # pre-anti-join view (victims' tokens feed
        # the WAND block-max override recomputation)
        self._n_tombstoned = 0
        if self._tomb is not None:
            # correct the corpus stats for hidden docs (ONE tiny agg at
            # construction; FTS5 updates its stats on delete too)
            row = (docs.join(self._tomb, "doc_id", "left_semi")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("doc_len").alias("toks")).collect()[0])
            n_docs -= int(row["n"])
            tok_total -= float(row["toks"] or 0.0)
            self._n_tombstoned = int(row["n"])
            docs = docs.join(self._tomb, "doc_id", "left_anti")

        self.n_docs = n_docs
        self.avgdl = (tok_total / n_docs) if n_docs else 1.0
        self._postings = postings
        self._term_stats = (term_stats.groupBy("bucket", "term")
                            .agg(F.sum("df").cast("long").alias("df"),
                                 F.sum("cf").cast("long").alias("cf")))
        # per-term deleted-df deltas (recorded at tombstone time,
        # _record_tombstones): subtracting them makes df/cf EXACT under
        # deletes — idf, vocabulary and the corrector all see compacted-
        # identical stats. Fully-deleted terms leave the vocabulary.
        deltas = load_deleted_df(spark, index_dir)
        if deltas is not None:
            agg = deltas.groupBy("term").agg(F.sum("df").alias("_ddf"),
                                             F.sum("cf").alias("_dcf"))
            self._term_stats = (
                self._term_stats.join(agg, "term", "left")
                .select("bucket", "term",
                        F.greatest(F.col("df") - F.coalesce("_ddf", F.lit(0)),
                                   F.lit(0)).cast("long").alias("df"),
                        F.greatest(F.col("cf") - F.coalesce("_dcf", F.lit(0)),
                                   F.lit(0)).cast("long").alias("cf"))
                .where(F.col("df") > 0))
        self._docs = docs.persist() if cache_docs else docs
        self._docs_cached = cache_docs
        self._init_caches(cache_postings)
        # everything else (scoring, caches, prepared plans, release/close)
        # is inherited SearchIndex behavior over the union relations

    # No match_scores override: tombstones are filtered at DECODE level
    # (SearchIndex._decoded_for_term/_decoded_for_prefix anti-join
    # self._tomb before the frames are cached), so every downstream
    # table — phrase dfs, NEAR trims, scoring, counts — is delete-exact
    # with zero per-query plan nodes. Together with the deleted-df
    # deltas above, a tombstoned view scores identically to the
    # compacted index at 1e-9 (test_lifecycle pins it).

    def _wand_block_overrides(self):
        """(term, min_doc, bmax) recomputed over SURVIVING docs at the
        serving avgdl, for every block holding ≥1 tombstoned posting —
        restores sound WAND bounds under deletes without a rewrite
        (round-4 verdict: tombstoned views used to hard-route to the
        exact path). Cost is bounded by the deleted docs' postings: the
        victims' own stored tokens name the affected (term, block-range)
        pairs, and only those blocks are decoded. Lazy; cached per view
        (deletes bump the epoch, and the engine rebuilds the view)."""
        if self._tomb is None:
            return None
        cached = getattr(self, "_overrides_df", None)
        if cached is not None:
            return cached
        from .postings import BM25_B, BM25_K1

        vic_terms = (self._docs_raw.join(self._tomb, "doc_id", "left_semi")
                     .select("doc_id", F.explode("tokens").alias("term"))
                     .dropDuplicates())
        meta = self._postings.select("term", "min_doc", "max_doc")
        affected = (meta.join(
            F.broadcast(vic_terms.withColumnRenamed("term", "_vt")),
            (F.col("term") == F.col("_vt"))
            & F.col("doc_id").between(F.col("min_doc"), F.col("max_doc")),
            "left_semi").select("term", "min_doc").dropDuplicates())
        scan = (self._postings
                .join(F.broadcast(affected), ["term", "min_doc"],
                      "left_semi")
                .select("term", "min_doc", "data"))

        rows = scan.mapInArrow(
            _override_rows,
            "term string, min_doc long, doc_id long, tf int, doc_len int")
        rows = rows.join(self._tomb.select("doc_id"), "doc_id", "left_anti")
        tf = F.col("tf").cast("double")
        norm = (tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B
                                   + BM25_B * F.col("doc_len").cast("double")
                                   / float(self.avgdl))))
        surv = rows.groupBy("term", "min_doc").agg(F.max(norm).alias("bmax"))
        # blocks whose every doc is tombstoned must override to 0 (their
        # stored max is attained only by hidden docs) — start from the
        # affected set and coalesce
        self._overrides_df = (
            affected.join(surv, ["term", "min_doc"], "left")
            .select("term", "min_doc",
                    F.coalesce("bmax", F.lit(0.0)).alias("bmax"))
            .persist())
        return self._overrides_df

    def _block_meta(self, buckets, terms):
        """WAND phase-1 metadata over the union view: per-part avgdl
        scaling keeps [lb, ub] sound when the serving avgdl differs from
        a part's build avgdl (norm ratio is bounded by the avgdl ratio),
        and tombstone-affected blocks take their recomputed serving-space
        maxima (lb == ub == exact surviving max)."""
        r = F.lit(float(self.avgdl)) / F.col("_part_avgdl")
        m = (self._postings
             .where(F.col("bucket").isin(list(buckets)))
             .where(F.col("term").isin(list(terms)))
             .select("term", "min_doc", "max_doc", "n_docs",
                     (F.col("block_max_norm")
                      * F.least(r, F.lit(1.0))).alias("bmax_lb"),
                     (F.col("block_max_norm")
                      * F.greatest(r, F.lit(1.0))).alias("bmax_ub")))
        ov = self._wand_block_overrides()
        if ov is not None:
            m = (m.join(F.broadcast(ov.withColumnRenamed("bmax", "_ov")),
                        ["term", "min_doc"], "left")
                 .select("term", "min_doc", "max_doc", "n_docs",
                         F.coalesce("_ov", F.col("bmax_lb")).alias("bmax_lb"),
                         F.coalesce("_ov", F.col("bmax_ub")).alias("bmax_ub")))
        return m

    def close(self) -> None:
        ov = getattr(self, "_overrides_df", None)
        if ov is not None:
            ov.unpersist()
            self._overrides_df = None
        super().close()


def _complete_merge_commit(index_dir: str, merged_ep: int,
                           info: dict) -> None:
    """Post-rename steps of a merge commit, replayable from the marker
    (idempotent — runs on the happy path AND from crash recovery, any
    number of times):

      1. swap the rewritten tombstone / deleted-df tables into place
         (or drop them when no victims survive) — BEFORE the source
         segments go away, so no observable state ever has the merged
         segment (victims physically applied) coexisting with the OLD
         delta table (df would double-subtract; round-5 advice).
      2. remove the source segments.
      3. bump the epoch, ratcheting high_water captured PRE-merge — a
         physical tombstone apply shrinks the summed doc count, and
         without the ratchet the next append could re-allocate doc_ids
         still held by live docs (round-5 advice).
      4. drop the marker (the commit is now fully applied).

    Idempotency: step 1 keys on the .rewrite side dirs still existing;
    steps 2/4 are existence-guarded; step 3 may double-bump on replay
    (epoch is a monotonic counter — harmless)."""
    import shutil

    tomb_tmp = tombstone_path(index_dir) + ".rewrite"
    dd_tmp = deleted_df_path(index_dir) + ".rewrite"
    if info.get("tomb_rewrite"):
        if int(info.get("n_rem", 0)):
            if os.path.isdir(tomb_tmp):
                shutil.rmtree(tombstone_path(index_dir), ignore_errors=True)
                os.replace(tomb_tmp, tombstone_path(index_dir))
            if os.path.isdir(dd_tmp):
                shutil.rmtree(deleted_df_path(index_dir), ignore_errors=True)
                os.replace(dd_tmp, deleted_df_path(index_dir))
        else:
            shutil.rmtree(tombstone_path(index_dir), ignore_errors=True)
            shutil.rmtree(deleted_df_path(index_dir), ignore_errors=True)
    for s in info.get("sources", []):
        if s != merged_ep:
            shutil.rmtree(segment_dir(index_dir, s), ignore_errors=True)
    hw = info.get("high_water")
    bump_epoch(index_dir, high_water=int(hw) if hw is not None else None)
    marker = os.path.join(segment_dir(index_dir, merged_ep),
                          "merge_sources.json")
    if os.path.exists(marker):
        os.remove(marker)


def _finish_interrupted_merge(index_dir: str) -> None:
    """Crash recovery for merge_segments: the merge commits by renaming
    the built segment in; everything after the rename (tombstone/delta
    table swap, source removal, epoch bump) is recorded in the
    merge_sources.json marker and replayed here via
    _complete_merge_commit. A kill anywhere in that window recovers to
    the fully-committed state. Called from mutation paths (append/
    merge), never from read helpers (round-4 advice: no fs mutation in
    read helpers)."""
    import json

    for ep in list_segments(index_dir):
        marker = os.path.join(segment_dir(index_dir, ep),
                              "merge_sources.json")
        if os.path.exists(marker):
            with open(marker) as f:
                info = json.load(f)
            _complete_merge_commit(index_dir, ep, info)


def merge_segments(spark: SparkSession, index_dir: str,
                   epochs: list[int] | None = None) -> dict:
    """Tiered (leveled) compaction: merge a SUBSET of segments into one
    new segment — an O(merged-segment-bytes) job that leaves the base
    index and the other segments untouched. This is the scale-safe
    auto-compaction unit (round-4 verdict: the old trigger fired a
    full-corpus rewrite); a full rewrite happens only on explicit
    optimize (compact/compact_in_place).

    doc_ids are PRESERVED (build with preserve_doc_ids=True), so caller-
    held ids, tombstones and search hits all stay valid across the
    merge. Tombstones falling inside the merged segments are applied
    physically; the tombstone table and the deleted-df delta table are
    rewritten from the surviving victims, so serving stats stay exact.

    ``epochs``: segments to merge; default picks the ⌈n/2⌉ smallest by
    doc count (tiered policy: small segments merge often and cheaply,
    big ones rarely). Returns the new segment's manifest ({} when fewer
    than two inputs)."""
    import json
    import shutil

    _finish_interrupted_merge(index_dir)
    # settle crashed delete batches first: the rewrite below drops the
    # deltas' batch tags, and a marker left behind would then replay its
    # (already applied) deltas a second time
    _replay_pending_deltas(spark, index_dir)
    segs = list_segments(index_dir)
    if epochs is None:
        by_size = sorted(segs, key=lambda e: _doc_count(
            load_manifest(segment_dir(index_dir, e))))
        epochs = by_size[: max(2, -(-len(segs) // 2))] if len(segs) >= 2 \
            else []
    epochs = sorted(e for e in set(epochs) if e in segs)
    if len(epochs) < 2:
        return {}
    # allocated-id ceiling BEFORE anything changes: the merge physically
    # drops tombstoned docs, shrinking the summed count below the ids
    # already handed out — the ratchet (committed below via the marker)
    # keeps append_segment from re-allocating a live id
    hw = high_water_doc_id(index_dir)

    # merged segments live in their own epoch-number range: naming the
    # result max(epochs)+1 COLLIDED with the caller's next streaming
    # batch id — append_segment would resume into the existing merged
    # dir and silently drop that batch (found by a tiered-compaction
    # benchmark run; pinned in test_tiered_merge). Batch ids replaying the same epoch
    # must keep resuming (exactly-once), so the fix is a disjoint range,
    # not collision remapping.
    new_ep = max(max(segs) + 1, MERGED_EPOCH_BASE)

    docs_raw = _docs_of(spark, [segment_dir(index_dir, e) for e in epochs])
    tomb = load_tombstones(spark, index_dir)
    docs = docs_raw if tomb is None \
        else docs_raw.join(tomb, "doc_id", "left_anti")

    out = segment_dir(index_dir, new_ep)
    tmp = out + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    manifest = build_index(spark, docs, tmp, preserve_doc_ids=True,
                           input_path=f"<merge of segments {epochs}>",
                           resume=False,
                           **_inherited_build_kwargs(index_dir, {}))

    n_rem = 0
    tomb_tmp = tombstone_path(index_dir) + ".rewrite"
    dd_tmp = deleted_df_path(index_dir) + ".rewrite"
    if tomb is not None:
        # victims inside the merged segments are now physically applied:
        # rewrite tombstones + deltas from the survivors, materialized to
        # side dirs BEFORE the sources they read from disappear
        remaining = (tomb.dropDuplicates(["doc_id"])
                     .join(docs_raw, "doc_id", "left_anti").persist())
        n_rem = remaining.count()
        shutil.rmtree(tomb_tmp, ignore_errors=True)
        shutil.rmtree(dd_tmp, ignore_errors=True)
        if n_rem:
            # raw union incl. victims (delta tokens)
            all_docs = _docs_of(spark, [index_dir] + [
                segment_dir(index_dir, e) for e in segs])
            remaining.write.parquet(tomb_tmp)
            (all_docs.join(remaining, "doc_id", "left_semi")
             .select("doc_id", F.explode("tokens").alias("term"))
             .groupBy("term")
             .agg(F.countDistinct("doc_id").cast("long").alias("df"),
                  F.count(F.lit(1)).cast("long").alias("cf"))
             .write.parquet(dd_tmp))
        remaining.unpersist()

    # commit: the marker records EVERY post-rename step (tombstone/delta
    # swap, sources, pre-merge high_water), so a crash anywhere after the
    # rename replays to the fully-committed state via
    # _finish_interrupted_merge → _complete_merge_commit. The rename IS
    # the commit point.
    info = {"sources": epochs, "tomb_rewrite": tomb is not None,
            "n_rem": int(n_rem), "high_water": int(hw)}
    with open(os.path.join(tmp, "merge_sources.json"), "w") as f:
        json.dump(info, f)
    os.replace(tmp, out)
    _complete_merge_commit(index_dir, new_ep, info)
    # the swaps bypassed Spark's write path — drop stale file listings
    # and cached relations for the whole subtree
    spark.catalog.refreshByPath(index_dir)
    return manifest


def compact(spark: SparkSession, index_dir: str, out_dir: str,
            **build_kwargs) -> dict:
    """S9 'optimize': rebuild ONE index from base+segments minus
    tombstones. Returns the new manifest. Inherits the base index's FULL
    build config (fields, language, block_size, salting — a custom
    block_size must survive its own compaction or the WAND block
    geometry silently changes).

    doc_ids are REASSIGNED (dense, in (conv_id, turn_idx) order) — ids
    held across a compaction are invalid; resolve deletes/lookups
    against the live view at call time (the engine and
    upsert/delete_by_conv_prefix do)."""
    docs = live_docs(spark, index_dir)
    cfg = load_manifest(index_dir).get("config", {})
    fields = cfg.get("fields", ["text"])
    # keep every original column except build artifacts
    drop = {"doc_id", "tokens", "doc_len", "field_lens", "_pid", "_ord"}
    present = [c for c in docs.columns if c not in drop]
    # fields and identity must survive; anything else rides along
    assert all(f in present for f in fields), (fields, present)
    kwargs = {"num_buckets": cfg.get("num_buckets", 32),
              "block_size": cfg.get("block_size", 128),
              "salt_threshold": cfg.get("salt_threshold", 100_000),
              "num_salts": cfg.get("num_salts", 16),
              "language": cfg.get("language", "english"),
              "fields": fields}
    kwargs.update(build_kwargs)
    return build_index(spark, docs.select(*present), out_dir,
                       input_path=f"<compaction of {index_dir}>", **kwargs)


def compact_in_place(spark: SparkSession, index_dir: str,
                     **build_kwargs) -> dict:
    """Compact base+segments−tombstones and atomically swap the result
    into ``index_dir``. The manifest epoch keeps rising across the swap
    (epoch-keyed serving caches must never see an epoch value repeat —
    a reset-to-zero epoch would let stale K1 pages collide with the
    compacted index). On a shared cluster the swap would go through a
    catalog pointer with old files retained until readers drain; in this
    single-process layout the old directory is replaced directly and
    in-flight readers are the caller's responsibility (Engine re-resolves
    on the epoch bump)."""
    import json
    import shutil

    old_epoch = index_epoch(index_dir)
    tmp = index_dir.rstrip("/") + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = compact(spark, index_dir, tmp, **build_kwargs)

    manifest["epoch"] = old_epoch + 1
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)

    old = index_dir.rstrip("/") + ".pre_compact"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(index_dir, old)
    os.replace(tmp, index_dir)
    shutil.rmtree(old)
    # the swap bypassed Spark's write path, so the session still holds
    # file listings AND cached (persisted) relations for the old files
    # under this same path — a new reader's scan could canonically match
    # a stale cached plan and be served pre-compaction data without ever
    # touching disk. refreshByPath drops both for the subtree.
    spark.catalog.refreshByPath(index_dir)
    return manifest
