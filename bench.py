#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Measures (a) the headline operator queries over $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and (b) the real inverted-index build +
BM25 query path over a deterministic synthetic transcript corpus
(BENCH_TURNS turns, default 200k), on local[$SPARK_GRAFT_CPUS].

Output: {"metric": ..., "value": <total headline seconds>, "unit": "sec",
         "queries": {name: sec}, "sf": ..., plus build/query throughput
         extras used by BENCH/BASELINE.md}.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = (os.path.dirname(os.path.abspath(__file__))
                            + os.pathsep + os.environ.get("PYTHONPATH", ""))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TURNS = int(os.environ.get("BENCH_TURNS", "1000000"))
WORK_DIR = os.environ.get("BENCH_WORK_DIR", "/tmp/yetisearch_bench")


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{CPUS}]")
        .appName("yetisearch-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # let AQE coalesce the output partitioning of persisted frames —
        # the serving path pins decoded postings/match tables, and without
        # this the cached scoring shuffles keep CPUS-wide tiny partitions
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from yetisearch_spark.corpus import write_corpus_parquet
    from yetisearch_spark.build import build_index
    from yetisearch_spark.query import SearchIndex

    timings: dict[str, float] = {}

    # JVM/codegen warmup so the first timed query isn't charged for it
    # (the later headline queries run against an already-warm JVM, so
    # warming scan+explode+agg+sort paths keeps the comparison fair)
    from pyspark.sql import functions as F
    warm = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    warm.count()
    (warm.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t"))
     .groupBy("t").count().orderBy(F.desc("count")).limit(5).collect())

    # -- headline operator queries over the sf tables -----------------------
    headline = ["bm25_topk", "term_stats", "phrase_count", "dedup_rollup",
                "filter_ops", "events_window", "exact_dedup", "token_count",
                "ann_cosine_topk", "tpch_q1"]
    qs = entry_mod.queries()
    for name in headline:
        t0 = time.time()
        qs[name](spark, SF_DIR).collect()
        timings[name] = round(time.time() - t0, 4)

    # -- index build throughput over synthetic transcripts ------------------
    corpus_dir = os.path.join(WORK_DIR, f"corpus_{BENCH_TURNS}")
    if not os.path.exists(os.path.join(corpus_dir, "_DONE")):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        write_corpus_parquet(corpus_dir, BENCH_TURNS, seed=42)
        open(os.path.join(corpus_dir, "_DONE"), "w").write("ok")
    index_dir = os.path.join(WORK_DIR, f"index_{BENCH_TURNS}_{CPUS}")
    shutil.rmtree(index_dir, ignore_errors=True)

    transcripts = spark.read.parquet(corpus_dir)
    t0 = time.time()
    build_index(spark, transcripts, index_dir, input_path=corpus_dir,
                shuffle_partitions=max(CPUS, 8))
    build_s = time.time() - t0
    timings["index_build"] = round(build_s, 4)
    turns_per_sec = BENCH_TURNS / build_s

    # -- BM25 query latency over the built index ----------------------------
    # Serving-grade measurement: the engine pins decoded postings + match
    # tables (hot cache), so each query runs once cold (reported as
    # *_cold aggregate) and three times hot (median reported) — the
    # reference numbers are hot single-process latencies too.
    # serving mode for the query benchmarks: AQE off (its per-exchange
    # re-planning rounds dominate hot sub-100ms queries; builds above ran
    # with AQE on). Remaining builds below use explicit repartitioning
    # and are unaffected.
    from yetisearch_spark.query import configure_serving
    configure_serving(spark)
    idx = SearchIndex(spark, index_dir)
    # replica bootstrap (untimed, like index construction itself): warm()
    # materializes the pinned doc store so the first docs-joining query —
    # the fuzzy page below — doesn't absorb the one-time cache fill. The
    # *query-specific* cold work (per-term decode fills) stays inside the
    # timed cold legs.
    t0 = time.time()
    idx.warm()
    # round-6 order 6: the prefill IS the replica bring-up cost — record
    # it as its own leg (linear in head-term df; at 100× the lever is a
    # partition-parallel fill, see warm() docstring / BENCH §16)
    timings["warm_bootstrap"] = round(time.time() - t0, 4)
    bench_queries = {
        "engine_single": "search",
        "engine_and": "data AND process",
        "engine_or": "error OR fail OR bug",
        "engine_phrase": '"data process"',
        "engine_near": 'NEAR("search" "index", 10)',
        "engine_prefix": "comput*",
    }
    q_lat = []
    cold_total = 0.0
    for name, q in bench_queries.items():
        t0 = time.time()
        idx.search(q, k=10).collect()
        cold_total += time.time() - t0
        runs = []
        for _ in range(3):
            t0 = time.time()
            idx.search(q, k=10).collect()
            runs.append(time.time() - t0)
        dt = sorted(runs)[1]
        timings[name] = round(dt, 4)
        q_lat.append(dt)

    # multi-field build + per-field-weighted query (FTS5 bm25(fts, w…))
    mf_dir = os.path.join(WORK_DIR, f"index_mf_{BENCH_TURNS}_{CPUS}")
    shutil.rmtree(mf_dir, ignore_errors=True)
    from pyspark.sql import functions as F
    mf_transcripts = transcripts.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"),
                                          1, 4)))
    t0 = time.time()
    build_index(spark, mf_transcripts, mf_dir, input_path=corpus_dir,
                fields=["title", "text"], shuffle_partitions=max(CPUS, 8))
    mf_build_s = time.time() - t0
    timings["index_build_multifield"] = round(mf_build_s, 4)
    mf_idx = SearchIndex(spark, mf_dir)
    mf_idx.search("data AND process", k=10,
                  weights={"title": 2.5}).collect()
    runs = []
    for _ in range(3):
        t0 = time.time()
        mf_idx.search("data AND process", k=10,
                      weights={"title": 2.5}).collect()
        runs.append(time.time() - t0)
    timings["engine_weighted_and"] = round(sorted(runs)[1], 4)

    # block-max pruned serving path THROUGH THE FACADE (round 5: the
    # cost gate lives inside SearchIndex.search — this measures the
    # user-visible route, gate decision included)
    from yetisearch_spark.wand import pruned_topk
    idx.search("search AND data", k=10).collect()
    runs = []
    for _ in range(3):
        t0 = time.time()
        idx.search("search AND data", k=10).collect()
        runs.append(time.time() - t0)
    timings["engine_pruned_and"] = round(sorted(runs)[1], 4)

    # -- skewed-corpus leg: where block-max pruning actually wins ------------
    # Every doc carries head term "zzhead" once; every ~5000th doc carries
    # it 32× (an adversarial block-max spike), and a clustered rare term
    # "zzrare" marks the first ~2k docs. Cold-path timings (no pinned
    # caches — the 10^12-doc serving regime where nothing fits in cache):
    # the exact path must scan+decode the full 1M-posting head list; the
    # pruned path decodes only blocks that can reach the top-k (single:
    # block_max ≥ θ; AND: blocks overlapping the rare term's ranges).
    skew_corpus = os.path.join(WORK_DIR, f"skew_corpus_{BENCH_TURNS}")
    if not os.path.exists(os.path.join(skew_corpus, "_DONE")):
        shutil.rmtree(skew_corpus, ignore_errors=True)
        spike = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(5000)) == 0
        # clustered rare term: the first ~200 conversations (doc_ids are
        # dense in (conv_id, turn_idx) order, so these are contiguous)
        rare = (F.element_at(F.split(F.col("conv_id"), "_"), -1)
                .cast("long") < 200)
        (transcripts.withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" zzhead"),
                     F.when(spike, F.lit(" zzhead" * 31)).otherwise(F.lit("")),
                     F.when(rare, F.lit(" zzrare")).otherwise(F.lit(""))))
         .write.mode("overwrite").parquet(skew_corpus))
        open(os.path.join(skew_corpus, "_DONE"), "w").write("ok")
    skew_idx_dir = os.path.join(WORK_DIR, f"skew_index_{BENCH_TURNS}_{CPUS}")
    if not os.path.exists(os.path.join(skew_idx_dir, "_BENCH_DONE")):
        shutil.rmtree(skew_idx_dir, ignore_errors=True)
        # block_size=64 → the 1M-df head term has ~15.6k blocks, above the
        # pruned-path cost gate (pruning engages on the default route)
        build_index(spark, spark.read.parquet(skew_corpus), skew_idx_dir,
                    input_path=skew_corpus, block_size=64,
                    shuffle_partitions=max(CPUS, 8))
        open(os.path.join(skew_idx_dir, "_BENCH_DONE"), "w").write("ok")

    # cache_postings=False → every timed run re-scans + re-decodes its
    # posting blocks (the cold data path); vocab/global stats are warmed
    # outside the timing so both paths measure pure query work.
    skew_idx = SearchIndex(spark, skew_idx_dir,
                           cache_postings=False, cache_docs=False)
    # the _exact legs are the unpruned BASELINE — pin the facade route
    # off for this handle (round 5 made SearchIndex.search gate-routed,
    # and the 15.6k-block head term would engage pruning by default)
    skew_idx.pruned_gate_blocks = -1
    skew_idx.term_stats_for(["zzhead", "zzrare"])
    # facade handle: DEFAULT gate — measures that a plain
    # SearchIndex.search user gets the pruned tier on head terms with no
    # knobs (the round-5 wiring; reference analog: FTS5 top-k pruning is
    # always on under ORDER BY rank LIMIT)
    facade_idx = SearchIndex(spark, skew_idx_dir,
                             cache_postings=False, cache_docs=False)
    facade_idx.term_stats_for(["zzhead", "zzrare"])

    def _cold_median(fn, n=3):
        # release each run's persisted match tables: a phrase/NEAR run
        # persists its positional match table, and the NEXT run's
        # identical plan would be served from Spark's CacheManager by
        # canonical-plan matching (even across SearchIndex instances) —
        # silently turning a cold leg into a warm one. True cold cost
        # every run.
        runs = []
        for _ in range(n):
            t0 = time.time()
            out = fn(skew_idx)
            out.collect()
            runs.append(time.time() - t0)
            # every Route's handles are in its index's handle registry
            for ix in (skew_idx, facade_idx):
                for g in list(ix._handle_groups):
                    ix.release(g)
        return sorted(runs)[n // 2]

    # gate_blocks=0: this leg measures the pruning win itself (at the
    # default 1M-turn corpus the default gate picks pruning here anyway;
    # the standard engine_pruned_and leg above measures the gate routing)
    skew_queries = {"wand_skew_single": "zzhead",
                    "wand_skew_and": "zzhead AND zzrare",
                    # round 5: phrase/NEAR prune on the rarest
                    # constituent's blocks — the exact path must decode
                    # the 1M-posting head term WITH positions
                    "wand_skew_phrase": '"zzhead zzrare"',
                    "wand_skew_near": 'NEAR("zzrare" "zzhead", 3)'}
    for name, q in skew_queries.items():
        # positional exact legs decode the full head-term positions —
        # tens of seconds true-cold; one run is the honest number
        n_exact = 1 if name in ("wand_skew_phrase", "wand_skew_near") else 3
        timings[f"{name}_exact"] = round(_cold_median(
            lambda ix, q=q: ix.search(q, k=10), n=n_exact), 4)
        timings[f"{name}_pruned"] = round(_cold_median(
            lambda ix, q=q: pruned_topk(ix, q, k=10, gate_blocks=0)), 4)
        timings[f"{name}_facade"] = round(_cold_median(
            lambda ix, q=q: facade_idx.search(q, k=10)), 4)

    # round 6: field-weighted phrase through the pruned tier. The
    # phrase's pruned frame is the complete match set with positions, so
    # per-field-weighted rescoring over it is exact — the exact path
    # must decode the 1M-posting head term WITH positions just to score
    # a reweighted page. (Single-field index: wvec applies inside the
    # BM25 tf saturation, a real FTS5 bm25(fts, w) semantic.)
    timings["wand_skew_phrase_weighted_exact"] = round(_cold_median(
        lambda ix: ix.search('"zzhead zzrare"', k=10, weights=(2.0,)),
        n=1), 4)
    timings["wand_skew_phrase_weighted_facade"] = round(_cold_median(
        lambda ix: facade_idx.search('"zzhead zzrare"', k=10,
                                     weights=(2.0,))), 4)
    # weighted AND: the AND-rule frame is complete too — decoded WITH
    # positions for the weighted tally, still bounded by the rare
    # term's ranges; the exact path pays the full positional head decode
    timings["wand_skew_and_weighted_exact"] = round(_cold_median(
        lambda ix: ix.search("zzhead AND zzrare", k=10, weights=(2.0,)),
        n=1), 4)
    timings["wand_skew_and_weighted_facade"] = round(_cold_median(
        lambda ix: facade_idx.search("zzhead AND zzrare", k=10,
                                     weights=(2.0,))), 4)
    # weighted single via WEIGHT-SCALED bounds (gentle boost — the
    # common case): θ from lb·min(1,w_min), pruning on ub·max(1,w_max)
    timings["wand_skew_single_weighted_exact"] = round(_cold_median(
        lambda ix: ix.search("zzhead", k=10, weights=(1.2,)), n=1), 4)
    timings["wand_skew_single_weighted_facade"] = round(_cold_median(
        lambda ix: facade_idx.search("zzhead", k=10, weights=(1.2,))), 4)

    # round 6: filtered search through the pruned tier (iterative
    # deepening — unfiltered pruned top-4k ∩ filter, exact by the
    # total-order argument in _filtered_pruned_page). The exact leg
    # scores the full 1M-posting head list, then filters.
    _filt = {"role": "user"}
    timings["wand_skew_filtered_exact"] = round(_cold_median(
        lambda ix: ix.search("zzhead", k=10, filters=_filt)), 4)
    timings["wand_skew_filtered_facade"] = round(_cold_median(
        lambda ix: facade_idx.search("zzhead", k=10, filters=_filt)), 4)

    # combined-fuzzy (M7) shape through the weighted-OR rule: phrase +
    # NEAR + bare terms in one OR. Replica scenario: stats/df metadata
    # synced (the standalone phrase df is seeded once, untimed), block
    # data cold — the regime where the rule pays.
    from yetisearch_spark.query import parse_query as _pq
    wor_q = ('"zzhead zzrare" OR NEAR("zzrare" "zzhead", 3) '
             'OR "zzrare" OR "zzhead"')
    ph_node = _pq('"zzhead zzrare"')
    ph_df = skew_idx._phrase_match(ph_node).count()
    for ix in (skew_idx, facade_idx):
        ix._df_count_cache[("ph", ph_node.terms)] = ph_df
    timings["wand_skew_wor_exact"] = round(_cold_median(
        lambda ix: ix.search(wor_q, k=10), n=1), 4)
    timings["wand_skew_wor_pruned"] = round(_cold_median(
        lambda ix: pruned_topk(ix, wor_q, k=10, gate_blocks=0)), 4)
    timings["wand_skew_wor_facade"] = round(_cold_median(
        lambda ix: facade_idx.search(wor_q, k=10)), 4)

    # round 6: the same weighted-OR through Engine.search with the
    # DEFAULT totals policy (total_mode: exact) — the page from the
    # pruned tier, the total from wand's count-only plan (head df base +
    # block-probed anti-join; never a full head decode). The verdict bar:
    # within ~2× of the SearchIndex facade leg above.
    from yetisearch_spark.engine import Engine as _Eng
    from yetisearch_spark.engine import SearchQuery as _SQ
    eng_skew_idx = SearchIndex(spark, skew_idx_dir,
                               cache_postings=False, cache_docs=False)
    eng_skew_idx.term_stats_for(["zzhead", "zzrare"])
    eng_skew_idx._df_count_cache[("ph", ph_node.terms)] = ph_df
    eng_skew = _Eng(spark, {"skew": skew_idx_dir},
                    config={"enable_fuzzy": False})
    eng_skew.indexes["skew"] = eng_skew_idx
    _sqw = _SQ(query=wor_q, limit=10, bypass_cache=True)
    runs = []
    for _ in range(3):
        t0 = time.time()
        out_w = eng_skew.search("skew", _sqw)
        runs.append(time.time() - t0)
        assert out_w["total"] > 0 and "total_mode" not in out_w
        for g in list(eng_skew_idx._handle_groups):
            eng_skew_idx.release(g)
    timings["wand_skew_wor_engine"] = round(sorted(runs)[1], 4)

    # round 6: filtered phrase through Engine.search — docs_in_set
    # routing over the COMPLETE pruned frame (filters + facets + exact
    # filtered total, no positional head decode). Exact twin pins the
    # gate off.
    eng_exact = _Eng(spark, {"skew": skew_idx_dir},
                     config={"enable_fuzzy": False,
                             "pruned_gate_blocks": -1})
    eng_exact.indexes["skew"] = skew_idx       # shares the exact handle
    _fq = _SQ(query='"zzhead zzrare"', limit=10, bypass_cache=True,
              filters=[{"field": "role", "operator": "=",
                        "value": "user"}])
    for leg, eng_h, ix_h, n_runs in [
            ("wand_skew_phrase_filtered_exact", eng_exact, skew_idx, 1),
            ("wand_skew_phrase_filtered_engine", eng_skew, eng_skew_idx, 3)]:
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            out_f = eng_h.search("skew", _fq)
            runs.append(time.time() - t0)
            assert out_f["total"] > 0
            for g in list(ix_h._handle_groups):
                ix_h.release(g)
        timings[leg] = round(sorted(runs)[len(runs) // 2], 4)
    eng_skew_idx.close()

    # fuzzy typo correction through the engine
    from yetisearch_spark.engine import Engine, SearchQuery
    eng = Engine(spark, {"main": index_dir})
    eng.indexes["main"] = idx  # reuse the hot SearchIndex caches
    eng.warm("main")  # replica bootstrap: corrector vocabulary (untimed,
    # like idx.warm above); per-query match/decode fills stay in the
    # timed cold call below
    sq = SearchQuery(query="serch dta", fuzzy=True, limit=10, bypass_cache=True)
    t0 = time.time()
    eng.search("main", sq)
    timings["engine_fuzzy_cold"] = round(time.time() - t0, 4)
    runs = []
    for _ in range(5):  # 5 runs: this leg's median-of-3 caught ±0.05s
        t0 = time.time()  # scheduler outliers round to round
        eng.search("main", sq)
        runs.append(time.time() - t0)
    timings["engine_fuzzy"] = round(sorted(runs)[2], 4)
    timings["engine_queries_cold_total"] = round(cold_total, 4)
    q_lat.sort()
    p95 = q_lat[max(0, int(len(q_lat) * 0.95) - 1)] if q_lat else 0.0

    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline suite wall time (operators + index build + BM25 queries)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "bench_turns": BENCH_TURNS,
        "index_build_turns_per_sec": round(turns_per_sec, 1),
        "index_build_mf_turns_per_sec": round(BENCH_TURNS / mf_build_s, 1),
        "bm25_p95_query_sec": round(p95, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
