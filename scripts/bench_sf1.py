#!/usr/bin/env python
"""sf1 stretch leg (round-4 verdict order #8): the 8 hot engine-query
legs at a 10M-turn corpus vs the standard 1M-turn bench — the closest
local proxy for the 100× latency curve. Same query set, same serving
configuration (AQE off, warm replica, hot = median of 3 after the
two-touch promotion warm-up).

Usage: python scripts/bench_sf1.py [--turns 10000000]
"""

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=10_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--workdir", default="/tmp/yetisearch_sf1")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("ys-sf1")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                     "true")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from yetisearch_spark.corpus import write_corpus_parquet
    from yetisearch_spark.build import build_index
    from yetisearch_spark.query import SearchIndex, configure_serving
    from yetisearch_spark.engine import Engine, SearchQuery

    corpus = os.path.join(args.workdir, f"corpus_{args.turns}")
    if not os.path.exists(os.path.join(corpus, "_DONE")):
        shutil.rmtree(corpus, ignore_errors=True)
        write_corpus_parquet(corpus, args.turns, seed=42)
        open(os.path.join(corpus, "_DONE"), "w").write("ok")

    index_dir = os.path.join(args.workdir, f"index_{args.turns}_{args.cpus}")
    t0 = time.time()
    build_index(spark, spark.read.parquet(corpus), index_dir,
                input_path=corpus, shuffle_partitions=args.cpus)
    build_s = time.time() - t0

    configure_serving(spark)
    queries = {
        "engine_single": "search",
        "engine_and": "data AND process",
        "engine_or": "error OR fail OR bug",
        "engine_phrase": '"data process"',
        "engine_near": 'NEAR("search" "index", 10)',
        "engine_prefix": "comput*",
    }
    out = {"turns": args.turns, "cpus": args.cpus,
           "index_build_s": round(build_s, 2),
           "index_build_turns_per_sec": round(args.turns / build_s, 1)}

    # round-6 order 4: ONE authoritative run records cold totals BOTH
    # without and with the warm() prefill (and times the prefill itself —
    # it is the replica bring-up cost, order 6). The no-warm pass runs
    # first on its own index handle, closed (unpersisted) before the
    # warmed pass so the canonical-plan cache cannot leak heat across.
    idx_nw = SearchIndex(spark, index_dir)
    cold_total = 0.0
    for name, q in queries.items():
        t0 = time.time()
        idx_nw.search(q, k=10).collect()
        cold_total += time.time() - t0
    out["engine_queries_cold_total_nowarm"] = round(cold_total, 4)
    idx_nw.close()

    idx = SearchIndex(spark, index_dir)
    t0 = time.time()
    idx.warm()
    out["warm_bootstrap_s"] = round(time.time() - t0, 4)
    cold_total = 0.0
    for name, q in queries.items():
        t0 = time.time()
        idx.search(q, k=10).collect()
        cold_total += time.time() - t0
        runs = []
        for _ in range(3):
            t0 = time.time()
            idx.search(q, k=10).collect()
            runs.append(time.time() - t0)
        out[name] = round(sorted(runs)[1], 4)
    out["engine_queries_cold_total"] = round(cold_total, 4)

    eng = Engine(spark, {"main": index_dir})
    eng.indexes["main"] = idx
    eng.warm("main")
    sq = SearchQuery(query="serch dta", fuzzy=True, limit=10,
                     bypass_cache=True)
    t0 = time.time()
    eng.search("main", sq)
    out["engine_fuzzy_cold"] = round(time.time() - t0, 4)
    runs = []
    for _ in range(3):
        t0 = time.time()
        eng.search("main", sq)
        runs.append(time.time() - t0)
    out["engine_fuzzy"] = round(sorted(runs)[1], 4)

    # ---- skew/WAND legs at sf1 (round-5 order #8): the pruned-vs-exact
    # gap should WIDEN with corpus size — the best local evidence for the
    # 100× claim. Same corpus transform and block geometry as bench.py's
    # sf0.1 legs, so the two scales are directly comparable.
    from pyspark.sql import functions as F

    from yetisearch_spark.wand import pruned_topk

    skew_corpus = os.path.join(args.workdir, f"skew_corpus_{args.turns}")
    if not os.path.exists(os.path.join(skew_corpus, "_DONE")):
        shutil.rmtree(skew_corpus, ignore_errors=True)
        tr = spark.read.parquet(corpus)
        spike = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(5000)) == 0
        rare = (F.element_at(F.split(F.col("conv_id"), "_"), -1)
                .cast("long") < 200)
        (tr.withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" zzhead"),
                     F.when(spike, F.lit(" zzhead" * 31)).otherwise(F.lit("")),
                     F.when(rare, F.lit(" zzrare")).otherwise(F.lit(""))))
         .write.mode("overwrite").parquet(skew_corpus))
        open(os.path.join(skew_corpus, "_DONE"), "w").write("ok")
    skew_dir = os.path.join(args.workdir,
                            f"skew_index_{args.turns}_{args.cpus}")
    if not os.path.exists(os.path.join(skew_dir, "_BENCH_DONE")):
        shutil.rmtree(skew_dir, ignore_errors=True)
        build_index(spark, spark.read.parquet(skew_corpus), skew_dir,
                    input_path=skew_corpus, block_size=64,
                    shuffle_partitions=args.cpus)
        open(os.path.join(skew_dir, "_BENCH_DONE"), "w").write("ok")

    skew_idx = SearchIndex(spark, skew_dir, cache_postings=False,
                           cache_docs=False)
    skew_idx.pruned_gate_blocks = -1          # unpruned baseline
    skew_idx.term_stats_for(["zzhead", "zzrare"])
    facade_idx = SearchIndex(spark, skew_dir, cache_postings=False,
                             cache_docs=False)   # default gate
    facade_idx.term_stats_for(["zzhead", "zzrare"])

    def cold_median(fn, n=3):
        # release per-run persisted match tables (canonical-plan cache
        # would serve run 2+ warm — see bench.py's _cold_median note)
        runs = []
        for _ in range(n):
            t0 = time.time()
            out = fn()
            out.collect()
            runs.append(time.time() - t0)
            # every Route's handles are in its index's handle registry
            for ix in (skew_idx, facade_idx):
                for g in list(ix._handle_groups):
                    ix.release(g)
        return sorted(runs)[n // 2]

    for name, q in {"wand_skew_single": "zzhead",
                    "wand_skew_and": "zzhead AND zzrare",
                    "wand_skew_phrase": '"zzhead zzrare"',
                    "wand_skew_near": 'NEAR("zzrare" "zzhead", 3)'}.items():
        # positional exact = full head-term positional decode (~80s at
        # 10M docs): one honest cold run
        n_exact = 1 if name in ("wand_skew_phrase", "wand_skew_near") else 3
        out[f"{name}_exact"] = round(cold_median(
            lambda q=q: skew_idx.search(q, k=10), n=n_exact), 4)
        out[f"{name}_pruned"] = round(cold_median(
            lambda q=q: pruned_topk(skew_idx, q, k=10, gate_blocks=0)), 4)
        out[f"{name}_facade"] = round(cold_median(
            lambda q=q: facade_idx.search(q, k=10)), 4)
        print(name, out[f"{name}_exact"], out[f"{name}_pruned"],
              out[f"{name}_facade"], flush=True)

    # combined-fuzzy (M7) weighted-OR leg: stats metadata warm (phrase
    # df seeded once, untimed), block data cold
    from yetisearch_spark.query import parse_query as _pq
    wor_q = ('"zzhead zzrare" OR NEAR("zzrare" "zzhead", 3) '
             'OR "zzrare" OR "zzhead"')
    ph_node = _pq('"zzhead zzrare"')
    ph_df = skew_idx._phrase_match(ph_node).count()
    for ix in (skew_idx, facade_idx):
        ix._df_count_cache[("ph", ph_node.terms)] = ph_df
    out["wand_skew_wor_exact"] = round(cold_median(
        lambda: skew_idx.search(wor_q, k=10), n=1), 4)
    out["wand_skew_wor_pruned"] = round(cold_median(
        lambda: pruned_topk(skew_idx, wor_q, k=10, gate_blocks=0)), 4)
    out["wand_skew_wor_facade"] = round(cold_median(
        lambda: facade_idx.search(wor_q, k=10)), 4)

    # round 6: the same weighted-OR through Engine.search, DEFAULT
    # totals policy (exact) — page from the pruned tier, total from the
    # count-only plan. Verdict bar: within ~2× of the facade leg.
    eng_idx = SearchIndex(spark, skew_dir, cache_postings=False,
                          cache_docs=False)
    eng_idx.term_stats_for(["zzhead", "zzrare"])
    eng_idx._df_count_cache[("ph", ph_node.terms)] = ph_df
    eng_skew = Engine(spark, {"skew": skew_dir},
                      config={"enable_fuzzy": False})
    eng_skew.indexes["skew"] = eng_idx
    sqw = SearchQuery(query=wor_q, limit=10, bypass_cache=True)
    runs = []
    for _ in range(3):
        t0 = time.time()
        res_w = eng_skew.search("skew", sqw)
        runs.append(time.time() - t0)
        assert res_w["total"] > 0 and "total_mode" not in res_w
        for g in list(eng_idx._handle_groups):
            eng_idx.release(g)
    out["wand_skew_wor_engine"] = round(sorted(runs)[1], 4)
    eng_idx.close()
    print("wand_skew_wor", out["wand_skew_wor_exact"],
          out["wand_skew_wor_pruned"], out["wand_skew_wor_facade"],
          out["wand_skew_wor_engine"], flush=True)

    print("RESULT_JSON:" + json.dumps(out))
    with open(os.path.join(REPO, "sf1_bench_result.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
