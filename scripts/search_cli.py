#!/usr/bin/env python
"""spark-submit entry point: query a built index (reference D5 `search`,
`search-dsl`, `count`, `suggest` analogs).

    spark-submit --py-files yetisearch_spark.zip scripts/search_cli.py \
        --index /path/index --query '"data process" OR comp*' [-k 10] \
        [--mode search|count|suggest|dsl|explain|verify]

Search mode serves through SearchIndex.search, whose route planner
picks the block-max pruned tier where the cost gate allows it; explain
mode reports that route.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", default="")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--mode", default="search",
                    choices=["search", "count", "suggest", "dsl",
                             "explain", "verify"])
    args = ap.parse_args()
    if args.mode != "verify" and not args.query:
        ap.error("--query is required for this mode")

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("yetisearch-query").getOrCreate())
    from yetisearch_spark.query import SearchIndex

    # verify/explain run BEFORE constructing a caching SearchIndex: a
    # broken index must reach verify_index (which reports ok:false
    # instead of crashing), and neither mode uses the serving caches
    if args.mode == "verify":
        # reference index:verify analog (bin/yetisearch:112-129)
        from yetisearch_spark.debug import verify_index
        status = verify_index(spark, args.index)
        print(json.dumps(status, indent=2))
        spark.stop()
        sys.exit(0 if status["ok"] else 1)
    if args.mode == "explain":
        # reference debug:query analog (bin/yetisearch:130-156)
        from yetisearch_spark.debug import debug_query
        print(json.dumps(debug_query(spark, args.index, args.query,
                                     k=args.k),
                         indent=2))
        spark.stop()
        return

    idx = SearchIndex(spark, args.index)

    if args.mode == "count":
        print(json.dumps({"count": idx.count(args.query)}))
    elif args.mode == "suggest":
        from yetisearch_spark.analyzer import analyze
        from yetisearch_spark.correction import Corrector
        from pyspark.sql import functions as F
        vocab = {r["term"]: int(r["df"])
                 for r in idx._term_stats.select("term", "df").collect()}
        corr = Corrector(vocab)
        s = corr.suggest(analyze(args.query))
        print(json.dumps(s or {"suggestion": None}))
    elif args.mode == "dsl":
        from yetisearch_spark.dsl import QueryParser
        from yetisearch_spark.engine import Engine
        q = QueryParser().parse(args.query)
        eng = Engine(spark, {"main": args.index})
        res = eng.search("main", q)
        res["results"] = res["results"][: args.k]
        print(json.dumps(res, default=str))
    else:
        rows = idx.search(args.query, k=args.k, with_docs=True).collect()
        print(json.dumps([{k: v for k, v in r.asDict().items()
                           if k not in ("tokens",)}
                          for r in rows], default=str))
    spark.stop()


if __name__ == "__main__":
    main()
