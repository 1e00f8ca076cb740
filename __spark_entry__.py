"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship path: build a yetisearch_spark inverted
index over the sf0.001 ``documents`` table and serve a BM25 query through
the real engine.

``queries()``/``oracle_sql()`` cover the SURVEY.md §2 operator inventory
with DuckDB-checkable semantics. Search-family entries use a simple
SQL-expressible tokenizer (lowercase ``[^a-z0-9]+`` split) so the oracle
can reproduce BM25/phrase math exactly; the full analyzer pipeline
(stem/stop/contractions) is verified separately by the pytest
rank-identity suite against a SQLite FTS5 oracle (tests/test_rank_identity.py).

Column names and types are aligned on both sides (driver hashes values
after sorting columns by name). Floats are rounded to 4dp on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

TOKEN_SPLIT = "[^a-z0-9]+"
BM25_TERMS = ["data", "query", "spark"]
K1, B = 1.2, 0.75

# Deterministic-UDF twin pattern (round-2): entries whose Spark side uses a
# UDF/banded join materialize the UDF outputs to parquet during the Spark
# query; the oracle SQL re-derives the SAME downstream result from
# read_parquet() over those outputs plus the base tables — turning
# rows-only checks into value-hash-checked ones.
MAT_DIR = "/tmp/ys_oracle_mat"


def _materialize(df: DataFrame, name: str) -> str:
    path = os.path.join(MAT_DIR, name)
    df.write.mode("overwrite").parquet(path)
    return path


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _fanout(df: DataFrame) -> DataFrame:
    """Round-robin fan-out before CPU-heavy per-row work (round 7, guide
    §2.5 input skew): the sf tables are single small parquet files (1-2
    row groups), so their scans cap at 2 tasks no matter the core count
    — tokenize-class per-row work must be spread AFTER the scan. Width
    scales with the session's cores, not a constant; round-robin keeps
    retry determinism (sortBeforeRepartition stays on)."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) with the simple SQL-parity tokenizer (0-based
    pos; only relative positions are ever compared)."""
    return (docs
            .select("doc_id", F.posexplode(F.split(F.lower("text"), TOKEN_SPLIT))
                    .alias("pos", "term"))
            .where(F.col("term") != ""))


# ---------------------------------------------------------------------------
# Spark-side queries (each mirrors an oracle_sql entry; SURVEY §2 refs inline)
# ---------------------------------------------------------------------------

def _corpus_stats(docs: DataFrame, dl: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) in ONE action (cross-joined single-row aggregates)."""
    row = (docs.agg(F.count(F.lit(1)).alias("n"))
           .crossJoin(dl.agg(F.avg("dl").alias("avgdl"))).collect()[0])
    return int(row["n"]), float(row["avgdl"])


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: BM25 top-10 (OR over BM25_TERMS), FTS5 idf clamp semantics.

    Round-7 plan (same results, guide §2.3/§2.4): dl and per-term tfs are
    per-ROW array expressions over one split() — the old explode →
    groupBy(doc_id) shuffled ~10⁸ token rows twice (once inside the
    stats action, once for scoring) and joined three frames back
    together. Now: one scan aggregates n/avgdl/dfs in a single row, a
    second scan projects the per-doc score directly — zero wide
    shuffles, no joins, the same 4dp-rounded values."""
    docs = _docs(spark, sf_dir)
    n_docs = float(docs.count())
    tok = _tokens(_fanout(docs))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
          for i, t in enumerate(BM25_TERMS)])
    # avgdl/dfs as a broadcast 1-row branch over the SAME per_doc frame:
    # the count branch reuses the groupBy exchange (ReusedExchange), so
    # the whole query is ONE tokenize pass + ONE shuffle + ONE action
    stats = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(BM25_TERMS))])
    j = per_doc.crossJoin(F.broadcast(stats))
    score = None
    any_tf = None
    for i in range(len(BM25_TERMS)):
        dfc = F.col(f"df_{i}").cast("double")
        idf_raw = F.log((F.lit(n_docs) - dfc + 0.5) / (dfc + 0.5))
        idf = F.when(idf_raw <= 0.0, F.lit(1e-6)).otherwise(idf_raw)
        tf = F.col(f"tf_{i}").cast("double")
        c = F.when(F.col(f"tf_{i}") > 0,
                   idf * tf * (K1 + 1.0)
                   / (tf + K1 * (1.0 - B + B * F.col("dl").cast("double")
                                 / F.col("avgdl")))).otherwise(F.lit(0.0))
        score = c if score is None else score + c
        e = F.col(f"tf_{i}") > 0
        any_tf = e if any_tf is None else (any_tf | e)
    return (j.where(any_tf)
            .select("doc_id", F.round(score, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: vocabulary aggregation (term → df, cf), top-100 by df.

    Round-7: fan the 2-task scan out before the explode so the tokenize
    + map-side partial (term, doc) aggregation run at full width."""
    tok = _tokens(_fanout(_docs(spark, sf_dir)))
    per_doc = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (per_doc.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.sum("tf").cast("long").alias("cf"))
            .orderBy(F.desc("df"), F.asc("term")).limit(100))


def q_facet_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5: value-count facet over a metadata column."""
    return (_docs(spark, sf_dir).groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lang")))


def q_count_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M8: count of docs matching implicit-AND of two terms."""
    tok = _tokens(_docs(spark, sf_dir))
    hits = (tok.where(F.col("term").isin(["data", "query"]))
            .groupBy("doc_id").agg(F.count_distinct("term").alias("nt"))
            .where(F.col("nt") == 2))
    return hits.agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def q_phrase_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: adjacent-token phrase "data query" — doc count."""
    # Round-7 plan (same result): two tokens are ADJACENT in the raw
    # split exactly when the text has the alnum-run "data", one
    # separator run, then the alnum-run "query" — one codegen regex
    # pass per row. The old plan exploded the corpus twice and shuffled
    # a positional self-join (guide §2.4: remove shuffles outright).
    docs = _docs(spark, sf_dir)
    pat = "(^|[^a-z0-9])data[^a-z0-9]+query([^a-z0-9]|$)"
    return (docs.where(F.lower(F.col("text")).rlike(pat))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def q_keyword_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/A8: corpus keyword frequency, top 20."""
    tok = _tokens(_docs(spark, sf_dir))
    return (tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("term")).limit(20))


def q_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: group roll-up keeping an argmax representative per group
    (reference dedup-by-route, src/Search/SearchEngine.php:1112-1169)."""
    # Round-7 plan (same result): the argmax representative is min_by
    # over the (-n_chars, doc_id) struct inside the SAME per-source
    # aggregation — one hash agg with map-side partials instead of a
    # window sort + second agg + join (guide §2.3/§2.4).
    docs = _docs(spark, sf_dir)
    rep = F.min_by("doc_id", F.struct((-F.col("n_chars")).alias("nn"),
                                      F.col("doc_id")))
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 rep.alias("rep_doc_id"))
            .orderBy("source"))


def q_topk_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: filtered multi-key order-by + limit."""
    return (_docs(spark, sf_dir).where(F.col("lang") == "en")
            .select("doc_id", "lang", "n_chars")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20))


def q_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: in / between / like predicates (Catalyst-pushed)."""
    ev = _events(spark, sf_dir)
    return (ev.where(F.col("event_type").isin(["signup", "error"])
                     & F.col("value").between(50.0, 150.0)
                     & F.col("props").like('%"k": 1%'))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .orderBy("event_type"))


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: window function — per-user argmax event.

    Round-7 plan (same result): the rn=1 row of a (value DESC, event_id
    ASC) window is min_by over the (-value, event_id) struct — a plain
    hash aggregation with MAP-SIDE partial aggregation, replacing the
    window's full shuffle+sort of every event row (guide §2.3)."""
    ev = _events(spark, sf_dir)
    top = F.min_by(F.struct("event_id", "value"),
                   F.struct((-F.col("value")).alias("nv"),
                            F.col("event_id")))
    return (ev.groupBy("user_id").agg(top.alias("top"))
            .select("user_id", F.col("top.event_id").alias("event_id"),
                    F.round("top.value", 4).alias("value"))
            .orderBy("user_id"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: exact dedup stats per lang (hash-groupBy)."""
    docs = _docs(spark, sf_dir)
    return (docs.withColumn("h", F.md5(F.col("text")))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count_distinct("h").cast("long").alias("n_distinct"))
            .orderBy("lang"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: token counting per lang.

    Round-7 plan (same result): n_tok is a per-ROW array expression —
    the old explode → groupBy(doc_id) → left-join shuffled every token
    row and every doc row; this is one scan + one tiny per-lang
    aggregation (guide §2.3 "aggregate before you shuffle")."""
    docs = _docs(spark, sf_dir)
    arr = F.split(F.lower("text"), TOKEN_SPLIT)
    n_tok = F.size(F.array_remove(arr, ""))
    return (_fanout(docs).select("lang", n_tok.alias("n_tok"))
            .groupBy("lang")
            .agg(F.sum("n_tok").cast("long").alias("total_tokens"),
                 F.round(F.avg("n_tok"), 4).alias("avg_tokens"))
            .orderBy("lang"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline: per-doc quality features (length/punct)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    stripped = F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    return (docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        (F.length("text") - F.length(stripped)).cast("long").alias("punct_cnt"))
        .orderBy("doc_id"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-10 against vec_id 0
    (JVM higher-order functions — no Python in the hot path)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(F.zip_with(F.col("embedding"), q, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm_a = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                                lambda acc, x: acc + x * x))
    norm_q = float(sum(float(x) * float(x) for x in qvec)) ** 0.5
    cos = dot / (norm_a * F.lit(norm_q))
    return (emb.where(F.col("vec_id") != 0)
            .select("vec_id", F.round(cos, 4).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational agg parity (TPC-H Q1 shape) over lineitem."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).cast("long").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family: broadcast-dim join + agg (customer ⋈ orders revenue by
    market segment)."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy("c_mktsegment"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup: char-3-gram Jaccard pairs over the first 80 docs."""
    from yetisearch_spark.dedup import ngram_jaccard_pairs
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 80)
    return (ngram_jaccard_pairs(docs, threshold=0.3)
            .orderBy("a", "b"))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups via MinHash+LSH. The verified candidate pairs (the
    UDF+banding half) are materialized; the connected-components union is
    oracle-checked against a DuckDB recursive CTE over the same pairs."""
    from yetisearch_spark.dedup import connected_groups, minhash_verified_pairs
    docs = _docs(spark, sf_dir)
    pairs = minhash_verified_pairs(docs, num_hashes=64, bands=16,
                                   jaccard_threshold=0.5)
    path = _materialize(pairs, "minhash_pairs")
    return connected_groups(spark.read.parquet(path)).orderBy("doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via SimHash banding. Per-doc 64-bit hashes
    are materialized; banding + Hamming verify are oracle-checked via
    DuckDB integer shift/xor/bit_count over the same hashes."""
    from yetisearch_spark.dedup import make_simhash_udf, simhash_pairs
    docs = (_docs(spark, sf_dir)
            .withColumn("tokens", F.split(F.lower("text"), TOKEN_SPLIT)))
    hashed = docs.select("doc_id",
                         make_simhash_udf()(F.col("tokens")).alias("sh"))
    path = _materialize(hashed, "simhash")
    return (simhash_pairs(spark.read.parquet(path), max_hamming=6,
                          hash_col="sh")
            .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
            .orderBy("a", "b"))


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets. The bucket-candidate set is
    materialized; the exact cosine re-rank over it is oracle-checked."""
    from yetisearch_spark.similarity import (dot_expr, lsh_index, norm_expr)
    import numpy as np
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    indexed, tables = lsh_index(emb, n_planes=8, n_tables=4, dim=len(qvec))
    q = np.asarray(qvec, dtype=np.float64)
    cond = None
    for t, planes in enumerate(tables):
        qb = int(sum((1 << i) for i, p in enumerate(planes)
                     if float(np.dot(p, q)) >= 0))
        c = F.col(f"bucket_{t}") == qb
        cond = c if cond is None else (cond | c)
    cand = indexed.where(cond & (F.col("vec_id") != 0)).select("vec_id")
    path = _materialize(cand, "lsh_candidates")
    cands = spark.read.parquet(path)
    qnorm = float(np.sqrt(np.dot(q, q)))
    cos = dot_expr("embedding", q) / (norm_expr("embedding") * F.lit(qnorm))
    return (emb.join(cands, "vec_id")
            .select("vec_id", F.round(cos, 4).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10))


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the partition-pruned scale path): cell
    assignments + probed-cell membership materialized; the exact cosine
    re-rank over probed vectors is oracle-checked."""
    import numpy as np
    from yetisearch_spark.similarity import (dot_expr, ivf_index, norm_expr)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    indexed, cents = ivf_index(emb, n_cells=16)
    q = np.asarray(qvec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = [int(c) for c in np.argsort(-(cents @ qn))[:4]]
    cand = (indexed.where(F.col("cell").isin(probes)
                          & (F.col("vec_id") != 0)).select("vec_id"))
    path = _materialize(cand, "ivf_candidates")
    cands = spark.read.parquet(path)
    qnorm = float(np.sqrt(np.dot(q, q)))
    cos = dot_expr("embedding", q) / (norm_expr("embedding") * F.lit(qnorm))
    return (emb.join(cands, "vec_id")
            .select("vec_id", F.round(cos, 4).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10))


def q_emb_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: embedding-cosine near-dup groups over the
    embeddings table (exact baseline tier — fully SQL-expressible, so
    pairs AND connected components are value-checked; the LSH-bucketed
    scale tier is pytest-asserted equal on planted duplicates)."""
    from yetisearch_spark.dedup import connected_groups
    from yetisearch_spark.similarity import cosine_pairs_exact
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pairs = cosine_pairs_exact(emb, 0.42).select("a", "b")
    return connected_groups(pairs).orderBy("doc_id")


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic counts. Per-doc predictions materialized; the
    aggregation is oracle-checked over the same predictions."""
    from yetisearch_spark.textstats import make_langid_udf
    docs = _docs(spark, sf_dir)
    preds = docs.select("doc_id",
                        make_langid_udf()(F.col("text")).alias("lang_pred"))
    path = _materialize(preds, "langid")
    return (spark.read.parquet(path)
            .groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("lang_pred"))


def q_bm25_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field weighted BM25 (FTS5 bm25(fts, w…) semantics): field 0 =
    first 4 tokens ("title"), field 1 = the rest; weights (2.0, 1.0).
    tf_w = Σ instance-field weights, D = total tokens, row-level df."""
    docs = _docs(spark, sf_dir)
    tok = _tokens(docs)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, avgdl = _corpus_stats(docs, dl)
    w = F.when(F.col("pos") <= 3, F.lit(2.0)).otherwise(F.lit(1.0))
    tfs = (tok.where(F.col("term").isin(BM25_TERMS))
           .groupBy("doc_id", "term").agg(F.sum(w).alias("tfw")))
    dfs = tfs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_raw = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    idf = F.when(idf_raw <= 0.0, F.lit(1e-6)).otherwise(idf_raw)
    scored = (tfs.join(dfs, "term").join(dl, "doc_id")
              .select("doc_id",
                      (idf * F.col("tfw") * (K1 + 1.0)
                       / (F.col("tfw")
                          + K1 * (1.0 - B + B * F.col("dl").cast("double") / float(avgdl)))
                       ).alias("c"))
              .groupBy("doc_id").agg(F.sum("c").alias("s")))
    return (scored.select("doc_id", F.round("s", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/O6: haversine k-NN over synthetic deterministic coordinates
    (lat/lng derived from doc_id), SQL-variant distance (R=6371 km)."""
    from yetisearch_spark.geo import haversine_m
    docs = (_docs(spark, sf_dir)
            .withColumn("lat", F.lit(-60.0) + (F.col("doc_id") % 240) * 0.5)
            .withColumn("lng", F.lit(-180.0)
                        + ((F.col("doc_id") * 7) % 720) * 0.5))
    d = haversine_m(10.0, 20.0, "lat", "lng")
    return (docs.select("doc_id", F.round(d, 2).alias("dist_m"))
            .orderBy(F.asc("dist_m"), F.asc("doc_id")).limit(20))


def q_chunk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking + A7 roll-up: chunk rows materialized; the per-parent
    roll-up is oracle-checked over the same chunks."""
    from yetisearch_spark.chunking import chunk_documents
    docs = (_docs(spark, sf_dir).where(F.col("doc_id") < 500)
            .select(F.col("doc_id").cast("string").alias("conv_id"),
                    F.lit(0).alias("turn_idx"), "text"))
    chunked = chunk_documents(docs, chunk_size=150, overlap=30)
    path = _materialize(
        chunked.select("parent_id", "chunk_index",
                       F.length("text").alias("chunk_chars"), "is_chunk"),
        "chunks")
    ch = spark.read.parquet(path)
    return (ch.groupBy("parent_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum("chunk_chars").cast("long").alias("total_chars"),
                 F.max("chunk_chars").cast("long").alias("max_chunk_chars"))
            .orderBy("parent_id"))


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quality-feature pass (rows-only; the simple SQL twin is
    oracle-checked as quality_score)."""
    from yetisearch_spark.textstats import quality_features
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return quality_features(docs).select(
        "doc_id", "n_words", "punct_ratio", "stopword_ratio",
        "quality_score").orderBy("doc_id")


def _mat_index_tokens(spark: SparkSession, idx, name: str) -> None:
    """Materialize the analyzer's token table (doc_id, pos, term) and the
    index global stats — the UDF-twin inputs the DuckDB oracles recompute
    BM25/phrase/NEAR from (the analyzer itself is verified by the FTS5
    rank-identity pytest suite; everything downstream is value-checked)."""
    _materialize(idx._docs.select(
        "doc_id", F.posexplode("tokens").alias("pos", "term")),
        f"{name}_tokens")
    _materialize(
        spark.read.parquet(os.path.join(idx.index_dir, "global_stats"))
        .select(F.col("n_docs").cast("long").alias("n"),
                F.col("avgdl").cast("double").alias("avgdl")),
        f"{name}_stats")


#: shared BM25 contribution SQL, op-order-matched to query.SearchIndex
#: (_contrib_expr): idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), FTS5 idf
#: clamp at 1e-6. {idf}/{tf} are substituted per slot.
def _contrib_sql(idf: str, tf: str) -> str:
    return (f"({idf} * {tf} * {K1 + 1.0} / "
            f"({tf} + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl)))")


def _idf_sql(df_expr: str) -> str:
    return (f"(CASE WHEN ln((g.n - {df_expr} + 0.5) / ({df_expr} + 0.5)) <= 0 "
            f"THEN 0.000001 "
            f"ELSE ln((g.n - {df_expr} + 0.5) / ({df_expr} + 0.5)) END)")


def q_engine_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy typo correction through the live engine. Materializes the
    analyzer token table, the corrected term pair, and the per-doc R4
    penalties (rescoring.fuzzy_penalty — pytest-verified vs the
    reference); the oracle recomputes the combined OR shape (phrase +
    NEAR-trimmed + exact slots), the top-200 overfetch, penalty
    application, and 0-100 normalization from those inputs."""
    from yetisearch_spark.engine import Engine, SearchQuery
    from yetisearch_spark.query import Or
    idx = _engine_index(spark, sf_dir)
    eng = Engine(spark, {"main": idx.index_dir})
    q = SearchQuery(query="dta quiery", fuzzy=True, limit=10)
    node, fmap, qtok = eng._compile("main", q)
    assert isinstance(node, Or) and len(node.children[0].terms) == 2, node
    t1, t2 = node.children[0].terms
    _materialize(spark.createDataFrame([(t1, t2)], "t1 string, t2 string"),
                 "engf_ctx")
    _mat_index_tokens(spark, idx, "engf")
    toks, fm = list(qtok), dict(fmap)
    base_pen = float(eng.config["fuzzy_score_penalty"])

    def pen_kernel(batches):
        import pandas as pd
        from yetisearch_spark.rescoring import fuzzy_penalty
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "penalty": [fuzzy_penalty(t or "", toks, fm, base_pen)
                            for t in pdf["text"]]})

    _materialize(idx._docs.select("doc_id", "text")
                 .mapInPandas(pen_kernel, "doc_id long, penalty double"),
                 "engf_penalty")
    res = eng.search("main", q)
    rows = [(r["document"]["doc_id"], float(r["score"]))
            for r in res["results"]]
    return spark.createDataFrame(rows or [(None, None)],
                                 "doc_id long, score double").where(
        F.col("doc_id").isNotNull())


def q_engine_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max pruned top-k. pruned == exact is asserted by
    tests/test_wand.py; here the oracle independently recomputes the exact
    BM25 AND top-10 from the materialized analyzer token table, so the
    pruned result is value-checked end-to-end."""
    from yetisearch_spark.wand import pruned_topk
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engp")
    df = pruned_topk(idx, "data AND queri", k=10, gate_blocks=0)
    return df.select("doc_id", F.round("score", 4).alias("score"))


def q_engine_pruned_facade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine.search routed through the block-max pruned tier (round-5
    facade wiring, D4): pruned_gate_blocks=0 forces the tier inside the
    user-facing engine — the page comes from wand.pruned_scored, the
    total from the AND rule's count-exact pruned frame, and R5
    normalization consumes the pruned page unchanged. The oracle
    recomputes exact BM25 AND top-10 plus the same 0-100 page
    normalization from the materialized analyzer token table."""
    from yetisearch_spark.engine import Engine
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engpf")
    from yetisearch_spark.engine import SearchQuery
    eng = Engine(spark, {"main": idx.index_dir},
                 config={"enable_fuzzy": False, "pruned_gate_blocks": 0})
    res = eng.search("main", SearchQuery(query="data query", limit=10))
    rows = [(r["document"]["doc_id"], float(r["score"]))
            for r in res["results"]]
    return spark.createDataFrame(rows or [(None, None)],
                                 "doc_id long, score double").where(
        F.col("doc_id").isNotNull())


def q_engine_wor_facade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine.search routed through the pruned WEIGHTED-OR tier with the
    default totals policy (round-6: the combined-fuzzy M7 family no
    longer pays the exact positional path through the engine facade).
    pruned_gate_blocks=0 forces the tier; the page comes from the wor
    phase 2 over pruned frames, the TOTAL from wand's count-only plan
    (head-df base + block-probed anti-join — ``total_mode: exact``). The
    result carries (doc_id, 0-100 score, total) so the oracle
    value-checks the page AND the exact count in one entry (the
    reference runs a full storage COUNT per search,
    src/Search/SearchEngine.php:207)."""
    from yetisearch_spark.engine import Engine, SearchQuery
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engw")
    eng = Engine(spark, {"main": idx.index_dir},
                 config={"enable_fuzzy": False, "pruned_gate_blocks": 0})
    q = '"data queri" OR NEAR("data" "spark", 6) OR "queri" OR "join"'
    res = eng.search("main", SearchQuery(query=q, limit=10))
    assert "total_mode" not in res   # default policy is EXACT totals
    rows = [(r["document"]["doc_id"], float(r["score"]),
             int(res["total"])) for r in res["results"]]
    return spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, score double, total long").where(
        F.col("doc_id").isNotNull())


def q_engine_filtered_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search through the COMPLETE pruned frame (round-6
    docs_in_set routing): an implicit-AND query with a metadata filter
    routes through wand's AND-rule frame — a drop-in for match_scores,
    so the filtered page AND the exact filtered total never decode
    blocks outside the rare term's ranges. pruned_gate_blocks=0 forces
    the route; the oracle recomputes the exact filtered BM25 AND top-10
    (global df/avgdl, filter applied after scoring — the reference's
    WHERE-over-scored-set semantics, src/Storage/SqliteStorage.php:899),
    the filtered count, and the R5 page normalization from the
    materialized token and role tables."""
    from yetisearch_spark.engine import Engine, SearchQuery
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engfl")
    _materialize(idx._docs.select("doc_id", "role"), "engfl_roles")
    eng = Engine(spark, {"main": idx.index_dir},
                 config={"enable_fuzzy": False, "pruned_gate_blocks": 0})
    res = eng.search("main", SearchQuery(
        query="data query", limit=10,
        filters=[{"field": "role", "operator": "=", "value": "src13"}]))
    rows = [(r["document"]["doc_id"], float(r["score"]), int(res["total"]))
            for r in res["results"]]
    return spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, score double, total long").where(
        F.col("doc_id").isNotNull())


def q_engine_filtered_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 7 (verdict order 1): a metadata filter on a SINGLE-term
    query — the most common real filtered shape — routes through the
    engine facade's iterative-deepening page (unfiltered pruned top-k'
    ∩ filter, page-exact by the total-order argument) with a
    position-free exact filtered total (term light frame ∩ filter ids),
    never paying the full head scoring sort. pruned_gate_blocks=0 forces
    the route; the oracle recomputes the exact filtered BM25 top-10,
    the filtered count, and the R5 page normalization from the
    materialized token and role tables."""
    from yetisearch_spark.engine import Engine, SearchQuery
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engfs")
    _materialize(idx._docs.select("doc_id", "role"), "engfs_roles")
    eng = Engine(spark, {"main": idx.index_dir},
                 config={"enable_fuzzy": False, "pruned_gate_blocks": 0})
    res = eng.search("main", SearchQuery(
        query="data", limit=10,
        filters=[{"field": "role", "operator": "=", "value": "src13"}]))
    rows = [(r["document"]["doc_id"], float(r["score"]), int(res["total"]))
            for r in res["results"]]
    return spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, score double, total long").where(
        F.col("doc_id").isNotNull())


def q_weighted_phrase_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-weighted phrase served through the block-max pruned tier
    (round 6): the phrase's pruned frame comes from the AND rule over
    its constituents (range overlap, score-agnostic), so it is the
    COMPLETE match set with full positions and per-field reweighted BM25
    over it is exact. Forces the gate (pruned_gate_blocks=0), asserts
    the pruned route actually served the page, and returns the raw
    weighted top-10; the oracle recomputes per-field phrase instances
    (adjacency within a field only — FTS5 columns are
    position-isolated), the weighted tf (instance-start field weight),
    the phrase df, and BM25 from the materialized per-field token table
    (reference bm25(fts, w…): src/Storage/SqliteStorage.php:993-1021)."""
    from yetisearch_spark.query import SearchIndex, parse_query
    idx = _engine_index_mf(spark, sf_dir)
    fl0 = F.element_at("field_lens", 1)
    in_f0 = F.col("pos") < fl0
    _materialize(
        idx._docs.select("doc_id", "field_lens",
                         F.posexplode("tokens").alias("pos", "term"))
        .select("doc_id",
                F.when(in_f0, F.lit(0)).otherwise(F.lit(1)).cast("int")
                 .alias("field_id"),
                (F.col("pos") - F.when(in_f0, F.lit(0)).otherwise(fl0))
                 .cast("long").alias("fpos"),
                "term"),
        "wphp_tokens")
    _materialize(
        spark.read.parquet(os.path.join(idx.index_dir, "global_stats"))
        .select(F.col("n_docs").cast("long").alias("n"),
                F.col("avgdl").cast("double").alias("avgdl")),
        "wphp_stats")
    routed = SearchIndex(spark, idx.index_dir)
    routed.pruned_gate_blocks = 0
    df = routed.search('"data queri"', k=10, weights=(2.0, 1.0))
    assert routed.route(parse_query('"data queri"'), 10,
                        wvec=(2.0, 1.0)).kind == "pruned", \
        "weighted phrase did not route through the pruned tier"
    return (df.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_engine_deleted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-exact segmented serving (round 5), value-checked end to
    end: copy the built index, tombstone a deterministic victim set
    (every 3rd 'data' match), and serve BM25 AND top-10 through the
    GlobalSegmentedIndex — per-term deleted-df deltas + decode-level
    tombstone filtering must make df/idf/avgdl/n_docs EXACT over the
    survivors. The oracle recomputes everything from the materialized
    FULL token table minus the materialized tombstone list (corrected
    n, avgdl, df all in SQL)."""
    import shutil

    from yetisearch_spark.query import SearchIndex
    from yetisearch_spark.streaming import GlobalSegmentedIndex, delete_docs

    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engd")   # full pre-delete corpus
    mut = idx.index_dir + "_deleted"
    if not os.path.exists(os.path.join(mut, "_DELETED")):
        shutil.rmtree(mut, ignore_errors=True)
        shutil.copytree(idx.index_dir, mut)
        base = SearchIndex(spark, mut, cache_postings=False,
                           cache_docs=False)
        victims = sorted(r["doc_id"] for r in
                         base.search("data", k=5000).collect())[::3]
        base.close()
        delete_docs(spark, mut, victims)
        open(os.path.join(mut, "_DELETED"), "w").write("ok")
    _materialize(spark.read.parquet(os.path.join(mut, "tombstones")),
                 "engd_tombs")
    live = GlobalSegmentedIndex(spark, mut, cache_postings=False,
                                cache_docs=False)
    rows = [(r["doc_id"], round(r["score"], 4))
            for r in live.search("data AND queri", k=10).collect()]
    live.close()
    return spark.createDataFrame(rows or [(None, None)],
                                 "doc_id long, score double").where(
        F.col("doc_id").isNotNull())


def q_near3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-phrase NEAR top-10 through the batch-vectorized trim kernel
    (round 4, query.SearchIndex._near_table k>=3 path). The oracle
    recomputes the FTS5 multi-phrase near-group trim — valid end-set
    (every member within [m, m+D+1]) and per-member instance survival
    (a valid end in [x-D-1, x]) — plus slot-order BM25 from the
    materialized analyzer token table (reference NEAR semantics:
    src/Search/SearchEngine.php:574-581 ride on FTS5's near-group)."""
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "near3")
    df = idx.search('NEAR("dup" "join" "hash", 10)', k=10)
    return df.select("doc_id", F.round("score", 4).alias("score"))


def q_engine_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field BM25 weights + R2 rescoring through the live engine over a
    two-field index. Materializes the per-field analyzer token table and
    the per-doc R2 multiplier (rescoring.field_weighted_score at base 1.0
    — the function is purely multiplicative in base_score and is
    pytest-verified against the reference); the oracle recomputes weighted
    BM25, the top-200 overfetch, the rescore product, and normalization."""
    from yetisearch_spark.engine import Engine, SearchQuery
    idx = _engine_index_mf(spark, sf_dir)
    _materialize(
        idx._docs
        .select("doc_id", "field_lens",
                F.posexplode("tokens").alias("pos", "term"))
        .select("doc_id",
                F.when(F.col("pos") < F.element_at("field_lens", 1),
                       F.lit(0)).otherwise(F.lit(1)).cast("int")
                .alias("field_id"),
                "term"),
        "engb_tokens")
    _materialize(
        spark.read.parquet(os.path.join(idx.index_dir, "global_stats"))
        .select(F.col("n_docs").cast("long").alias("n"),
                F.col("avgdl").cast("double").alias("avgdl")),
        "engb_stats")

    def factor_kernel(batches):
        import pandas as pd
        from yetisearch_spark.rescoring import field_weighted_score
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "factor": [field_weighted_score("data query", {"title": t},
                                                {"title": 3.0}, 1.0)
                           for t in pdf["title"]]})

    _materialize(idx._docs.select("doc_id", "title")
                 .mapInPandas(factor_kernel, "doc_id long, factor double"),
                 "engb_factor")
    eng = Engine(spark, {})
    eng.indexes["mf"] = idx
    res = eng.search("mf", SearchQuery(query="data query", limit=10,
                                       boost_fields={"title": 3.0}))
    rows = [(r["document"]["doc_id"], float(r["score"]))
            for r in res["results"]]
    return spark.createDataFrame(rows or [(None, None)],
                                 "doc_id long, score double").where(
        F.col("doc_id").isNotNull())


def q_engine_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo near-filter + distance sort through the live engine.
    Materializes the match candidates (docs whose analyzed tokens contain
    the query term, with their lat/lng); the oracle recomputes the
    haversine radius filter, the distance sort, and the top-10 page."""
    from yetisearch_spark.engine import Engine, SearchQuery
    idx = _engine_index_mf(spark, sf_dir)
    _materialize(idx._docs
                 .where(F.array_contains("tokens", "data"))
                 .select("doc_id", "lat", "lng"),
                 "engg_cand")
    eng = Engine(spark, {})
    eng.indexes["g"] = idx
    res = eng.search("g", SearchQuery(
        query="data", limit=10,
        geo_filters={"near": {"lat": 0.0, "lng": 0.0, "radius": 3_000_000},
                     "distance_sort": {"lat": 0.0, "lng": 0.0}}))
    rows = [(r["document"]["doc_id"], round(float(r["distance"]), 2))
            for r in res["results"]]
    return spark.createDataFrame(rows or [(None, None)],
                                 "doc_id long, dist_m double").where(
        F.col("doc_id").isNotNull())


def q_engine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path (analyzer → postings index → BM25 top-k). Verified
    rank-identical to SQLite FTS5 by tests/test_rank_identity.py; the
    oracle recomputes the same BM25 AND top-10 from the materialized
    analyzer token table + index global stats (value-checked)."""
    idx = _engine_index(spark, sf_dir)
    _mat_index_tokens(spark, idx, "engs")
    df = idx.search("data AND query", k=10)
    return df.select("doc_id", F.round("score", 4).alias("score"))


_ENGINE_CACHE: dict = {}


def _engine_index(spark: SparkSession, sf_dir: str):
    from yetisearch_spark.build import build_index
    from yetisearch_spark.query import SearchIndex

    key = os.path.abspath(sf_dir)
    if key in _ENGINE_CACHE:
        return _ENGINE_CACHE[key]
    out = os.path.join("/tmp/yetisearch_entry_idx",
                       key.strip("/").replace("/", "_"))
    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("source").alias("role"),
        "text",
        F.col("lang").alias("tool"),
        F.current_timestamp().alias("ts"))
    try:
        build_index(spark, transcripts, out, num_buckets=8, input_path=sf_dir)
        idx = SearchIndex(spark, out)
    except Exception:
        # stale cache from an older index layout → rebuild fresh
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, transcripts, out, num_buckets=8,
                    input_path=sf_dir, resume=False)
        idx = SearchIndex(spark, out)
    _ENGINE_CACHE[key] = idx
    return idx


def _engine_index_mf(spark: SparkSession, sf_dir: str):
    """Two-field (title, text) index with deterministic lat/lng columns —
    exercises multi-field weights and geo through the real engine."""
    from yetisearch_spark.build import build_index
    from yetisearch_spark.query import SearchIndex

    key = os.path.abspath(sf_dir) + "#mf"
    if key in _ENGINE_CACHE:
        return _ENGINE_CACHE[key]
    out = os.path.join("/tmp/yetisearch_entry_idx",
                       key.strip("/").replace("/", "_").replace("#", "_"))
    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("source").alias("role"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 4))
         .alias("title"),
        "text",
        (F.lit(-60.0) + (F.col("doc_id") % 240) * 0.5).alias("lat"),
        (F.lit(-180.0) + ((F.col("doc_id") * 7) % 720) * 0.5).alias("lng"),
        F.current_timestamp().alias("ts"))
    try:
        build_index(spark, transcripts, out, num_buckets=8,
                    fields=["title", "text"], input_path=sf_dir)
        idx = SearchIndex(spark, out)
    except Exception:
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, transcripts, out, num_buckets=8,
                    fields=["title", "text"], input_path=sf_dir,
                    resume=False)
        idx = SearchIndex(spark, out)
    _ENGINE_CACHE[key] = idx
    return idx


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: engine-built inverted index over sf0.001 documents, BM25
    top-10 for a mixed AND/OR/prefix query, joined back to doc payload."""
    idx = _engine_index(spark, "/root/testdata/sf0.001")
    return (idx.search("(data AND query) OR spark*", k=10, with_docs=True)
            .select("doc_id", "score", "conv_id", "role", "text"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_topk": q_bm25_topk,
        "term_stats": q_term_stats,
        "facet_lang": q_facet_lang,
        "count_and": q_count_and,
        "phrase_count": q_phrase_count,
        "keyword_topn": q_keyword_topn,
        "dedup_rollup": q_dedup_rollup,
        "topk_orderby": q_topk_orderby,
        "filter_ops": q_filter_ops,
        "events_window": q_events_window,
        "exact_dedup": q_exact_dedup,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "ann_cosine_topk": q_ann_cosine_topk,
        "tpch_q1": q_tpch_q1,
        "join_agg": q_join_agg,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_dedup": q_minhash_dedup,
        "simhash_pairs": q_simhash_pairs,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "emb_dedup": q_emb_dedup,
        "langid": q_langid,
        "quality_features": q_quality_features,
        "bm25_weighted_topk": q_bm25_weighted_topk,
        "geo_knn": q_geo_knn,
        "chunk_rollup": q_chunk_rollup,
        "engine_search": q_engine_search,
        "engine_fuzzy": q_engine_fuzzy,
        "engine_pruned_topk": q_engine_pruned_topk,
        "engine_pruned_facade": q_engine_pruned_facade,
        "engine_wor_facade": q_engine_wor_facade,
        "engine_filtered_and": q_engine_filtered_and,
        "engine_filtered_single": q_engine_filtered_single,
        "weighted_phrase_pruned": q_weighted_phrase_pruned,
        "engine_deleted_search": q_engine_deleted_search,
        "near3_topk": q_near3_topk,
        "engine_boosted": q_engine_boosted,
        "engine_geo": q_engine_geo,
    }


def _stop_list_sql() -> str:
    from yetisearch_spark.analyzer import STOP_WORDS_EN
    return ", ".join(f"'{w}'" for w in sorted(STOP_WORDS_EN))


# simhash banding constants (max_hamming=6 → 7 bands of width 9, last 10)
_SIMHASH_BANDS_SQL = ", ".join(
    f"({i}, {i * 9}, {(1 << (9 if i < 6 else 10)) - 1})" for i in range(7))


_TOK_SQL = """
    SELECT doc_id, u.term AS term, u.pos AS pos
    FROM documents,
         LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
                         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos) u
    WHERE u.term <> ''
"""


def _exact_and_sql(prefix: str, terms: tuple[str, str] = ("data", "queri"),
                   normalize: bool = False) -> str:
    """BM25 AND top-10 recomputed from a materialized analyzer token table
    (same contribution formula / idf clamp / tie-break as
    query.SearchIndex; the 2-term sum is order-independent in IEEE).
    ``normalize``: apply the engine's R5 page normalization (0-100 by the
    fetched page's max raw score) — for entries routed through the full
    Engine.search facade."""
    t1, t2 = terms
    if normalize:
        final = """,
        sel AS (SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id LIMIT 10)
        SELECT doc_id, round(s / (SELECT max(s) FROM sel) * 100.0, 1) AS score
        FROM sel ORDER BY s DESC, doc_id"""
    else:
        final = """
        SELECT doc_id, round(s, 4) AS score FROM scored
        ORDER BY s DESC, doc_id LIMIT 10"""
    return f"""
        WITH tok AS (SELECT doc_id, term
                     FROM read_parquet('{MAT_DIR}/{prefix}_tokens/*.parquet')),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        g AS (SELECT n, avgdl
              FROM read_parquet('{MAT_DIR}/{prefix}_stats/*.parquet')),
        tfs AS (SELECT doc_id, term, count(*) AS tf FROM tok
                WHERE term IN ('{t1}','{t2}') GROUP BY doc_id, term),
        dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
        scored AS (
            SELECT t.doc_id,
                   sum({_idf_sql('d.df')} * t.tf * {K1 + 1.0}
                       / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl))) AS s
            FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id)
            CROSS JOIN g
            GROUP BY t.doc_id HAVING count(*) = 2){final}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk": f"""
            WITH tok AS ({_TOK_SQL}),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT (SELECT count(*) FROM documents) AS n,
                         (SELECT avg(dl) FROM dl) AS avgdl),
            tfs AS (SELECT doc_id, term, count(*) AS tf FROM tok
                    WHERE term IN ('data','query','spark') GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
            scored AS (
                SELECT t.doc_id,
                       sum( (CASE WHEN ln((g.n - d.df + 0.5)/(d.df + 0.5)) <= 0
                                  THEN 0.000001
                                  ELSE ln((g.n - d.df + 0.5)/(d.df + 0.5)) END)
                            * t.tf * {K1 + 1.0}
                            / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl)) ) AS s
                FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id) CROSS JOIN g
                GROUP BY t.doc_id)
            SELECT doc_id, round(s, 4) AS score FROM scored
            ORDER BY round(s, 4) DESC, doc_id LIMIT 10
        """,
        "term_stats": f"""
            WITH tok AS ({_TOK_SQL}),
            per_doc AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id)
            SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
            FROM per_doc GROUP BY term ORDER BY df DESC, term LIMIT 100
        """,
        "facet_lang": """
            SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents
            GROUP BY lang ORDER BY cnt DESC, lang
        """,
        "count_and": f"""
            WITH tok AS ({_TOK_SQL})
            SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT doc_id FROM tok WHERE term IN ('data','query')
                GROUP BY doc_id HAVING count(DISTINCT term) = 2)
        """,
        "phrase_count": f"""
            WITH tok AS ({_TOK_SQL})
            SELECT CAST(count(DISTINCT a.doc_id) AS BIGINT) AS cnt
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'data' AND b.term = 'query'
        """,
        "keyword_topn": f"""
            WITH tok AS ({_TOK_SQL})
            SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok
            GROUP BY term ORDER BY freq DESC, term LIMIT 20
        """,
        "dedup_rollup": """
            WITH rep AS (
                SELECT source, doc_id AS rep_doc_id,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents),
            agg AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS total_chars
                FROM documents GROUP BY source)
            SELECT agg.source, n_docs, total_chars, rep_doc_id
            FROM agg JOIN rep ON agg.source = rep.source AND rep.rn = 1
            ORDER BY agg.source
        """,
        "topk_orderby": """
            SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
            ORDER BY n_chars DESC, doc_id LIMIT 20
        """,
        "filter_ops": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                   round(sum(value), 4) AS sum_value
            FROM events
            WHERE event_type IN ('signup','error')
              AND value BETWEEN 50.0 AND 150.0
              AND props LIKE '%"k": 1%'
            GROUP BY event_type ORDER BY event_type
        """,
        "events_window": """
            SELECT user_id, event_id, round(value, 4) AS value FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rn
                FROM events) WHERE rn = 1 ORDER BY user_id
        """,
        "exact_dedup": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "token_count": f"""
            WITH tok AS ({_TOK_SQL}),
            per_doc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
            joined AS (SELECT d.lang, coalesce(p.n_tok, 0) AS n_tok
                       FROM documents d LEFT JOIN per_doc p USING(doc_id))
            SELECT lang, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   round(avg(n_tok), 4) AS avg_tokens
            FROM joined GROUP BY lang ORDER BY lang
        """,
        "quality_score": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_raw,
                   CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS punct_cnt
            FROM documents WHERE doc_id < 50 ORDER BY doc_id
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(CAST(list_cosine_similarity(embedding,
                                          (SELECT qv FROM q)) AS DOUBLE), 4) AS cos_sim
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "join_agg": """
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "ngram_jaccard": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
            grams AS (
                SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 3) AS gram
                FROM d, LATERAL (SELECT unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS i) u
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (
                SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
                FROM grams l JOIN grams r
                  ON l.gram = r.gram AND l.doc_id < r.doc_id
                GROUP BY l.doc_id, r.doc_id)
            SELECT a, b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3
            ORDER BY a, b
        """,
        "bm25_weighted_topk": f"""
            WITH tok AS ({_TOK_SQL}),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT (SELECT count(*) FROM documents) AS n,
                         (SELECT avg(dl) FROM dl) AS avgdl),
            tfs AS (SELECT doc_id, term,
                           sum(CASE WHEN pos <= 4 THEN 2.0 ELSE 1.0 END) AS tfw
                    FROM tok WHERE term IN ('data','query','spark')
                    GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
            scored AS (
                SELECT t.doc_id,
                       sum( (CASE WHEN ln((g.n - d.df + 0.5)/(d.df + 0.5)) <= 0
                                  THEN 0.000001
                                  ELSE ln((g.n - d.df + 0.5)/(d.df + 0.5)) END)
                            * t.tfw * {K1 + 1.0}
                            / (t.tfw + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl)) ) AS s
                FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id) CROSS JOIN g
                GROUP BY t.doc_id)
            SELECT doc_id, round(s, 4) AS score FROM scored
            ORDER BY round(s, 4) DESC, doc_id LIMIT 10
        """,
        "geo_knn": """
            WITH pts AS (
                SELECT doc_id,
                       -60.0 + (doc_id % 240) * 0.5 AS lat,
                       -180.0 + ((doc_id * 7) % 720) * 0.5 AS lng
                FROM documents),
            d AS (
                SELECT doc_id,
                       round(2.0 * 6371.0 * asin(least(1.0, sqrt(
                           pow(sin((radians(lat) - radians(10.0)) / 2), 2)
                           + cos(radians(10.0)) * cos(radians(lat))
                             * pow(sin((radians(lng) - radians(20.0)) / 2), 2)
                       ))) * 1000.0, 2) AS dist_m
                FROM pts)
            SELECT doc_id, dist_m FROM d ORDER BY dist_m ASC, doc_id LIMIT 20
        """,
        "simhash_pairs": f"""
            WITH h AS (SELECT doc_id, sh
                       FROM read_parquet('{MAT_DIR}/simhash/*.parquet')),
            bands(band, shift, mask) AS (VALUES {_SIMHASH_BANDS_SQL}),
            b AS (SELECT doc_id, sh, band, (sh >> shift) & mask AS bv
                  FROM h CROSS JOIN bands),
            cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                            l.sh AS ha, r.sh AS hb
                     FROM b l JOIN b r
                       ON l.band = r.band AND l.bv = r.bv
                      AND l.doc_id < r.doc_id)
            SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= 6
            ORDER BY a, b
        """,
        "langid": f"""
            SELECT lang_pred, CAST(count(*) AS BIGINT) AS cnt
            FROM read_parquet('{MAT_DIR}/langid/*.parquet')
            GROUP BY lang_pred ORDER BY lang_pred
        """,
        "minhash_dedup": f"""
            WITH RECURSIVE
            e AS (SELECT a, b FROM read_parquet('{MAT_DIR}/minhash_pairs/*.parquet')),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach(a, b) AS (
                SELECT a, b FROM sym
                UNION
                SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
            SELECT a AS doc_id, least(a, min(b)) AS group_id
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "emb_dedup": """
            WITH RECURSIVE
            p AS (SELECT a.vec_id AS a, b.vec_id AS b
                  FROM embeddings a JOIN embeddings b
                    ON a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.embedding, b.embedding)
                        >= 0.42),
            sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach(a, b) AS (
                SELECT a, b FROM sym
                UNION
                SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
            SELECT a AS doc_id, least(a, min(b)) AS group_id
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "lsh_ann": f"""
            WITH c AS (SELECT vec_id
                       FROM read_parquet('{MAT_DIR}/lsh_candidates/*.parquet')),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(CAST(list_cosine_similarity(e.embedding,
                                    (SELECT qv FROM q)) AS DOUBLE), 4) AS cos_sim
            FROM embeddings e JOIN c USING(vec_id)
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "ivf_ann": f"""
            WITH c AS (SELECT vec_id
                       FROM read_parquet('{MAT_DIR}/ivf_candidates/*.parquet')),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(CAST(list_cosine_similarity(e.embedding,
                                    (SELECT qv FROM q)) AS DOUBLE), 4) AS cos_sim
            FROM embeddings e JOIN c USING(vec_id)
            ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        "quality_features": rf"""
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            f AS (SELECT doc_id,
                    length(text) AS n_chars,
                    list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '') AS words,
                    length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct,
                    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers
                  FROM d),
            g AS (SELECT doc_id,
                    len(words) AS n_words,
                    CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
                    CASE WHEN n_chars > 0 THEN digits / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
                    CASE WHEN n_chars > 0 THEN uppers / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS upper_ratio,
                    CASE WHEN len(words) > 0
                         THEN len(list_filter(words, x -> list_contains([{_stop_list_sql()}], lower(x))))
                              / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS stop_ratio,
                    CASE WHEN len(words) > 0
                         THEN list_sum(list_transform(words, x -> length(x)))
                              / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS mean_wl
                  FROM f)
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(stop_ratio, 4) AS stopword_ratio,
                   round( (CASE WHEN n_words >= 5 AND n_words <= 5000 THEN 1.0 ELSE 0.3 END)
                        * (CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.5 END)
                        * (CASE WHEN digit_ratio <= 0.3 THEN 1.0 ELSE 0.5 END)
                        * (CASE WHEN upper_ratio <= 0.3 THEN 1.0 ELSE 0.7 END)
                        * (CASE WHEN mean_wl >= 2.0 AND mean_wl <= 12.0 THEN 1.0 ELSE 0.6 END)
                        * (CASE WHEN stop_ratio >= 0.1 AND stop_ratio <= 0.7 THEN 1.0 ELSE 0.8 END)
                        , 4) AS quality_score
            FROM g ORDER BY doc_id
        """,
        "chunk_rollup": f"""
            SELECT parent_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(chunk_chars) AS BIGINT) AS total_chars,
                   CAST(max(chunk_chars) AS BIGINT) AS max_chunk_chars
            FROM read_parquet('{MAT_DIR}/chunks/*.parquet')
            GROUP BY parent_id ORDER BY parent_id
        """,
        # engine entries: the analyzer (stemming/stop words) is not
        # ANSI-SQL-expressible, so each entry materializes its token table
        # (doc_id, pos, term) — the analyzer itself is verified by the
        # SQLite FTS5 rank-identity pytest suite — and DuckDB recomputes
        # BM25 / phrase / NEAR-trim / overfetch / rescore / normalization
        # from those tokens, value-checking the whole downstream pipeline.
        "engine_search": _exact_and_sql("engs"),
        "engine_pruned_topk": _exact_and_sql("engp"),
        "engine_pruned_facade": _exact_and_sql("engpf", normalize=True),
        "weighted_phrase_pruned": f"""
            WITH tok AS (SELECT doc_id, field_id, fpos, term
                         FROM read_parquet('{MAT_DIR}/wphp_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/wphp_stats/*.parquet')),
            inst AS (SELECT a.doc_id,
                            sum(CASE WHEN a.field_id = 0
                                     THEN 2.0 ELSE 1.0 END) AS tfw
                     FROM tok a JOIN tok b
                       ON a.doc_id = b.doc_id AND a.field_id = b.field_id
                      AND b.fpos = a.fpos + 1
                     WHERE a.term = 'data' AND b.term = 'queri'
                     GROUP BY a.doc_id),
            ph AS (SELECT count(*) AS df FROM inst),
            scored AS (
                SELECT i.doc_id,
                       {_idf_sql('ph.df')} * i.tfw * {K1 + 1.0}
                       / (i.tfw + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl))
                       AS s
                FROM inst i JOIN dl USING(doc_id) CROSS JOIN g CROSS JOIN ph)
            SELECT doc_id, round(s, 4) AS score FROM scored
            ORDER BY round(s, 4) DESC, doc_id LIMIT 10
        """,
        "engine_filtered_single": f"""
            WITH tok AS (SELECT doc_id, term
                         FROM read_parquet('{MAT_DIR}/engfs_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/engfs_stats/*.parquet')),
            tfs AS (SELECT doc_id, count(*) AS tf FROM tok
                    WHERE term = 'data' GROUP BY doc_id),
            dfs AS (SELECT count(*) AS df FROM tfs),
            scored AS (
                SELECT t.doc_id,
                       {_idf_sql('d.df')} * t.tf * {K1 + 1.0}
                       / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl)) AS s
                FROM tfs t CROSS JOIN dfs d JOIN dl USING(doc_id)
                CROSS JOIN g),
            fil AS (SELECT sc.doc_id, sc.s FROM scored sc
                    JOIN read_parquet('{MAT_DIR}/engfs_roles/*.parquet') r
                      USING(doc_id)
                    WHERE r.role = 'src13'),
            sel AS (SELECT doc_id, s FROM fil ORDER BY s DESC, doc_id LIMIT 10)
            SELECT doc_id,
                   round(s / (SELECT max(s) FROM sel) * 100.0, 1) AS score,
                   (SELECT CAST(count(*) AS BIGINT) FROM fil) AS total
            FROM sel ORDER BY s DESC, doc_id
        """,
        "engine_filtered_and": f"""
            WITH tok AS (SELECT doc_id, term
                         FROM read_parquet('{MAT_DIR}/engfl_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/engfl_stats/*.parquet')),
            tfs AS (SELECT doc_id, term, count(*) AS tf FROM tok
                    WHERE term IN ('data','queri') GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
            scored AS (
                SELECT t.doc_id,
                       sum({_idf_sql('d.df')} * t.tf * {K1 + 1.0}
                           / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl))) AS s
                FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id)
                CROSS JOIN g
                GROUP BY t.doc_id HAVING count(*) = 2),
            fil AS (SELECT sc.doc_id, sc.s FROM scored sc
                    JOIN read_parquet('{MAT_DIR}/engfl_roles/*.parquet') r
                      USING(doc_id)
                    WHERE r.role = 'src13'),
            sel AS (SELECT doc_id, s FROM fil ORDER BY s DESC, doc_id LIMIT 10)
            SELECT doc_id,
                   round(s / (SELECT max(s) FROM sel) * 100.0, 1) AS score,
                   (SELECT CAST(count(*) AS BIGINT) FROM fil) AS total
            FROM sel ORDER BY s DESC, doc_id
        """,
        # weighted-OR through the engine: slot order is phrase, NEAR
        # member 1 (data), NEAR member 2 (spark), bare queri, bare join;
        # NEAR member idfs use the member TERM's standalone df; total =
        # |union of slot doc sets| (docs matching 'data' alone are NOT
        # matches — 'data' is only a constituent, not a slot)
        "engine_wor_facade": f"""
            WITH tok AS (SELECT doc_id, pos, term
                         FROM read_parquet('{MAT_DIR}/engw_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/engw_stats/*.parquet')),
            pd AS (SELECT doc_id, pos FROM tok WHERE term = 'data'),
            pq AS (SELECT doc_id, pos FROM tok WHERE term = 'queri'),
            psp AS (SELECT doc_id, pos FROM tok WHERE term = 'spark'),
            tq AS (SELECT doc_id, count(*) AS tf FROM pq GROUP BY doc_id),
            tj AS (SELECT doc_id, count(*) AS tf FROM tok
                   WHERE term = 'join' GROUP BY doc_id),
            ph AS (SELECT a.doc_id, count(*) AS tf
                   FROM pd a JOIN pq b
                     ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   GROUP BY a.doc_id),
            -- FTS5 NEAR(data spark, 6) trim for len-1 phrases: an
            -- instance survives iff a partner lies within |gap| <= 7
            n1 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT a.doc_id, a.pos FROM pd a JOIN psp b
                       ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 7)
                   GROUP BY doc_id),
            n2 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT b.doc_id, b.pos FROM pd a JOIN psp b
                       ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 7)
                   GROUP BY doc_id),
            st AS (SELECT (SELECT count(*) FROM ph) AS dfph,
                          (SELECT count(DISTINCT doc_id) FROM pd) AS dfd,
                          (SELECT count(DISTINCT doc_id) FROM psp) AS dfsp,
                          (SELECT count(*) FROM tq) AS dfq,
                          (SELECT count(*) FROM tj) AS dfj),
            cset AS (SELECT doc_id FROM ph UNION SELECT doc_id FROM n1
                     UNION SELECT doc_id FROM tq
                     UNION SELECT doc_id FROM tj),
            tot AS (SELECT count(*) AS total FROM cset),
            per AS (SELECT c.doc_id, dl.dl,
                           ph.tf AS tf0, n1.tf AS ntf1, n2.tf AS ntf2,
                           tq.tf AS tf3, tj.tf AS tf4
                    FROM cset c JOIN dl USING(doc_id)
                    LEFT JOIN ph USING(doc_id) LEFT JOIN n1 USING(doc_id)
                    LEFT JOIN n2 USING(doc_id) LEFT JOIN tq USING(doc_id)
                    LEFT JOIN tj USING(doc_id)),
            raw AS (SELECT doc_id,
                      ((((coalesce(c0, 0.0) + coalesce(c1, 0.0))
                         + coalesce(c2, 0.0)) + coalesce(c3, 0.0))
                       + coalesce(c4, 0.0)) AS s
                    FROM (SELECT dl.doc_id,
                        {_contrib_sql(_idf_sql('st.dfph'), 'dl.tf0')} AS c0,
                        {_contrib_sql(_idf_sql('st.dfd'), 'dl.ntf1')} AS c1,
                        {_contrib_sql(_idf_sql('st.dfsp'), 'dl.ntf2')} AS c2,
                        {_contrib_sql(_idf_sql('st.dfq'), 'dl.tf3')} AS c3,
                        {_contrib_sql(_idf_sql('st.dfj'), 'dl.tf4')} AS c4
                      FROM per dl CROSS JOIN g CROSS JOIN st)),
            sel AS (SELECT doc_id, s FROM raw
                    ORDER BY s DESC, doc_id LIMIT 10)
            SELECT doc_id,
                   round(s / (SELECT max(s) FROM sel) * 100.0, 1) AS score,
                   CAST((SELECT total FROM tot) AS BIGINT) AS total
            FROM sel ORDER BY s DESC, doc_id
        """,
        "engine_deleted_search": f"""
            WITH tomb AS (SELECT doc_id
                          FROM read_parquet('{MAT_DIR}/engd_tombs/*.parquet')),
            tok AS (SELECT doc_id, term
                    FROM read_parquet('{MAT_DIR}/engd_tokens/*.parquet')
                    WHERE doc_id NOT IN (SELECT doc_id FROM tomb)),
            vic_toks AS (SELECT count(*) AS vt
                         FROM read_parquet('{MAT_DIR}/engd_tokens/*.parquet')
                         WHERE doc_id IN (SELECT doc_id FROM tomb)),
            g0 AS (SELECT n, avgdl
                   FROM read_parquet('{MAT_DIR}/engd_stats/*.parquet')),
            -- stats corrected over the SURVIVORS: n drops by the victim
            -- count, avgdl re-averages the remaining tokens
            g AS (SELECT (g0.n - (SELECT count(*) FROM tomb)) AS n,
                         ((g0.n * g0.avgdl - (SELECT vt FROM vic_toks))
                          / (g0.n - (SELECT count(*) FROM tomb))) AS avgdl
                  FROM g0),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            tfs AS (SELECT doc_id, term, count(*) AS tf FROM tok
                    WHERE term IN ('data','queri') GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
            scored AS (
                SELECT t.doc_id,
                       sum({_idf_sql('d.df')} * t.tf * {K1 + 1.0}
                           / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl))) AS s
                FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id)
                CROSS JOIN g
                GROUP BY t.doc_id HAVING count(*) = 2)
            SELECT doc_id, round(s, 4) AS score FROM scored
            ORDER BY s DESC, doc_id LIMIT 10
        """,
        "near3_topk": f"""
            WITH tok AS (SELECT doc_id, pos, term
                         FROM read_parquet('{MAT_DIR}/near3_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/near3_stats/*.parquet')),
            p1 AS (SELECT doc_id, pos FROM tok WHERE term = 'dup'),
            p2 AS (SELECT doc_id, pos FROM tok WHERE term = 'join'),
            p3 AS (SELECT doc_id, pos FROM tok WHERE term = 'hash'),
            st AS (SELECT (SELECT count(DISTINCT doc_id) FROM p1) AS df1,
                          (SELECT count(DISTINCT doc_id) FROM p2) AS df2,
                          (SELECT count(DISTINCT doc_id) FROM p3) AS df3),
            -- FTS5 near-group end-set: candidate ends = every member
            -- instance; ok_j(m) iff member j has an instance in
            -- [m, m + distance + 1] (len-1 phrases, distance 10)
            ms AS (SELECT doc_id, pos FROM p1
                   UNION SELECT doc_id, pos FROM p2
                   UNION SELECT doc_id, pos FROM p3),
            ok1 AS (SELECT DISTINCT m.doc_id, m.pos FROM ms m JOIN p1 a
                      ON a.doc_id = m.doc_id
                     AND a.pos BETWEEN m.pos AND m.pos + 11),
            ok2 AS (SELECT DISTINCT m.doc_id, m.pos FROM ms m JOIN p2 a
                      ON a.doc_id = m.doc_id
                     AND a.pos BETWEEN m.pos AND m.pos + 11),
            ok3 AS (SELECT DISTINCT m.doc_id, m.pos FROM ms m JOIN p3 a
                      ON a.doc_id = m.doc_id
                     AND a.pos BETWEEN m.pos AND m.pos + 11),
            v1 AS (SELECT doc_id, pos FROM ok2
                   INTERSECT SELECT doc_id, pos FROM ok3),
            v2 AS (SELECT doc_id, pos FROM ok1
                   INTERSECT SELECT doc_id, pos FROM ok3),
            v3 AS (SELECT doc_id, pos FROM ok1
                   INTERSECT SELECT doc_id, pos FROM ok2),
            -- instance x of member i survives iff a valid end (all
            -- OTHER members ok) lies in [x - distance - 1, x]
            n1 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT a.doc_id, a.pos FROM p1 a JOIN v1 v
                       ON v.doc_id = a.doc_id
                      AND v.pos BETWEEN a.pos - 11 AND a.pos)
                   GROUP BY doc_id),
            n2 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT a.doc_id, a.pos FROM p2 a JOIN v2 v
                       ON v.doc_id = a.doc_id
                      AND v.pos BETWEEN a.pos - 11 AND a.pos)
                   GROUP BY doc_id),
            n3 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT a.doc_id, a.pos FROM p3 a JOIN v3 v
                       ON v.doc_id = a.doc_id
                      AND v.pos BETWEEN a.pos - 11 AND a.pos)
                   GROUP BY doc_id),
            matched AS (SELECT DISTINCT doc_id FROM (
                          SELECT doc_id, pos FROM v1
                          INTERSECT SELECT doc_id, pos FROM ok1)),
            per AS (SELECT m.doc_id, dl.dl,
                           n1.tf AS tf1, n2.tf AS tf2, n3.tf AS tf3
                    FROM matched m JOIN dl USING(doc_id)
                    JOIN n1 USING(doc_id) JOIN n2 USING(doc_id)
                    JOIN n3 USING(doc_id)),
            -- slot-order accumulation over the trimmed member tfs
            raw AS (SELECT doc_id, ((c1 + c2) + c3) AS s FROM
                    (SELECT dl.doc_id,
                        {_contrib_sql(_idf_sql('st.df1'), 'dl.tf1')} AS c1,
                        {_contrib_sql(_idf_sql('st.df2'), 'dl.tf2')} AS c2,
                        {_contrib_sql(_idf_sql('st.df3'), 'dl.tf3')} AS c3
                      FROM per dl CROSS JOIN g CROSS JOIN st))
            SELECT doc_id, round(s, 4) AS score FROM raw
            ORDER BY s DESC, doc_id LIMIT 10
        """,

        "engine_boosted": f"""
            WITH tok AS (SELECT doc_id, field_id, term
                         FROM read_parquet('{MAT_DIR}/engb_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/engb_stats/*.parquet')),
            tfs AS (SELECT doc_id, term,
                           sum(CASE WHEN field_id = 0 THEN 3.0 ELSE 1.0 END) AS tf
                    FROM tok WHERE term IN ('data','queri')
                    GROUP BY doc_id, term),
            dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
            scored AS (
                SELECT t.doc_id,
                       sum({_idf_sql('d.df')} * t.tf * {K1 + 1.0}
                           / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / g.avgdl))) AS s
                FROM tfs t JOIN dfs d USING(term) JOIN dl USING(doc_id)
                CROSS JOIN g
                GROUP BY t.doc_id HAVING count(*) = 2),
            cand AS (SELECT doc_id, s FROM scored
                     ORDER BY s DESC, doc_id LIMIT 200),
            resc AS (SELECT c.doc_id, c.s * f.factor AS rs
                     FROM cand c
                     JOIN read_parquet('{MAT_DIR}/engb_factor/*.parquet') f
                       USING(doc_id)),
            wm AS (SELECT max(rs) AS w FROM resc)
            SELECT doc_id, round(rs / (SELECT w FROM wm) * 100.0, 1) AS score
            FROM resc ORDER BY rs DESC, doc_id LIMIT 10
        """,
        "engine_geo": f"""
            WITH d AS (
                SELECT doc_id,
                       2.0 * 6371.0 * asin(least(1.0, sqrt(
                           pow(sin((radians(lat) - radians(0.0)) / 2), 2)
                           + cos(radians(0.0)) * cos(radians(lat))
                             * pow(sin((radians(lng) - radians(0.0)) / 2), 2)
                       ))) * 1000.0 AS dist
                FROM read_parquet('{MAT_DIR}/engg_cand/*.parquet'))
            SELECT doc_id, round(dist, 2) AS dist_m FROM d
            WHERE dist <= 3000000.0
            ORDER BY dist ASC, doc_id LIMIT 10
        """,
        "engine_fuzzy": f"""
            WITH tok AS (SELECT doc_id, pos, term
                         FROM read_parquet('{MAT_DIR}/engf_tokens/*.parquet')),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            g AS (SELECT n, avgdl
                  FROM read_parquet('{MAT_DIR}/engf_stats/*.parquet')),
            ctx AS (SELECT t1, t2
                    FROM read_parquet('{MAT_DIR}/engf_ctx/*.parquet')),
            p1 AS (SELECT doc_id, pos FROM tok
                   WHERE term = (SELECT t1 FROM ctx)),
            p2 AS (SELECT doc_id, pos FROM tok
                   WHERE term = (SELECT t2 FROM ctx)),
            t1s AS (SELECT doc_id, count(*) AS tf FROM p1 GROUP BY doc_id),
            t2s AS (SELECT doc_id, count(*) AS tf FROM p2 GROUP BY doc_id),
            ph AS (SELECT a.doc_id, count(*) AS tf
                   FROM p1 a JOIN p2 b
                     ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   GROUP BY a.doc_id),
            -- FTS5 NEAR(p1 p2, 10) trim for len-1 phrases: an instance
            -- survives iff a partner lies within |gap| <= distance + 1
            n1 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT a.doc_id, a.pos FROM p1 a JOIN p2 b
                       ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 11)
                   GROUP BY doc_id),
            n2 AS (SELECT doc_id, count(*) AS tf FROM (
                     SELECT DISTINCT b.doc_id, b.pos FROM p1 a JOIN p2 b
                       ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 11)
                   GROUP BY doc_id),
            st AS (SELECT (SELECT count(*) FROM ph) AS df0,
                          (SELECT count(*) FROM t1s) AS df1,
                          (SELECT count(*) FROM t2s) AS df2),
            per AS (SELECT c.doc_id, dl.dl,
                           ph.tf AS tf0, n1.tf AS ntf1, n2.tf AS ntf2,
                           t1s.tf AS tf3, t2s.tf AS tf4
                    FROM (SELECT doc_id FROM t1s
                          UNION SELECT doc_id FROM t2s) c
                    JOIN dl USING(doc_id)
                    LEFT JOIN ph USING(doc_id) LEFT JOIN n1 USING(doc_id)
                    LEFT JOIN n2 USING(doc_id) LEFT JOIN t1s USING(doc_id)
                    LEFT JOIN t2s USING(doc_id)),
            -- slot-order accumulation: phrase, NEAR member 1, NEAR member
            -- 2, exact term 1, exact term 2 (absent slots add 0.0, which
            -- cannot perturb an IEEE sum of non-negative terms)
            raw AS (SELECT doc_id,
                      ((((coalesce(c0, 0.0) + coalesce(c1, 0.0))
                         + coalesce(c2, 0.0)) + coalesce(c3, 0.0))
                       + coalesce(c4, 0.0)) AS s
                    FROM (SELECT dl.doc_id,
                        {_contrib_sql(_idf_sql('st.df0'), 'dl.tf0')} AS c0,
                        {_contrib_sql(_idf_sql('st.df1'), 'dl.ntf1')} AS c1,
                        {_contrib_sql(_idf_sql('st.df2'), 'dl.ntf2')} AS c2,
                        {_contrib_sql(_idf_sql('st.df1'), 'dl.tf3')} AS c3,
                        {_contrib_sql(_idf_sql('st.df2'), 'dl.tf4')} AS c4
                      FROM per dl CROSS JOIN g CROSS JOIN st)),
            cand AS (SELECT doc_id, s FROM raw
                     ORDER BY s DESC, doc_id LIMIT 200),
            wm AS (SELECT max(s) AS w FROM cand),
            fin AS (SELECT c.doc_id, c.s * (1.0 - p.penalty) AS ps
                    FROM cand c
                    JOIN read_parquet('{MAT_DIR}/engf_penalty/*.parquet') p
                      USING(doc_id))
            SELECT doc_id, round(ps / (SELECT w FROM wm) * 100.0, 1) AS score
            FROM fin ORDER BY ps DESC, doc_id LIMIT 10
        """,
    }
