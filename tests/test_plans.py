"""Physical-plan assertions: the scan-level optimizations we claim must
actually appear in the executed plans (bucket partition pruning, term
predicate pushdown, column pruning, broadcast join, whole-stage codegen)."""

import pytest
from pyspark.sql import functions as F

from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.build import build_index
from yetisearch_spark.query import SearchIndex


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plan_idx"))
    pdf = generate_transcripts(1000, seed=13)
    build_index(spark, spark.createDataFrame(pdf), out, num_buckets=8)
    # cache_docs=False: plan tests must see the parquet scans, and a cached
    # docs relation would be substituted into every matching subtree
    return SearchIndex(spark, out, cache_docs=False)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()

from contextlib import contextmanager


@contextmanager
def no_aqe(spark):
    """Plan-shape tests walk the physical tree; compile non-adaptively so
    the tree is plain (AQE wraps stages in opaque adaptive nodes)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def nodes_above_cache(df):
    """Physical-plan node names, NOT descending into cached relations —
    per-query work only (the cache-fill repartition lives inside the
    InMemoryRelation definition and runs once, not per query)."""
    out = []

    def walk(n):
        nm = n.nodeName()
        out.append(nm)
        if nm.startswith("InMemoryTableScan"):
            return
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _shuffles(nodes):
    return [n for n in nodes if n == "Exchange"]


def test_postings_read_prunes_buckets_and_pushes_term(index):
    from yetisearch_spark.xxhash64 import bucket_of
    term = index._term_stats.limit(1).collect()[0]["term"]
    b = bucket_of(term, index.num_buckets)
    df = (index._postings
          .where(F.col("bucket").isin([b]))
          .where(F.col("term") == term)
          .select("term", "data"))
    plan = _plan(df)
    # partition pruning on the bucket directory column
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    # term predicate pushed to the parquet scan
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "term" in pushed and "IsNotNull" in pushed or "EqualTo" in pushed
    # column pruning: data+term only (no min_doc/block_max in ReadSchema)
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "block_max_norm" not in read_schema


def test_prefix_range_pushdown(index):
    df = (index._postings
          .where((F.col("term") >= "da") & (F.col("term") < "db"))
          .select("term", "data"))
    pushed = _plan(df).split("PushedFilters", 1)[1][:300]
    assert "GreaterThanOrEqual" in pushed and "LessThan" in pushed


def test_docs_filter_pushdown(index):
    df = index._docs.where(F.col("role") == "assistant").select("doc_id", "role")
    plan = _plan(df)
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "role" in pushed
    # text/tokens not read for this projection
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "tokens" not in read_schema and "text" not in read_schema


def test_with_docs_uses_broadcast_join(index):
    df = index.search("data", k=5, with_docs=True)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_wholestage_codegen_on_scoring(spark, index):
    from yetisearch_spark.query import parse_query
    df = index.match_scores(parse_query("(data AND process) OR system"))
    df.collect()  # fill the decode caches
    plan = _plan(df)
    # '*(n)' markers are WholeStageCodegen spans in treeString output
    assert "*(" in plan
    # scoring shape: contributions union → ONE hash aggregation with NO
    # per-query exchange (the co-partitioned caches carry the
    # partitioning through the union); no join operators at all
    with no_aqe(spark):
        # bypass the prepared-plan LRU (it would hand back the
        # AQE-compiled frame from the collect above)
        nodes = nodes_above_cache(index._match_scores_build(
            parse_query("(data AND process) OR system"), None).scores)
    assert not any("Join" in n for n in nodes), nodes
    assert len(_shuffles(nodes)) == 0, nodes
    assert any("HashAggregate" in n for n in nodes), nodes


def _warm_hot(index, q):
    """One touch fills every term's decode in its final cached layout —
    the HOT serving layout the zero-exchange assertions are about."""
    from yetisearch_spark.query import parse_query
    node = parse_query(q)
    index.match_scores(node).collect()
    return node


def test_or_query_single_shuffle_any_width(spark, index):
    """An OR-of-terms scoring plan must contain exactly one scoring
    exchange regardless of term count (scale: shuffles don't grow with
    query length)."""
    with no_aqe(spark):
        node = _warm_hot(index, "data OR process OR system OR run")
        nodes = nodes_above_cache(
            index._match_scores_build(node, None).scores)
    # co-partitioned caches: the union keeps hashpartitioning(doc_id), so
    # the scoring aggregation needs NO exchange at all (round 2 had one)
    assert len(_shuffles(nodes)) == 0, nodes


def test_and_query_is_shuffle_free_join(spark, index):
    """A flat AND of single terms joins the co-partitioned cached
    per-term match tables — ZERO per-query exchanges (no shuffle, no
    broadcast: the cache-fill repartition is the only exchange and it
    lives inside the cached relation)."""
    with no_aqe(spark):
        node = _warm_hot(index, "data process system run check")
        nodes = nodes_above_cache(
            index._match_scores_build(node, None).scores)
    assert len(_shuffles(nodes)) == 0, nodes
    # Catalyst may still COST-choose a broadcast for tiny cached frames;
    # what must never appear per-query is a shuffle exchange
    assert any("Join" in n for n in nodes), nodes


def test_flat_or_skips_qualification_column(spark, index):
    """A flat OR is trivially qualified — the plan must carry no
    collect_set/array_contains work through the shuffle."""
    with no_aqe(spark):
        node = _warm_hot(index, "data OR process OR system")
        df = index._match_scores_build(node, None).scores
        nodes = nodes_above_cache(df)
        plan = _plan(df)
    assert "collect_set" not in plan, plan
    assert "array_contains" not in plan, plan
    assert len(_shuffles(nodes)) == 0, nodes


def test_pruned_and_broadcasts_into_largest(spark, index):
    """The pruned tier scores through SearchIndex._score with
    copart=False: its flat AND broadcasts the rarer sides into the
    largest pruned frame and never takes the co-partitioned plain join,
    which over pruned (never co-partitioned) frames would plan a sort-
    merge join."""
    from yetisearch_spark.query import parse_query
    from yetisearch_spark.wand import pruned_scored
    with no_aqe(spark):
        scored, info = pruned_scored(index, parse_query("data AND process"),
                                     10, gate_blocks=0)
        assert scored is not None and info["shape"] == "and", info
        plan = _plan(scored)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_broadcast_guard_falls_back_to_shuffle(index):
    """With the broadcast cap at 0 (simulating head terms at corpus
    scale), AND/OR must take the single-shuffle aggregation and return
    identical results."""
    from yetisearch_spark.query import parse_query
    want_and = [(r["doc_id"], round(r["score"], 9)) for r in
                index.search("data AND process", k=10).collect()]
    want_or = [(r["doc_id"], round(r["score"], 9)) for r in
               index.search("data OR process", k=10).collect()]
    # the broadcast cap guards UNCACHED serving (cached frames are
    # co-partitioned, so nothing broadcasts there regardless of size)
    from yetisearch_spark.query import SearchIndex
    uncached = SearchIndex(index.spark, index.index_dir,
                           cache_postings=False, cache_docs=False)
    old = uncached.BROADCAST_DF_CAP
    uncached.BROADCAST_DF_CAP = 0
    try:
        with no_aqe(index.spark):
            df = uncached.match_scores(parse_query("data AND process"))
            nodes = nodes_above_cache(df)
        assert len(_shuffles(nodes)) == 1, nodes
        index.BROADCAST_DF_CAP = 0
        got_and = [(r["doc_id"], round(r["score"], 9)) for r in
                   index.search("data AND process", k=10).collect()]
        got_or = [(r["doc_id"], round(r["score"], 9)) for r in
                  index.search("data OR process", k=10).collect()]
    finally:
        index.BROADCAST_DF_CAP = old
    assert got_and == want_and
    assert got_or == want_or


def test_metadata_phase_never_reads_data_column(index):
    # the WAND phase-1 projection must not touch the `data` bytes
    df = (index._postings
          .where(F.col("term") == "data")
          .select("term", "min_doc", "max_doc", "n_docs", "block_max_norm"))
    read_schema = _plan(df).split("ReadSchema", 1)[1][:400]
    assert "data" not in read_schema.replace("max_doc", "").replace("min_doc", "")


def test_phrase_match_is_jvm_join_chain(index):
    """Round-3 phrase kernel: the phrase match table is a join chain over
    the co-partitioned per-term decode caches — JVM start-set
    intersection (no Python between decode and intersection), and the
    hot query runs as ONE job with ONE stage (zero exchanges outside the
    cached frames: head-term postings never cross a per-query shuffle)."""
    from yetisearch_spark.query import Phrase

    rows = (index._term_stats.orderBy(F.desc("df")).limit(20).collect())
    from yetisearch_spark.analyzer import analyze
    terms = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    p = Phrase((terms[0], terms[1]))
    mt = index._phrase_match(p)
    mt.collect()  # fill the decode caches
    with no_aqe(index.spark):
        nodes = nodes_above_cache(index._phrase_match(p))
        plan = _plan(index._phrase_match(p))
    # no Python/pandas evaluation above the cached decodes; intersection
    # (array_intersect) runs JVM-side
    assert not any("Pandas" in n or "Python" in n for n in nodes), nodes
    assert "array_intersect" in plan
    # zero per-query shuffles: head-term postings never cross a
    # per-query shuffle (the cache-fill repartition is inside the cache;
    # tiny frames may still be cost-chosen for broadcast)
    assert len(_shuffles(nodes)) == 0, nodes
    assert any("Join" in n for n in nodes), nodes


def test_phrase_match_bounded_by_rarest_df(index):
    """Row-count bound: |phrase match input| <= rarest term's df (the
    broadcast chain's first input), not the head term's df."""
    from yetisearch_spark.query import Phrase

    rows = (index._term_stats.orderBy(F.desc("df")).limit(20).collect())
    from yetisearch_spark.analyzer import analyze
    terms = [(r["term"], r["df"]) for r in rows
             if analyze(r["term"]) == [r["term"]]]
    (t_head, df_head), (t_rare, df_rare) = terms[0], terms[-1]
    assert df_rare < df_head
    p = Phrase((t_head, t_rare))
    mt = index._phrase_match(p)
    # every surviving row carries both terms, so the join output is
    # bounded by the rarest frame
    assert mt.count() <= df_rare


def test_near_pairwise_is_jvm(index):
    """k=2 NEAR runs without a Python kernel (exists/filter higher-order
    functions), matching the pandas trim exactly."""
    from yetisearch_spark.query import Near, parse_query

    rows = (index._term_stats.orderBy(F.desc("df")).limit(20).collect())
    from yetisearch_spark.analyzer import analyze
    terms = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    node = parse_query(f"NEAR({terms[0]} {terms[1]}, 5)")
    assert isinstance(node, Near)
    import numpy as np
    from yetisearch_spark.query import _near_trim

    slots, pt, pdf_, nt, handles = index._plan(node)
    try:
        near_df = nt[node]
        got = sorted(tuple(r) for r in near_df.collect())
        with no_aqe(index.spark):
            # rebuild un-persisted so the walker sees the kernel plan
            raw = index._near_table(node, pt)
            nodes = nodes_above_cache(raw)
        assert not any("Pandas" in n or "Python" in n for n in nodes), nodes
        # recompute expected rows driver-side with the generic numpy trim
        p0, p1 = node.phrases
        t0 = {r["doc_id"]: (r["doc_len"], r["positions"])
              for r in pt[p0].collect()}
        t1 = {r["doc_id"]: r["positions"] for r in pt[p1].collect()}
        want = []
        for d in sorted(set(t0) & set(t1)):
            inst = [np.asarray(t0[d][1], dtype=np.int64),
                    np.asarray(t1[d], dtype=np.int64)]
            matched, counts = _near_trim(inst, [len(p0.terms), len(p1.terms)],
                                         node.distance)
            if matched:
                want.append((d, t0[d][0], counts[0], counts[1]))
    finally:
        index.release(handles)
    assert got, "NEAR produced no rows for two head terms"
    assert got == sorted(want)
