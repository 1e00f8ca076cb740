"""Shared helpers of the facade-route test modules (test_round5_facade,
test_round6_totals, test_round7_filtered_engine, test_round7_cursor_pruned,
test_round7_weighted): the block-max pruned tier must be reachable from
the user facades (SearchIndex.search / Engine.search) and stay
result-identical — pages AND totals — with the exact path."""

from yetisearch_spark.analyzer import analyze
from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.engine import Engine
from yetisearch_spark.query import SearchIndex


def _build(spark, tmp_path_factory, name, n_turns, seed):
    out = str(tmp_path_factory.mktemp(name))
    pdf = generate_transcripts(n_turns, seed=seed)
    build_index(spark, spark.createDataFrame(pdf), out,
                num_buckets=8, block_size=16)
    return out


def _top_terms(index, n):
    """The n highest-df terms that analyze to themselves."""
    rows = (index._term_stats.orderBy("df", ascending=False)
            .limit(50).collect())
    terms = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    return terms[:n]


def _engine(spark, index_dir, gate, **config):
    """Engine over ``index_dir`` as index "t"; gate -1 disables facade
    pruning, 0 forces it."""
    return Engine(spark, {"t": index_dir},
                  config={"pruned_gate_blocks": gate, "enable_fuzzy": False,
                          **config})


def _exact_and_routed(spark, index_dir):
    return _engine(spark, index_dir, -1), _engine(spark, index_dir, 0)


def _page(index, q, k=10):
    return [(r["doc_id"], round(r["score"], 9))
            for r in index.search(q, k=k).collect()]


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _cursor_twins(spark, index_dir):
    """SearchIndex twins with the pruned route forced, and disabled."""
    pruned_idx = SearchIndex(spark, index_dir)
    pruned_idx.pruned_gate_blocks = 0
    exact_idx = SearchIndex(spark, index_dir)
    exact_idx.pruned_gate_blocks = -1
    return pruned_idx, exact_idx
