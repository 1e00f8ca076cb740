"""Property-based lifecycle: RANDOM mutation sequences (segment appends,
per-document upserts, prefix deletes — with auto-compaction sometimes
firing mid-sequence) must keep the serving view equal to a from-scratch
build of the logical document state: same match sets while segmented
(score drift from delete-df residue is the documented approximation),
and score-identical at 1e-9 after compaction."""

import shutil

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.query import SearchIndex

QUERIES = ["data", "data AND process", '"data process"', "comput*",
           "error OR fail"]


def _key(row):
    return (row["conv_id"], int(row["turn_idx"]))


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    """The 350-turn base index every example starts from, built once;
    each example mutates its own copy. → (index dir, base rows, pool)."""
    pdf = generate_transcripts(700, seed=55)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    base, pool = pdf.iloc[:350], pdf.iloc[350:].reset_index(drop=True)
    out = str(tmp_path_factory.mktemp("prop_life_base") / "idx")
    build_index(spark, spark.createDataFrame(base), out, num_buckets=8)
    return out, base, pool


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=st.data())
def test_random_mutation_sequences(data, spark, tmp_path_factory,
                                   base_index):
    from yetisearch_spark.engine import Engine, SearchQuery
    from yetisearch_spark.streaming import (compact_in_place,
                                            delete_by_conv_prefix,
                                            list_segments,
                                            upsert_documents)

    base_dir, base, pool = base_index
    out = str(tmp_path_factory.mktemp("prop_life") / "idx")
    shutil.copytree(base_dir, out)
    eng = Engine(spark, {"m": out})
    # logical state: key -> text (what a correct engine must serve)
    state = {_key(r): r["text"] for _, r in base.iterrows()}
    pool_pos = 0
    # small threshold sometimes -> compaction fires MID-sequence
    auto = data.draw(st.sampled_from([None, 3]))

    n_ops = data.draw(st.integers(min_value=2, max_value=4))
    for op_i in range(n_ops):
        op = data.draw(st.sampled_from(["append", "upsert", "delete"]))
        if op == "append" and pool_pos < len(pool):
            n = data.draw(st.integers(min_value=10, max_value=40))
            chunk = pool.iloc[pool_pos: pool_pos + n]
            pool_pos += len(chunk)
            if len(chunk) == 0:
                continue
            upsert_documents(spark, out, spark.createDataFrame(chunk),
                             epoch=100 + op_i,
                             auto_compact_segments=auto)
            for _, r in chunk.iterrows():
                state[_key(r)] = r["text"]
        elif op == "upsert":
            keys = sorted(state)
            picks = data.draw(st.lists(
                st.integers(min_value=0, max_value=len(keys) - 1),
                min_size=1, max_size=5, unique=True))
            rows = []
            for p in picks:
                cid, turn = keys[p]
                rows.append((cid, turn, "user",
                             state[(cid, turn)] + " zzmutated",
                             None, pd.Timestamp("2025-06-01")))
            chunk = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                                "role", "text", "tool",
                                                "ts"])
            upsert_documents(spark, out, spark.createDataFrame(chunk),
                             epoch=200 + op_i,
                             auto_compact_segments=auto)
            for _, r in chunk.iterrows():
                state[_key(r)] = r["text"]
        else:  # delete by conv prefix
            convs = sorted({k[0] for k in state})
            pick = convs[data.draw(st.integers(0, len(convs) - 1))]
            delete_by_conv_prefix(spark, out, pick)
            state = {k: v for k, v in state.items() if k[0] != pick}

    # twin: one-shot build of the logical state
    twin_rows = pd.DataFrame(
        [(c, t, "user", txt, None, pd.Timestamp("2025-01-01"))
         for (c, t), txt in sorted(state.items())],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    twin_dir = str(tmp_path_factory.mktemp("prop_life_twin") / "twin")
    build_index(spark, spark.createDataFrame(twin_rows), twin_dir,
                num_buckets=8)
    twin = SearchIndex(spark, twin_dir)

    # 1) segmented serving: match SETS identical (scores may drift only
    #    when deletes left df residue — the documented approximation)
    assert eng.get_stats("m")["document_count"] == len(state)
    for q in QUERIES:
        res = eng.search("m", SearchQuery(query=q, limit=500))
        got = {(r["document"]["conv_id"], r["document"]["turn_idx"])
               for r in res["results"]}
        want = {(r["conv_id"], r["turn_idx"]) for r in
                twin.search(q, k=500, with_docs=True).collect()}
        assert got == want, (q, got ^ want)
        assert res["total"] == len(want), q

    # 2) compacted: score-identical to the twin at 1e-9
    if list_segments(out) or eng._live("m")[1] is not eng.indexes["m"]:
        compact_in_place(spark, out)
    cidx = SearchIndex(spark, out)
    for q in QUERIES:
        a = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
             cidx.search(q, k=500, with_docs=True).collect()}
        b = {(r["conv_id"], r["turn_idx"]): r["score"] for r in
             twin.search(q, k=500, with_docs=True).collect()}
        assert set(a) == set(b), q
        for k_ in a:
            assert a[k_] == pytest.approx(b[k_], rel=1e-9), (q, k_)
    cidx.close()
    twin.close()
