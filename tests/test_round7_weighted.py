"""Single-field weighted single/OR serve through the pruned tier at any
scale and equal the exact weighted path bit for bit."""

import pytest

from yetisearch_spark.query import SearchIndex, parse_query
from yetisearch_spark.wand import pruned_scored, pruned_topk

from facade_helpers import _build, _top_terms


@pytest.fixture(scope="module")
def widx(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory, "w7_idx", 3000, 91)


@pytest.mark.parametrize("w", [(1.2,), (0.8,)])
@pytest.mark.parametrize("cap", [0, 50_000])
def test_weighted_single_or_pruned_equals_exact(spark, widx, w, cap):
    """Weighted single/OR serve through the pruned tier at ANY scale —
    above the driver cap the Spark-path scaled-bounds selection runs
    with POSITION-FREE decodes, and the tf-only weighted contribution is
    bit-identical to the positional fold (same IEEE add chain of the
    same constant)."""
    idx = SearchIndex(spark, widx)
    exact_idx = SearchIndex(spark, widx)
    exact_idx.pruned_gate_blocks = -1
    t = _top_terms(idx, 3)
    for q in [t[0], f'"{t[0]}" OR "{t[1]}" OR "{t[2]}"']:
        exact = [(r["doc_id"], r["score"]) for r in
                 exact_idx.search(q, k=10, weights=w).collect()]
        pruned = pruned_topk(idx, q, k=10, driver_cap=cap,
                             gate_blocks=0, wvec=w).collect()
        got = [(r["doc_id"], r["score"]) for r in pruned]
        assert got == exact, (q, w, cap)


def test_weighted_above_cap_not_gated(spark, widx):
    """driver_cap=0 forces the Spark-path selection; the weighted-head
    gate must NOT fire for single-field single/OR."""
    idx = SearchIndex(spark, widx)
    t = _top_terms(idx, 3)
    scored, info = pruned_scored(idx, parse_query(t[0]), 10,
                                 driver_cap=0, gate_blocks=0, wvec=(1.2,))
    assert scored is not None and info.get("gated") is False
    scored, info = pruned_scored(
        idx, parse_query(f'"{t[0]}" OR "{t[1]}"'), 10,
        driver_cap=0, gate_blocks=0, wvec=(1.2,))
    assert scored is not None and info.get("gated") is False
