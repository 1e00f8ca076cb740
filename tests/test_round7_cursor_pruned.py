"""Keyset-cursor pages served through the pruned cursor tier must equal
the exact twin's pages: across the cursor tier's deepening limits and
over the final short page, ties included."""

import pytest

from yetisearch_spark.build import build_index
from yetisearch_spark.query import parse_query

from facade_helpers import _cursor_twins, _top_terms
from test_decode_route import _skew_frame


@pytest.fixture(scope="module")
def cidx(spark, tmp_path_factory):
    """The skew corpus (``zzhead`` in every turn) at block_size 4: small
    blocks let θ bite within one cursor round, so zzhead's next pages
    are served by the cursor tier rather than falling back to exact."""
    out = str(tmp_path_factory.mktemp("c7_idx"))
    build_index(spark, _skew_frame(spark, 600, 29), out, num_buckets=8,
                block_size=4)
    return out


def test_cursor_tier_serves_skew_head_pages(spark, cidx):
    """zzhead's pages 2 and 3 are served by the cursor tier (suffix
    deepening), and each equals the exact twin's page."""
    pruned_idx, exact_idx = _cursor_twins(spark, cidx)
    node = parse_query("zzhead")
    p1 = exact_idx.search("zzhead", k=10).collect()
    after = (p1[-1]["score"], p1[-1]["doc_id"])
    for page in (2, 3):
        assert pruned_idx.route(node, 10, after=after).kind == "cursor", page
        got = [(r["doc_id"], r["score"]) for r in
               pruned_idx.search("zzhead", k=10, after=after).collect()]
        want = [(r["doc_id"], r["score"]) for r in
                exact_idx.search("zzhead", k=10, after=after).collect()]
        assert len(got) == 10 and got == want, page
        after = (got[-1][1], got[-1][0])
    pruned_idx.close()
    exact_idx.close()


def test_cursor_pruned_pages_equal_exact(spark, cidx):
    """Cursor pages with the gate FORCED equal their slices of the exact
    twin's full ranking: the first pages, the pages straddling rows 64
    and 256 (where the cursor tier's rounds k' = max(4k, 64) and
    max(16k, 256) run out) and the final pages, ending on a short page
    and then an empty one. Each walk's cursor is seeded from the row of
    the full ranking before it, so ties at a page edge stay covered."""
    pruned_idx, exact_idx = _cursor_twins(spark, cidx)
    t = _top_terms(pruned_idx, 2)
    k = 7
    for q in [t[0], f'"{t[0]}" OR "{t[1]}"']:
        full = [(r["doc_id"], r["score"]) for r in
                exact_idx.search(q, k=10_000).collect()]
        assert len(full) > 256 + 3 * k, len(full)
        for start in (0, 64 - k - 3, 256 - k - 3, len(full) - 2 * k - 3):
            after = (None if start == 0
                     else (full[start - 1][1], full[start - 1][0]))
            got = []
            for _ in range(4):
                rows = pruned_idx.search(q, k=k, after=after).collect()
                want = full[start + len(got):start + len(got) + k]
                assert [(r["doc_id"], r["score"]) for r in rows] == want, \
                    (q, start + len(got))
                if not rows:
                    break
                got.extend((r["doc_id"], r["score"]) for r in rows)
                after = (rows[-1]["score"], rows[-1]["doc_id"])
        assert got == full[-2 * k - 3:], q   # the last walk reached the end


def test_cursor_pruned_with_docs(spark, cidx):
    pruned_idx, exact_idx = _cursor_twins(spark, cidx)
    t = _top_terms(pruned_idx, 2)[0]
    p1 = exact_idx.search(t, k=5).collect()
    after = (p1[-1]["score"], p1[-1]["doc_id"])
    a = [(r["doc_id"], r["score"], r["conv_id"]) for r in
         exact_idx.search(t, k=5, after=after, with_docs=True).collect()]
    b = [(r["doc_id"], r["score"], r["conv_id"]) for r in
         pruned_idx.search(t, k=5, after=after, with_docs=True).collect()]
    assert a == b
