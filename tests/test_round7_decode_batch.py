"""Round 7: property tests for the whole-batch vectorized block decoder
(decode_posting_batch) against the per-block reference decoder, plus the
n_pos != tf fallback path (a buffer the vectorized location trick cannot
handle must still decode exactly via the sequential fallback)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from yetisearch_spark.postings import (decode_posting_batch,
                                       decode_posting_block,
                                       encode_posting_block, encode_varints)


def _random_block(data, max_docs=40):
    n = data.draw(st.integers(min_value=1, max_value=max_docs))
    gaps = data.draw(st.lists(st.integers(min_value=1, max_value=5_000),
                              min_size=n, max_size=n))
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    tfs, positions = [], []
    for _ in range(n):
        npos = data.draw(st.integers(min_value=1, max_value=6))
        pgaps = data.draw(st.lists(st.integers(min_value=1, max_value=500),
                                   min_size=npos, max_size=npos))
        pos = np.cumsum(np.array(pgaps, dtype=np.int64)) - pgaps[0]
        positions.append(pos)
        tfs.append(npos)
    tfs = np.array(tfs, dtype=np.int64)
    doc_lens = tfs + data.draw(st.integers(min_value=0, max_value=40))
    return encode_posting_block(doc_ids, tfs, doc_lens, positions)


def _reference(blobs, with_positions):
    rows, ids_l, tfs_l, dls_l, pos_l = [], [], [], [], []
    for b in blobs:
        out = decode_posting_block(b, with_positions=with_positions)
        rows.append(out[0].size)
        ids_l.append(out[0])
        tfs_l.append(out[1])
        dls_l.append(out[2])
        if with_positions:
            pos_l.extend(out[3])
    return rows, ids_l, tfs_l, dls_l, pos_l


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.data())
def test_batch_decoder_matches_per_block(data):
    nblk = data.draw(st.integers(min_value=1, max_value=8))
    blobs = [_random_block(data) for _ in range(nblk)]
    lens = np.fromiter((len(b) for b in blobs), np.int64, nblk)
    boundaries = np.concatenate(([0], np.cumsum(lens)))
    buf = np.frombuffer(b"".join(blobs), np.uint8)
    for wp in (False, True):
        rows, ids_l, tfs_l, dls_l, pos_l = _reference(blobs, wp)
        out = decode_posting_batch(boundaries, buf, with_positions=wp)
        assert out[0].tolist() == rows
        assert out[1].tolist() == np.concatenate(ids_l).tolist()
        assert out[2].tolist() == np.concatenate(tfs_l).tolist()
        assert out[3].tolist() == np.concatenate(dls_l).tolist()
        if wp:
            counts = [p.size for p in pos_l]
            assert out[4].tolist() == [0] + np.cumsum(counts).tolist()
            flat = (np.concatenate(pos_l).tolist() if pos_l else [])
            assert out[5].tolist() == flat


def test_npos_ne_tf_falls_back_exactly():
    """Hand-build a block whose stored tf differs from n_pos (no
    production encoder emits this) — the batch decoder must detect the
    broken invariant and produce the reference decode via the
    sequential fallback."""
    n = 3
    doc_ids = np.array([5, 9, 12], dtype=np.uint64)
    deltas = np.array([5, 4, 3], dtype=np.uint64)
    tfs = np.array([2, 1, 3], dtype=np.uint64)          # stored tf
    dls = np.array([10, 11, 12], dtype=np.uint64)
    # positions records with n_pos DIFFERENT from tf: [1,(7)], [2,(1,2)],
    # [1,(4)]
    recs = np.array([1, 7, 2, 1, 2, 1, 4], dtype=np.uint64)
    blob = encode_varints(np.concatenate((
        np.array([n], dtype=np.uint64), deltas, tfs, dls, recs)))
    ids_r, tfs_r, dls_r, pos_r = decode_posting_block(
        blob, with_positions=True)
    boundaries = np.array([0, len(blob)], dtype=np.int64)
    buf = np.frombuffer(blob, np.uint8)
    out = decode_posting_batch(boundaries, buf, with_positions=True)
    assert out[1].tolist() == ids_r.tolist()
    assert out[2].tolist() == tfs_r.tolist()
    assert out[3].tolist() == dls_r.tolist()
    counts = [p.size for p in pos_r]
    assert out[4].tolist() == [0] + np.cumsum(counts).tolist()
    assert out[5].tolist() == np.concatenate(pos_r).tolist()
