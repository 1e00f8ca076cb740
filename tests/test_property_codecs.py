"""Property-based tests (hypothesis) for the byte-level codecs — the
layers where a single off-by-one silently corrupts an index at scale."""

import numpy as np
from hypothesis import given, settings, strategies as st

from yetisearch_spark.postings import (decode_posting_block, decode_varints,
                                       encode_posting_block, encode_varints)
from yetisearch_spark.chunking import chunk_text


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    out = decode_varints(encode_varints(arr))
    assert out.tolist() == values


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.data())
def test_posting_block_roundtrip(data):
    n = data.draw(st.integers(min_value=1, max_value=60))
    gaps = data.draw(st.lists(st.integers(min_value=1, max_value=10_000),
                              min_size=n, max_size=n))
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    tfs = []
    positions = []
    for _ in range(n):
        npos = data.draw(st.integers(min_value=1, max_value=8))
        pos_gaps = data.draw(st.lists(
            st.integers(min_value=1, max_value=1000),
            min_size=npos, max_size=npos))
        pos = np.cumsum(np.array(pos_gaps, dtype=np.int64)) - pos_gaps[0]
        positions.append(pos)
        tfs.append(npos)
    tfs = np.array(tfs, dtype=np.int64)
    doc_lens = tfs + data.draw(st.integers(min_value=0, max_value=50))

    blob = encode_posting_block(doc_ids, tfs, doc_lens, positions)
    ids2, tfs2, dls2, pos2 = decode_posting_block(blob, with_positions=True)
    assert ids2.tolist() == doc_ids.tolist()
    assert tfs2.tolist() == tfs.tolist()
    assert dls2.tolist() == doc_lens.tolist()
    for a, b in zip(positions, pos2):
        assert list(a) == list(b)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(st.text(alphabet="abcdefg ", min_size=1, max_size=40),
                min_size=1, max_size=60),
       st.integers(min_value=20, max_value=300),
       st.integers(min_value=0, max_value=40))
def test_chunk_text_invariants(sentences, chunk_size, overlap):
    text = ". ".join(s.strip() or "x" for s in sentences) + "."
    chunks = chunk_text(text, chunk_size=chunk_size, overlap=overlap)
    if not text.strip():
        return
    assert chunks, text
    # every chunk stays within chunk_size plus one sentence of slack
    max_sentence = max(len(s) for s in text.split(". ")) + 2
    for ch in chunks:
        assert len(ch) <= chunk_size + max_sentence + overlap + 2
    # no content lost: every sentence body appears in some chunk
    for s in (x.strip() for x in text.split(". ")):
        s = s.rstrip(".")
        if s:
            assert any(s in ch for ch in chunks), (s, chunks)
