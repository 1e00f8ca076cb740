"""Posting-list codecs: delta-gap + varint compression, block-max metadata.

The index stores one row per (term, salt, block) with ``data`` holding a
varint-compressed block of up to ``BLOCK_SIZE`` postings. Layout per block:

    varint n                      -- number of docs in block
    varint x n                    -- doc_id deltas (first is delta from 0)
    varint x n                    -- term frequencies
    varint x n                    -- doc lengths (denormalized: avoids a
                                     doc_stats join on the query hot path)
    for each doc: varint n_pos, then n_pos position deltas

The reference keeps positions as JSON arrays in a terms table
(reference: src/Storage/SqliteStorage.php:269-285,1843-1899) and lets
SQLite FTS5 store its own compressed doclists; we own the format.

Encode/decode are numpy-vectorized (no per-integer Python loops) — the
classic "continuation-bit + cumsum boundary" trick for decode and a
fixed-width byte-plane expansion for encode.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
BM25_K1 = 1.2
BM25_B = 0.75


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized across the array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte length per value (1..10)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbits[nbits == 0] = 1
    offsets = np.concatenate(([0], np.cumsum(nbits)))
    total = int(offsets[-1])
    out = np.zeros(total, dtype=np.uint8)
    shifted = v.copy()
    max_len = int(nbits.max())
    for byte_i in range(max_len):
        mask = nbits > byte_i
        idx = offsets[:-1][mask] + byte_i
        chunk = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbits[mask] > byte_i + 1).astype(np.uint8) << 7
        out[idx] = chunk | cont
        shifted[mask] >>= np.uint64(7)
    return out.tobytes()


def decode_varints(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode all LEB128 varints in buf → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # ordinal of each byte within its varint
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # position within varint for every byte
    varint_id = np.cumsum(np.concatenate(([0], is_last[:-1].astype(np.int64))))
    pos_in_varint = np.arange(b.size, dtype=np.int64) - starts[varint_id]
    vals = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_varint.astype(np.uint64))
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, varint_id, vals)
    return out


def bm25_norm(tf: np.ndarray, doc_len: np.ndarray, avgdl: float,
              k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    """tf·(k1+1)/(tf + k1·(1−b+b·len/avgdl)) — the idf-free BM25 factor.

    Matches SQLite FTS5's bm25() term accumulation
    (reference consumes it via src/Storage/SqliteStorage.php:993-1021,1184).
    """
    tf = tf.astype(np.float64)
    dl = doc_len.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_posting_block(doc_ids: np.ndarray, tfs: np.ndarray,
                         doc_lens: np.ndarray,
                         positions: list[np.ndarray]) -> bytes:
    """Encode one block (doc_ids ascending)."""
    n = doc_ids.size
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = doc_ids[0]
    if n > 1:
        deltas[1:] = np.diff(doc_ids.astype(np.uint64))
    head = encode_varints(np.concatenate((
        np.array([n], dtype=np.uint64), deltas,
        tfs.astype(np.uint64), doc_lens.astype(np.uint64))))
    # positions: flatten [n_pos, deltas...] per doc into one varint stream
    pos_stream: list[np.ndarray] = []
    for p in positions:
        p = np.asarray(p, dtype=np.uint64)
        rec = np.empty(p.size + 1, dtype=np.uint64)
        rec[0] = p.size
        if p.size:
            rec[1] = p[0]
            if p.size > 1:
                rec[2:] = np.diff(p)
        pos_stream.append(rec)
    tail = encode_varints(np.concatenate(pos_stream)) if pos_stream else b""
    return head + tail


def _ragged_gather_idx(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Indices [s0..s0+c0) ++ [s1..s1+c1) ++ … as one int64 array."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out_off = np.concatenate(([0], np.cumsum(counts)))[:-1]
    return (np.repeat(starts, counts)
            + (np.arange(total, dtype=np.int64) - np.repeat(out_off, counts)))


def _segmented_cumsum(vals: np.ndarray, seg_starts: np.ndarray,
                      counts: np.ndarray) -> np.ndarray:
    """Per-segment cumulative sum of ``vals`` (segments given by start
    index + length over a flat array), vectorized: one global cumsum,
    then subtract each segment's incoming prefix (empty segments, even
    trailing ones, are fine)."""
    if vals.size == 0:
        return vals
    cs = np.cumsum(vals)
    base = np.zeros(seg_starts.size, dtype=cs.dtype)
    later = seg_starts > 0
    base[later] = cs[seg_starts[later] - 1]
    return cs - np.repeat(base, counts)


def decode_posting_batch(boundaries: np.ndarray, buf: np.ndarray,
                         with_positions: bool = False):
    """Decode MANY posting blocks in one vectorized pass (no per-doc or
    per-block Python loops on the hot path).

    ``boundaries``: int64 array of N+1 byte offsets into ``buf`` — block
    i's bytes are buf[boundaries[i]:boundaries[i+1]] (exactly the Arrow
    BinaryArray offsets+values layout, so callers can pass the column's
    buffers zero-copy). ``buf``: uint8 array of all block bytes.

    Returns (block_rows, doc_ids, tfs, doc_lens[, pos_offsets, pos_values])
    where block_rows[i] is block i's doc count (callers repeat per-block
    metadata like the term string with it) and positions are returned as
    flat int32 values + int64 row offsets (ready for
    pyarrow.ListArray.from_arrays — zero row-wise assembly).

    Exactness: block format pins n_pos == tf for every doc (every encoder
    writes len(positions) as the tf — see encode_posting_block and the
    build kernel), which lets the per-doc [n_pos, deltas…] records be
    located by a cumsum over the already-decoded tfs instead of a
    sequential walk. Every gathered slot is bounds-checked against its own block
    first: a batch with a block whose records would run past its bytes
    (truncated or bit-flipped data), or whose n_pos != tf, goes to the
    per-block fallback, which decodes a well-formed foreign block exactly
    and raises ValueError naming a malformed one.
    """
    nblk = boundaries.size - 1
    if nblk <= 0:
        e = np.empty(0, dtype=np.int64)
        if with_positions:
            return (np.zeros(0, np.int64), e, e, e,
                    np.zeros(1, np.int64), np.empty(0, np.int32))
        return np.zeros(0, np.int64), e, e, e

    starts, stops = boundaries[:-1], boundaries[1:]
    # varint ends are a PER-BYTE property (bit 7 clear), so block varint
    # boundaries can be located without any sequential walk
    is_last = (buf & 0x80) == 0
    if (boundaries[0] < 0 or boundaries[-1] > buf.size
            or (stops <= starts).any() or not is_last[stops - 1].all()):
        # an empty block, or one ending inside a varint: its varints
        # would run into the next block's bytes
        return _decode_batch_fallback(boundaries, buf, with_positions)
    ends = np.flatnonzero(is_last)
    # varint index of each block's first varint, and the varint count of
    # each block (blocks start and stop on varint boundaries, checked above)
    blk_v0 = np.searchsorted(ends, starts)
    nv = np.searchsorted(ends, stops) - blk_v0
    if not with_positions:
        # decode ONLY the header varints (1 + 3n per block): the
        # positions tail is most of the bytes and none of it is needed.
        # First varint (n docs) decoded directly — blocks cap n at
        # BLOCK_SIZE so this converges in 1-2 byte passes.
        if (ends[blk_v0] - starts >= 9).any():
            # an n varint over 9 bytes would overflow the int64 decode
            return _decode_batch_fallback(boundaries, buf, with_positions)
        first = buf[starts].astype(np.int64)
        n_arr = first & 0x7F
        cont = first >= 128
        step = np.zeros(nblk, dtype=np.int64)
        shift = 7
        while cont.any():
            step[cont] += 1
            nxt = buf[starts[cont] + step[cont]].astype(np.int64)
            n_arr[cont] |= (nxt & 0x7F) << shift
            nxt_cont = np.zeros(nblk, dtype=bool)
            nxt_cont[cont] = nxt >= 128
            cont = nxt_cont
            shift += 7
        if (n_arr > (nv - 1) // 3).any():
            return _decode_batch_fallback(boundaries, buf, with_positions)
        head_end = ends[blk_v0 + 3 * n_arr]     # last header varint byte
        head_len = head_end - starts + 1
        vals = decode_varints(buf[_ragged_gather_idx(starts, head_len)])
        blk_v0 = np.concatenate(([0],
                                 np.cumsum(1 + 3 * n_arr)))[:-1]
    else:
        vals = decode_varints(buf)
        n_u = vals[blk_v0]
        if (n_u > ((nv - 1) // 4).astype(np.uint64)).any():
            return _decode_batch_fallback(boundaries, buf, with_positions)
        n_arr = n_u.astype(np.int64)             # docs per block
    total_docs = int(n_arr.sum())
    doc_idx = _ragged_gather_idx(blk_v0 + 1, n_arr)
    deltas = vals[doc_idx].astype(np.int64)
    blk_doc_starts = np.concatenate(([0], np.cumsum(n_arr)))[:-1]
    doc_ids = _segmented_cumsum(deltas, blk_doc_starts, n_arr)
    tfs_u = vals[_ragged_gather_idx(blk_v0 + 1 + n_arr, n_arr)]
    doc_lens = vals[_ragged_gather_idx(blk_v0 + 1 + 2 * n_arr,
                                       n_arr)].astype(np.int64)
    if not with_positions:
        return n_arr, doc_ids, tfs_u.astype(np.int64), doc_lens

    # positions region of block b starts at varint blk_v0[b] + 1 + 3n_b;
    # doc j's count slot sits j + (Σ tf of earlier docs in the block)
    # varints further in — locatable because n_pos == tf (verified below)
    # once every block's n + Σ tf position varints fit in its own bytes
    if (tfs_u > np.repeat(nv, n_arr).astype(np.uint64)).any():
        return _decode_batch_fallback(boundaries, buf, with_positions)
    tfs = tfs_u.astype(np.int64)
    tf_cs = np.concatenate(([0], np.cumsum(tfs)))
    tf_blk = tf_cs[blk_doc_starts + n_arr] - tf_cs[blk_doc_starts]
    if (1 + 4 * n_arr + tf_blk > nv).any():
        return _decode_batch_fallback(boundaries, buf, with_positions)
    pos_v0 = blk_v0 + 1 + 3 * n_arr
    tf_excl = _segmented_cumsum(tfs, blk_doc_starts, n_arr) - tfs
    in_blk_ord = (np.arange(total_docs, dtype=np.int64)
                  - np.repeat(blk_doc_starts, n_arr))
    count_slots = np.repeat(pos_v0, n_arr) + in_blk_ord + tf_excl
    if total_docs and not (vals[count_slots] == tfs_u).all():
        # foreign buffer where n_pos != tf — sequential reference decode
        return _decode_batch_fallback(boundaries, buf, True)
    pdelta_idx = _ragged_gather_idx(count_slots + 1, tfs)
    pdeltas = vals[pdelta_idx].astype(np.int64)
    doc_pos_starts = tf_cs[:-1]
    pos_values = _segmented_cumsum(pdeltas, doc_pos_starts,
                                   tfs).astype(np.int32)
    return n_arr, doc_ids, tfs, doc_lens, tf_cs, pos_values


class CorruptBlockError(ValueError):
    """Posting block ``block`` (its index in the decoded batch) holds
    records that do not fit in its own bytes."""

    def __init__(self, block: int, why: str):
        super().__init__(f"corrupt posting block {block}: {why}")
        self.block = block


def _check_block(data: bytes, with_positions: bool, i: int) -> None:
    """Raise CorruptBlockError unless block ``i``'s header (and, with
    positions, every per-doc position record) lies inside its bytes."""
    def bad(why: str):
        raise CorruptBlockError(i, f"{why} ({len(data)} bytes)")

    if not data:
        bad("empty")
    if data[-1] & 0x80:
        bad("ends inside a varint")
    vals = decode_varints(data)
    n = int(vals[0])
    if 1 + 3 * n > vals.size:
        bad(f"header of {n} docs needs {1 + 3 * n} varints, "
            f"block has {vals.size}")
    if with_positions:
        j = 1 + 3 * n
        for d in range(n):
            if j >= vals.size or j + 1 + int(vals[j]) > vals.size:
                bad(f"position record of doc {d} runs past the block")
            j += 1 + int(vals[j])


def _decode_batch_fallback(boundaries: np.ndarray, buf: np.ndarray,
                           with_positions: bool):
    """Reference per-block decode, same return shape as
    decode_posting_batch, for batches the vectorized pass cannot locate
    records in: a well-formed block whose n_pos != tf (no production
    encoder emits those) decodes exactly; a malformed one raises
    ValueError (see _check_block)."""
    nblk = boundaries.size - 1
    rows, ids_l, tfs_l, dls_l, pos_l = [], [], [], [], []
    for i in range(nblk):
        lo, hi = int(boundaries[i]), int(boundaries[i + 1])
        if not 0 <= lo <= hi <= buf.size:
            raise CorruptBlockError(i, f"bytes [{lo}, {hi}) outside a "
                                       f"{buf.size}-byte buffer")
        data = buf[lo:hi].tobytes()
        _check_block(data, with_positions, i)
        if with_positions:
            ids, tf, dl, pos = decode_posting_block(data, with_positions=True)
            pos_l.extend(pos)
        else:
            ids, tf, dl = decode_posting_block(data)
        rows.append(ids.size)
        ids_l.append(ids)
        tfs_l.append(tf)
        dls_l.append(dl)
    cat = (lambda xs, dt: np.concatenate(xs).astype(dt) if xs
           else np.empty(0, dt))
    out = (np.asarray(rows, dtype=np.int64), cat(ids_l, np.int64),
           cat(tfs_l, np.int64), cat(dls_l, np.int64))
    if not with_positions:
        return out
    counts = np.fromiter((p.size for p in pos_l), np.int64, len(pos_l))
    pos_offsets = np.concatenate(([0], np.cumsum(counts)))
    pos_values = (np.concatenate(pos_l).astype(np.int32) if pos_l
                  else np.empty(0, np.int32))
    return out + (pos_offsets, pos_values)


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Byte length of each value's LEB128 encoding (1..10)."""
    v = np.asarray(values, dtype=np.uint64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbits[nbits == 0] = 1
    return nbits


def encode_posting_batch(g_code: np.ndarray, g_did: np.ndarray,
                         g_tf: np.ndarray, g_dl: np.ndarray,
                         pdeltas: np.ndarray,
                         block_size: int, avgdl: float):
    """Encode MANY (term, doc) posting groups into block rows in one
    vectorized pass (round 7 — replaces the per-token/per-doc Python of
    the runs kernel).

    Inputs are flat arrays over G groups sorted by (g_code, g_did):
    ``g_code`` int64 term codes, ``g_did`` doc ids, ``g_tf`` positions
    per group, ``g_dl`` doc lengths, ``pdeltas`` the concatenated
    per-group position DELTA records (first value absolute — exactly the
    per-doc record layout of the block format, without the n_pos count).

    → (b_code, b_ord, min_doc, max_doc, b_ndocs, b_max, tf_sum,
       data_offsets int64[B+1], data_buf uint8) — data column ready for a
    zero-copy Arrow BinaryArray.
    """
    G = g_code.size
    empty = np.empty(0, np.int64)
    if G == 0:
        return (empty,) * 7 + (np.zeros(1, np.int64),
                               np.empty(0, np.uint8))
    # per-term group ordinals → block segmentation every block_size docs
    t_new = np.concatenate(([True], g_code[1:] != g_code[:-1]))
    t_start = np.flatnonzero(t_new)
    t_counts = np.diff(np.append(t_start, G))
    g_term_ord = np.arange(G, dtype=np.int64) \
        - np.repeat(t_start, t_counts)
    blk_of_g = g_term_ord // block_size
    b_new = t_new.copy()
    b_new[1:] |= blk_of_g[1:] != blk_of_g[:-1]
    b_start = np.flatnonzero(b_new)
    B = b_start.size
    b_ndocs = np.diff(np.append(b_start, G))
    b_code = g_code[b_start]
    b_ord = blk_of_g[b_start]
    min_doc = g_did[b_start]
    max_doc = g_did[b_start + b_ndocs - 1]
    norms = bm25_norm(g_tf, g_dl, avgdl)
    b_max = np.maximum.reduceat(norms, b_start)
    tf_sum = np.add.reduceat(g_tf, b_start)
    p_per_block = tf_sum                      # n_pos == tf per doc

    # global varint value stream: per block
    #   [n][id_deltas×n][tfs×n][dls×n][per-doc: n_pos, pos deltas…]
    blk_lens = 1 + 4 * b_ndocs + p_per_block
    blk_val_start = np.concatenate(([0], np.cumsum(blk_lens)))[:-1]
    total_vals = int(blk_lens.sum())
    vals = np.empty(total_vals, dtype=np.uint64)
    vals[blk_val_start] = b_ndocs.astype(np.uint64)
    g_ord_in_blk = np.arange(G, dtype=np.int64) \
        - np.repeat(b_start, b_ndocs)
    base = np.repeat(blk_val_start + 1, b_ndocs)
    nrep = np.repeat(b_ndocs, b_ndocs)
    # id deltas: diff within block, first absolute
    idd = g_did.astype(np.int64).copy()
    idd[1:] -= g_did[:-1]
    idd[b_start] = g_did[b_start]
    vals[base + g_ord_in_blk] = idd.astype(np.uint64)
    vals[base + nrep + g_ord_in_blk] = g_tf.astype(np.uint64)
    vals[base + 2 * nrep + g_ord_in_blk] = g_dl.astype(np.uint64)
    # per-doc records: region starts after the 3n header arrays
    tf_excl = _segmented_cumsum(g_tf, b_start, b_ndocs) - g_tf
    rec_slot = base + 3 * nrep + g_ord_in_blk + tf_excl
    vals[rec_slot] = g_tf.astype(np.uint64)
    vals[_ragged_gather_idx(rec_slot + 1, g_tf)] = \
        pdeltas.astype(np.uint64)

    buf = np.frombuffer(encode_varints(vals), dtype=np.uint8)
    nbytes = varint_lengths(vals)
    blk_bytes = np.add.reduceat(nbytes, blk_val_start)
    data_offsets = np.concatenate(([0], np.cumsum(blk_bytes)))
    return (b_code, b_ord, min_doc, max_doc, b_ndocs, b_max, tf_sum,
            data_offsets.astype(np.int64), buf)


def decode_posting_block(data: bytes, with_positions: bool = False):
    """→ (doc_ids, tfs, doc_lens[, positions list]) from one encoded block."""
    vals = decode_varints(data)
    n = int(vals[0])
    doc_ids = np.cumsum(vals[1:1 + n]).astype(np.int64)
    tfs = vals[1 + n:1 + 2 * n].astype(np.int64)
    doc_lens = vals[1 + 2 * n:1 + 3 * n].astype(np.int64)
    if not with_positions:
        return doc_ids, tfs, doc_lens
    rest = vals[1 + 3 * n:]
    positions = []
    i = 0
    for _ in range(n):
        m = int(rest[i])
        positions.append(np.cumsum(rest[i + 1:i + 1 + m]).astype(np.int64))
        i += 1 + m
    return doc_ids, tfs, doc_lens, positions
