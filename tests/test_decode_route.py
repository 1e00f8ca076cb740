"""Driver decode route: small terms are decoded on the driver and handed
to the unchanged Spark plan as a local relation (SearchIndex._decode_route).

Pins route parity (pages and counts identical with the route on and off,
on uncached, cached and tombstoned views), the plan shapes of both
routes, loud failure on corrupt posting blocks through either route, and
the weighted-tally field clamp shared by the JVM and numpy tallies."""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.postings import (decode_posting_batch,
                                       decode_posting_block,
                                       encode_posting_block)
from yetisearch_spark.query import SearchIndex, decode_scope
from yetisearch_spark.streaming import (GlobalSegmentedIndex, append_segment,
                                        delete_docs, merge_segments)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

#: the benchmark's cold-serving shapes over the skew terms:
#: (kind, query, weights, filters)
SKEW_WOR = ('"zzhead zzrare" OR NEAR("zzrare" "zzhead", 3) OR "zzrare" '
            'OR "zzhead"')
SHAPES = [
    ("single", "zzhead", None, None),
    ("and", "zzhead AND zzrare", None, None),
    ("and_mid", "zzhead AND data", None, None),
    ("phrase", '"zzhead zzrare"', None, None),
    ("near", 'NEAR("zzrare" "zzhead", 3)', None, None),
    ("weighted", '"zzhead zzrare"', {"text": 2.0}, None),
    ("filter", "data", None, {"role": "user"}),
    ("wor", SKEW_WOR, None, None),
]


def _skew_frame(spark, n_turns, seed, prefix="conv_"):
    """Transcripts plus the block-max adversaries: ``zzhead`` in every
    turn (32× in a few), ``zzrare`` in the first conversations."""
    pdf = generate_transcripts(n_turns, seed=seed)
    rng = np.random.default_rng(seed)
    spike = rng.random(len(pdf)) < 0.01
    conv_no = pdf["conv_id"].str.slice(5).astype(int)
    rare = conv_no < max(2, (conv_no.max() + 1) // 20)
    pdf["text"] = (pdf["text"] + " zzhead"
                   + np.where(spike, " zzhead" * 31, "")
                   + np.where(rare, " zzrare", ""))
    pdf["conv_id"] = pdf["conv_id"].str.replace("conv_", prefix)
    return spark.createDataFrame(pdf)


def _skew_build(spark, out):
    build_index(spark, _skew_frame(spark, 600, 29), out, num_buckets=8,
                block_size=16)


@pytest.fixture(scope="module")
def skew_dirs(spark, tmp_path_factory):
    """A plain skew index, and a copy with one appended segment and
    deletes spread over base and segment."""
    root = tmp_path_factory.mktemp("decode_route")
    plain = str(root / "plain")
    _skew_build(spark, plain)
    tomb = str(root / "tomb")
    shutil.copytree(plain, tomb)
    append_segment(spark, tomb, _skew_frame(spark, 200, 31, "seg_"),
                   epoch=0)
    live = GlobalSegmentedIndex(spark, tomb, cache_postings=False,
                                cache_docs=False)
    parts = {f.split("/postings/")[0]
             for fs in live._postings_files.values() for f in fs}
    assert len(parts) == 2                  # base + segment
    victims = sorted({r["doc_id"] for q in ("zzrare", "data")
                      for r in live.search(q, k=400).collect()[::3]})
    live.close()
    delete_docs(spark, tomb, victims)
    return {"plain": plain, "tomb": tomb}


def _open(spark, dirs, variant):
    if variant == "uncached":
        return SearchIndex(spark, dirs["plain"], cache_postings=False,
                           cache_docs=False)
    if variant == "cached":
        return SearchIndex(spark, dirs["plain"])
    return GlobalSegmentedIndex(spark, dirs["tomb"], cache_postings=False,
                                cache_docs=False)


def _serve(spark, dirs, variant):
    """Every shape's (doc_id, score) page and match count on a fresh
    index handle → (results, routes taken)."""
    idx = _open(spark, dirs, variant)
    got, routes = {}, set()
    try:
        for kind, q, weights, filters in SHAPES:
            with decode_scope() as scope:
                page = [(r["doc_id"], r["score"]) for r in idx.search(
                    q, k=10, weights=weights, filters=filters).collect()]
                routes |= {r["route"] for r in scope.routes.values()}
            got[kind] = (page, idx.count(q))
    finally:
        idx.close()
    return got, routes


@pytest.mark.parametrize("variant", ["uncached", "cached", "tombstoned"])
def test_route_parity(spark, skew_dirs, variant):
    on, on_routes = _serve(spark, skew_dirs, variant)
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        off, off_routes = _serve(spark, skew_dirs, variant)
    finally:
        spark.conf.set(THRESHOLD, old)
    assert "driver" not in off_routes
    # only uncached decodes may take the driver route
    assert ("driver" in on_routes) == (variant != "cached"), on_routes
    assert any(page for page, _ in on.values())
    for kind, _, _, _ in SHAPES:
        assert on[kind] == off[kind], kind


def test_concurrent_callers_never_share_a_scope(spark, skew_dirs):
    """Each thread starts without a DecodeScope, so concurrent searches
    on one uncached handle build their own driver frames and return the
    serial pages."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    idx = _open(spark, skew_dirs, "uncached")

    def page(q):
        return [(r["doc_id"], r["score"])
                for r in idx.search(q, k=10).collect()]

    def scope_id(_):
        with decode_scope() as scope:
            return id(scope)

    queries = [q for _, q, w, f in SHAPES if w is None and f is None] * 2
    want = [page(q) for q in queries]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with decode_scope() as outer, ThreadPoolExecutor(8) as pool:
            ids = [f.result(timeout=60) for f in
                   [pool.submit(scope_id, i) for i in range(8)]]
            got = [f.result(timeout=300) for f in
                   [pool.submit(page, q) for q in queries]]
    finally:
        sys.setswitchinterval(old)
        idx.close()
    assert id(outer) not in ids
    assert got == want


@pytest.mark.parametrize("route", ["driver", "executor"])
def test_merge_under_a_live_view_fails_loudly(spark, tmp_path, route):
    """merge_segments removes the merged segments' files. A view built
    before the merge must then fail on either route, never serve a page
    or count without those segments' postings."""
    out = str(tmp_path / "ix")
    build_index(spark, _skew_frame(spark, 200, 41), out, num_buckets=8,
                block_size=16)
    for e in range(2):
        append_segment(spark, out, _skew_frame(spark, 60, 42 + e, f"s{e}_"),
                       epoch=e, auto_compact_segments=None)
    live = GlobalSegmentedIndex(spark, out, cache_postings=False,
                                cache_docs=False)
    assert live.count("zzrare") > 0     # loads the term dictionary
    merge_segments(spark, out)
    old = spark.conf.get(THRESHOLD)
    if route == "executor":
        spark.conf.set(THRESHOLD, "-1")
    try:
        with decode_scope() as scope:
            with pytest.raises(Exception) as err:
                live.count("zzrare")
        assert {r["route"] for r in scope.routes.values()} == {route}
        if route == "driver":
            assert err.type is FileNotFoundError, err.value
        with pytest.raises(Exception) as err2:
            live.search("zzrare", k=10).collect()
        for e in (err, err2):       # a missing file, nothing else
            assert "exist" in str(e.value), e.value
    finally:
        spark.conf.set(THRESHOLD, old)
        live.close()


def _node_names(df) -> list[str]:
    out = []

    def walk(n):
        out.append(n.nodeName())
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    old = df.sparkSession.conf.get("spark.sql.adaptive.enabled")
    df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        walk(df._jdf.queryExecution().executedPlan())
    finally:
        df.sparkSession.conf.set("spark.sql.adaptive.enabled", old)
    return out


PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas")


def test_small_terms_plan_without_python_nodes(spark, skew_dirs):
    idx = SearchIndex(spark, skew_dirs["plain"], cache_postings=False,
                      cache_docs=False)
    idx.pruned_gate_blocks = -1          # exact path: per-term decodes
    names = _node_names(idx.search("zzhead AND zzrare", k=5))
    assert "LocalTableScan" in names, names
    assert not any(p in n for n in names for p in PYTHON_NODES), names


@pytest.mark.parametrize("limit", ["threshold", "cap"])
def test_term_above_limit_keeps_executor_decode(spark, skew_dirs, limit):
    """A term above either the session threshold or the driver-decode
    cap keeps the mapInArrow decode."""
    idx = SearchIndex(spark, skew_dirs["plain"], cache_postings=False,
                      cache_docs=False)
    idx.pruned_gate_blocks = -1
    stats = idx.term_stats_for(["zzhead", "zzrare"])
    rare_bytes, head_bytes = (16 * stats[t][0] for t in ("zzrare", "zzhead"))
    assert rare_bytes < head_bytes
    old = spark.conf.get(THRESHOLD)
    if limit == "threshold":
        spark.conf.set(THRESHOLD, str(rare_bytes))
    else:
        idx.DRIVER_DECODE_MAX_BYTES = rare_bytes
    try:
        with decode_scope() as scope:
            df = idx.search("zzhead AND zzrare", k=5)
        names = _node_names(df)
    finally:
        spark.conf.set(THRESHOLD, old)
    routes = {t: r["route"] for (t, _), r in scope.routes.items()}
    assert routes == {"zzhead": "executor", "zzrare": "driver"}, routes
    assert "MapInArrow" in names and "LocalTableScan" in names, names


def test_debug_query_reports_decode_routes(spark, skew_dirs):
    from yetisearch_spark.debug import debug_query

    out = debug_query(spark, skew_dirs["plain"], '"zzhead zzrare"', k=5)
    by_term = {d["term"]: d for d in out["decode"]}
    assert set(by_term) == {"zzhead", "zzrare"}, out["decode"]
    threshold = min(int(spark._jsparkSession.sessionState().conf()
                        .autoBroadcastJoinThreshold()),
                    SearchIndex.DRIVER_DECODE_MAX_BYTES)
    for d in by_term.values():
        assert d["route"] == "driver" and d["threshold"] == threshold
        assert 0 < d["est_bytes"] <= threshold
    assert "LocalTableScan" in out["plan"]


def test_weighted_tally_clamps_field_past_last_weight(spark, skew_dirs):
    """A position whose field index is ≥ len(weights) (a last field
    longer than 2^FIELD_SHIFT tokens) weighs as the last field in the
    JVM tally, exactly as the numpy NEAR tallies clip it."""
    from yetisearch_spark.build import FIELD_SHIFT
    from yetisearch_spark.query import _near_trim

    wvec = (2.0, 3.0)
    pos = [5, (1 << FIELD_SHIFT) + 2, (2 << FIELD_SHIFT) + 7,
           3 << FIELD_SHIFT]
    idx = SearchIndex(spark, skew_dirs["plain"], cache_postings=False,
                      cache_docs=False)
    row = spark.createDataFrame([(pos,)], "p array<int>").select(
        idx._weighted_tally_expr(F.col("p"), wvec).alias("w")).first()
    _, counts = _near_trim([np.asarray(pos, dtype=np.int64)], [1], 10, wvec)
    assert row["w"] == counts[0] == 2.0 + 3.0 + 3.0 + 3.0


# ---------------------------------------------------------------------------
# corrupt blocks
# ---------------------------------------------------------------------------

def _varints(blob: bytes):
    """Strict LEB128 parse → list of ints, or None if the last varint is
    unterminated."""
    out, cur, shift = [], 0, 0
    for b in blob:
        cur |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            out.append(cur)
            cur, shift = 0, 0
    return out if shift == 0 else None


def _well_formed(blob: bytes, with_positions: bool):
    """Independent spec of a decodable block → its doc count, or None:
    the header (n, then n doc deltas, tfs and doc lengths) and, with
    positions, every doc's [n_pos, deltas…] record lie inside the
    block's bytes."""
    vals = _varints(blob) if blob else None
    if not vals:
        return None
    n = vals[0]
    if 1 + 3 * n > len(vals):
        return None
    if with_positions:
        j = 1 + 3 * n
        for _ in range(n):
            if j >= len(vals) or j + 1 + vals[j] > len(vals):
                return None
            j += 1 + vals[j]
    return n


def _random_blob(rng) -> bytes:
    n = int(rng.integers(1, 12))
    doc_ids = np.cumsum(rng.integers(1, 3000, n)).astype(np.int64)
    positions = [np.cumsum(rng.integers(1, 300, int(rng.integers(1, 5))))
                 for _ in range(n)]
    tfs = np.array([p.size for p in positions], dtype=np.int64)
    return encode_posting_block(doc_ids, tfs, tfs + 3, positions)


def _corrupt(rng, blob: bytes) -> bytes:
    if rng.random() < 0.5:
        return blob[:int(rng.integers(0, len(blob)))]      # truncated
    b = bytearray(blob)
    b[int(rng.integers(len(b)))] ^= 1 << int(rng.integers(8))
    return bytes(b)                                     # one bit flipped


def _check_batch(blobs, with_positions):
    """decode_posting_batch on ``blobs`` decodes exactly what the
    per-block reference decodes, or raises ValueError iff some block is
    not well formed — never another exception, never wrong row counts."""
    sizes = [_well_formed(b, with_positions) for b in blobs]
    bounds = np.concatenate(([0], np.cumsum([len(b) for b in blobs])))
    buf = np.frombuffer(b"".join(blobs), np.uint8)
    if any(s is None for s in sizes):
        with pytest.raises(ValueError, match="corrupt posting block"):
            decode_posting_batch(bounds.astype(np.int64), buf,
                                 with_positions=with_positions)
        return
    out = decode_posting_batch(bounds.astype(np.int64), buf,
                               with_positions=with_positions)
    assert out[0].tolist() == sizes
    ref = [decode_posting_block(b, with_positions=with_positions)
           for b in blobs]
    for i in range(3):
        assert out[i + 1].tolist() == np.concatenate(
            [r[i] for r in ref]).tolist()
    if with_positions:
        pos = [p for r in ref for p in r[3]]
        assert np.diff(out[4]).tolist() == [p.size for p in pos]
        assert out[5].tolist() == [int(x) for p in pos for x in p]


@settings(max_examples=300, deadline=None)
@given(seed=st.integers(0, 2 ** 32 - 1), nblk=st.integers(1, 5))
def test_batch_decoder_fails_loudly_on_corrupt_blocks(seed, nblk):
    rng = np.random.default_rng(seed)
    blobs = [_random_blob(rng) for _ in range(nblk)]
    bad = int(rng.integers(nblk))
    blobs[bad] = _corrupt(rng, blobs[bad])
    for wp in (False, True):
        _check_batch(blobs, wp)


def test_truncated_block_names_the_block():
    blob = _random_blob(np.random.default_rng(3))
    good = np.frombuffer(blob + blob, np.uint8)
    cut = len(blob) // 2
    bounds = np.array([0, len(blob), len(blob) + cut], dtype=np.int64)
    with pytest.raises(ValueError, match="corrupt posting block 1"):
        decode_posting_batch(bounds, good[:len(blob) + cut],
                             with_positions=True)


def _flip(i: int, mask: int):
    def corrupt(b: bytes) -> bytes:
        b = bytearray(b)
        b[i % len(b)] ^= mask
        return bytes(b)
    return corrupt


#: corruptions of a term's first stored block, covering a cut positions
#: tail (light decode still exact), cut headers, a block ending inside
#: a varint and bit flips that leave the block well formed
CORRUPTIONS = {
    "cut_tail": lambda b: b[:len(b) * 9 // 10],
    "cut_half": lambda b: b[:len(b) // 2],
    "cut_to_1": lambda b: b[:1],
    "open_varint": _flip(-1, 0x80),
    "flip_delta": _flip(1, 0x01),
    "flip_mid": _flip(40, 0x40),
}


def _corrupt_term_block(index_dir: str, term: str, corrupt) -> list:
    """Corrupt ``term``'s first block in place → the term's block blobs
    as now stored."""
    from yetisearch_spark.xxhash64 import bucket_of

    bdir = os.path.join(index_dir, "postings", f"bucket={bucket_of(term, 8)}")
    for f in sorted(os.listdir(bdir)):
        if f.startswith((".", "_")):
            continue
        path = os.path.join(bdir, f)
        t = pq.read_table(path)
        rows = [i for i, x in enumerate(t.column("term").to_pylist())
                if x == term]
        if not rows:
            continue
        data = t.column("data").to_pylist()
        data[rows[0]] = corrupt(data[rows[0]])
        t = t.set_column(t.schema.get_field_index("data"),
                         t.schema.field("data"),
                         pa.array(data, pa.binary()))
        pq.write_table(t, path)
        crc = os.path.join(bdir, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)          # the checksum no longer matches
        return [data[i] for i in rows]
    raise AssertionError(f"no blocks for {term!r}")


def _decode_outcome(idx, term, with_positions):
    """→ (rows, None) or (None, error text). The driver route decodes
    while the plan is built, the executor route when the task runs."""
    try:
        return idx._term_decode_plan(term, with_positions)[0].collect(), None
    except Exception as e:  # PythonException from a task, or ValueError
        return None, str(e)


@pytest.mark.parametrize("case", sorted(CORRUPTIONS))
def test_corrupt_blocks_fail_loudly_through_both_routes(spark, skew_dirs,
                                                        tmp_path, case):
    ix = str(tmp_path / "ix")
    shutil.copytree(skew_dirs["plain"], ix)
    blobs = _corrupt_term_block(ix, "zzrare", CORRUPTIONS[case])
    old = spark.conf.get(THRESHOLD)
    try:
        for threshold, route in ((old, "driver"), ("-1", "executor")):
            spark.conf.set(THRESHOLD, threshold)
            idx = SearchIndex(spark, ix, cache_postings=False,
                              cache_docs=False)
            for wp in (False, True):
                assert idx._decode_route("zzrare", wp)["route"] == route
                rows, err = _decode_outcome(idx, "zzrare", wp)
                if any(_well_formed(b, wp) is None for b in blobs):
                    assert rows is None, (route, wp)
                    assert "corrupt posting block" in err, err
                    assert "IndexError" not in err, err
                    continue
                assert err is None, err
                got = sorted((r["doc_id"], r["tf"], r["doc_len"],
                              tuple(r["positions"] or ())) for r in rows)
                want = []
                for b in blobs:
                    ref = decode_posting_block(b, with_positions=wp)
                    for k in range(ref[0].size):
                        want.append((int(ref[0][k]), int(ref[1][k]),
                                     int(ref[2][k]),
                                     tuple(int(p) for p in ref[3][k])
                                     if wp else ()))
                assert got == sorted(want), (route, wp)
    finally:
        spark.conf.set(THRESHOLD, old)
