"""Driver decode route: small terms are decoded on the driver and handed
to the unchanged Spark plan as a local relation (SearchIndex._decode_route).

Pins route parity (pages and counts identical with the route on and off,
on uncached, cached and tombstoned views), the plan shapes of both
routes, the phrase and NEAR match tables built on the driver from
driver-decoded terms (equal to the Spark-built tables, one Spark job for
the weighted-OR), loud failure on corrupt posting blocks through either
route, and the weighted-tally field clamp shared by the JVM and numpy
tallies."""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.postings import (decode_posting_batch,
                                       decode_posting_block,
                                       encode_posting_block)
from yetisearch_spark.query import (Near, Phrase, SearchIndex, decode_scope,
                                    parse_query)
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

    q = '"zzhead zzrare"'
    out = debug_query(spark, skew_dirs["plain"], q, k=5)
    by_term = {d["term"]: d for d in out["decode"]}
    assert set(by_term) == {"zzhead", "zzrare"}, out["decode"]
    threshold = min(int(spark._jsparkSession.sessionState().conf()
                        .autoBroadcastJoinThreshold()),
                    SearchIndex.DRIVER_DECODE_MAX_BYTES)
    for d in by_term.values():
        assert d["route"] == "driver" and d["threshold"] == threshold
        assert 0 < d["est_bytes"] <= threshold
    assert "LocalTableScan" in out["plan"]
    # the phrase's match table: built on the driver, rows = its df
    idx = _open(spark, skew_dirs, "uncached")
    n = idx.count(q)
    idx.close()
    assert n > 0
    node = repr(Phrase(("zzhead", "zzrare")))
    assert out["match"] == [{"node": node, "route": "driver", "rows": n}]
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        off = debug_query(spark, skew_dirs["plain"], q, k=5)
    finally:
        spark.conf.set(THRESHOLD, old)
    assert off["match"] == [{"node": node, "route": "spark", "rows": None}]


# ---------------------------------------------------------------------------
# phrase and NEAR match tables built on the driver
# ---------------------------------------------------------------------------

#: terms the differential test draws from: the skew adversaries and two
#: mid-df corpus terms, all small enough to decode on the driver
DRAW_TERMS = ["zzhead", "zzrare", "data", "index"]
#: ``zzrare`` ends every turn that holds it, so its terms never adjoin
DF0_PHRASE = '"zzrare zzhead"'


@st.composite
def _match_query(draw, depth=2):
    """A query over DRAW_TERMS: terms, 2–3-term phrases (repeats
    allowed), NEARs of 2–3 members at distance 0–5, nested in
    AND/OR/NOT."""
    def phrase():
        return '"' + " ".join(draw(st.lists(st.sampled_from(DRAW_TERMS),
                                            min_size=2, max_size=3))) + '"'

    kind = draw(st.sampled_from(
        ["term", "phrase", "df0", "near"] + (["tree"] * 2 if depth else [])))
    if kind == "term":
        return draw(st.sampled_from(DRAW_TERMS))
    if kind == "phrase":
        return phrase()
    if kind == "df0":
        return DF0_PHRASE
    if kind == "near":
        members = [phrase() if draw(st.booleans())
                   else draw(st.sampled_from(DRAW_TERMS))
                   for _ in range(draw(st.integers(2, 3)))]
        return f"NEAR({' '.join(members)}, {draw(st.integers(0, 5))})"
    op = draw(st.sampled_from(["AND", "OR", "NOT"]))
    return (f"({draw(_match_query(depth - 1))}) {op} "
            f"({draw(_match_query(depth - 1))})")


def _has_match_table(node) -> bool:
    """Does the tree hold a NEAR or a multi-term phrase?"""
    if isinstance(node, Near):
        return True
    if isinstance(node, Phrase):
        return len(node.terms) > 1
    kids = getattr(node, "children", None) or [
        getattr(node, "include", None), getattr(node, "exclude", None)]
    return any(_has_match_table(c) for c in kids if c is not None)


@settings(max_examples=20, deadline=None, derandomize=True)
@example(q=DF0_PHRASE, weights=None)
@example(q=f'({DF0_PHRASE}) OR (NEAR({DF0_PHRASE} zzrare, 2))',
         weights={"text": 2.0})
@given(q=_match_query(), weights=st.sampled_from([None, {"text": 2.0}]))
def test_driver_match_tables_equal_spark(spark, skew_dirs, q, weights):
    """Phrase and NEAR tables built on the driver score, page and count
    exactly as the Spark-built tables of the executor route do."""
    node = parse_query(q)
    idx = _open(spark, skew_dirs, "uncached")
    old = spark.conf.get(THRESHOLD)
    got, built = {}, {}
    try:
        for route, threshold in (("driver", old), ("executor", "-1")):
            spark.conf.set(THRESHOLD, threshold)
            with decode_scope() as scope:
                scores = sorted(
                    (r["doc_id"], r["score"])
                    for r in idx.match_scores(node, weights).collect())
            built[route] = {m["route"] for m in scope.matches.values()}
            got[route] = (scores, _page(idx.search(node, k=10,
                                                   weights=weights)),
                          idx.count(node))
    finally:
        spark.conf.set(THRESHOLD, old)
        idx.close()
    assert got["driver"] == got["executor"], q
    assert "driver" not in built["executor"], q
    if _has_match_table(node):
        assert "driver" in built["driver"], q


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_match_tables_plan_one_job(spark, skew_dirs):
    """Over driver-route terms, phrase, NEAR, weighted-phrase and
    weighted-OR pages plan no cached relation and no Python node, and
    the weighted-OR runs one Spark job (AQE off, as configure_serving
    sets it for serving)."""
    idx = _open(spark, skew_dirs, "uncached")
    idx.pruned_gate_blocks = -1          # exact path: match tables
    try:
        for kind, q, weights, _ in SHAPES:
            if kind not in ("phrase", "near", "weighted", "wor"):
                continue
            with decode_scope() as scope:
                df = idx.search(q, k=10, weights=weights)
            assert {m["route"] for m in scope.matches.values()} \
                == {"driver"}, (kind, scope.matches)
            names = _node_names(df)
            assert not any(p in n for n in names for p in
                           ("InMemory", "MapInPandas", "MapInArrow")), names
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            page = []
            assert _jobs_of(spark, lambda: page.extend(
                idx.search(SKEW_WOR, k=10).collect())) == 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)
        assert len(page) == 10
    finally:
        idx.close()


#: the planner's route for each serving shape with the pruned gate
#: forced (pruned_gate_blocks=0), on cached handles: every shape prunes,
#: the filter through the filtered tier
FORCED_KINDS = {"single": "pruned", "and": "pruned", "and_mid": "pruned",
                "phrase": "pruned", "near": "pruned", "weighted": "pruned",
                "filter": "filtered", "wor": "pruned"}


def _spy_routes(monkeypatch) -> list:
    """Record every Route the planner returns, whichever facade asked."""
    seen = []
    route = SearchIndex.route

    def spy(self, *a, **kw):
        seen.append(route(self, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(SearchIndex, "route", spy)
    return seen


def _page(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _served(res):
    return ([(r["id"], r["score"]) for r in res["results"]], res["total"],
            res.get("facets"))


def test_planner_routes_per_facade(spark, skew_dirs, monkeypatch):
    """SearchIndex.search and Engine.search take the same route kind for
    the same need, and serve the pages and totals of their
    gate-disabled twins. Engine cursor pages stay exact (reason
    "cursor"); a facet query prunes only an AND-rule shape."""
    from yetisearch_spark.engine import Engine, SearchQuery

    seen = _spy_routes(monkeypatch)
    plain = skew_dirs["plain"]
    si, si_twin = SearchIndex(spark, plain), SearchIndex(spark, plain)
    si.pruned_gate_blocks, si_twin.pruned_gate_blocks = 0, -1
    cfg = {"enable_fuzzy": False}
    eng = Engine(spark, {"main": plain}, {**cfg, "pruned_gate_blocks": 0})
    twin = Engine(spark, {"main": plain}, {**cfg, "pruned_gate_blocks": -1})

    def both(sq):
        got = _served(eng.search("main", sq))
        r = seen[-1]
        assert _served(twin.search("main", sq)) == got, sq
        assert (seen[-1].kind, seen[-1].reason) == ("exact", "disabled")
        return r

    try:
        for kind, q, weights, filters in SHAPES:
            page = _page(si.search(q, k=10, weights=weights,
                                   filters=filters))
            r = seen[-1]
            assert (r.kind, r.reason) == (FORCED_KINDS[kind], None), kind
            assert page == _page(si_twin.search(q, k=10, weights=weights,
                                                filters=filters)), kind
            er = both(SearchQuery(
                query=q, limit=10, bypass_cache=True,
                boost_fields=weights or {},
                filters=[{"field": c, "operator": "=", "value": v}
                         for c, v in (filters or {}).items()]))
            assert er.kind == r.kind, kind

        p1 = si_twin.search("zzhead", k=10).collect()
        after = (p1[-1]["score"], p1[-1]["doc_id"])
        page = _page(si.search("zzhead", k=10, after=after))
        # zzhead's 38 blocks are too few for θ to bite at k' = 64, so
        # the cursor tier hands the page to the exact path, keeping the
        # round's block counters as evidence
        assert (seen[-1].kind, seen[-1].reason) == ("exact", "deepening")
        stats = seen[-1].stats
        assert stats["blocks_decoded"] > 0.5 * stats["blocks_total"], stats
        assert page == _page(si_twin.search("zzhead", k=10, after=after))
        first = eng.search("main", SearchQuery(query="zzhead", limit=10,
                                               bypass_cache=True))
        r = both(SearchQuery(query="zzhead", limit=10, bypass_cache=True,
                             search_after=first["next_cursor"]))
        assert (r.kind, r.reason) == ("exact", "cursor")

        facets = {"role": {}}
        r = both(SearchQuery(query="zzhead AND zzrare", limit=10,
                             bypass_cache=True, facets=facets))
        assert (r.kind, r.reason) == ("pruned", None)
        r = both(SearchQuery(query="zzhead", limit=10, bypass_cache=True,
                             facets=facets))
        assert (r.kind, r.reason) == ("exact", "shape")
    finally:
        for ix in (si, si_twin):
            ix.close()


def test_planner_gate_reasons(spark, skew_dirs, monkeypatch):
    """Each gate reason the fixture reaches is reported on the exact
    route it causes: shape, duplicate-terms, est_blocks (default gate),
    deepening (a filter no candidate survives) and tombstones (a view
    whose deletes exceed the override cap)."""
    from yetisearch_spark import wand
    from yetisearch_spark.query import parse_query

    idx = _open(spark, skew_dirs, "uncached")
    idx.pruned_gate_blocks = 0
    for q, reason in {'"zzhead" NOT "zzrare"': "shape",
                      "zzhead OR zzhead": "duplicate-terms"}.items():
        r = idx.route(parse_query(q), 10)
        assert (r.kind, r.reason) == ("exact", reason), q
    nobody = idx._docs.where(F.col("role") == "nope").select("doc_id")
    r = idx.route(parse_query("data"), 10, fids=nobody)
    assert (r.kind, r.reason) == ("exact", "deepening")
    idx.pruned_gate_blocks = None
    r = idx.route(parse_query("zzhead"), 10)
    assert (r.kind, r.reason) == ("exact", "est_blocks")
    assert r.stats["est_blocks"] > 0
    idx.close()

    live = _open(spark, skew_dirs, "tombstoned")
    live.pruned_gate_blocks = 0
    try:
        node = parse_query("zzhead")
        r = live.route(node, 10)
        assert (r.kind, r.stats["blocks_decoded"] > 0) == ("pruned", True)
        page = _page(live._top(r, 10))
        monkeypatch.setattr(wand, "OVERRIDES_TOMB_CAP", 0)
        r = live.route(node, 10)
        assert (r.kind, r.reason) == ("exact", "tombstones")
        assert _page(live._top(r, 10)) == page
    finally:
        live.close()


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


@settings(max_examples=300, deadline=None, derandomize=True)
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


def test_corrupt_block_fails_loudly_in_tombstone_overrides(spark, skew_dirs,
                                                           tmp_path):
    """The tombstone overrides of the pruned tier decode with the same
    batch kernel as the serving routes, so a corrupt block of a term a
    victim holds raises the ValueError naming the term."""
    ix = str(tmp_path / "tomb")
    shutil.copytree(skew_dirs["tomb"], ix)
    blobs = _corrupt_term_block(ix, "zzrare", CORRUPTIONS["cut_to_1"])
    assert _well_formed(blobs[0], False) is None
    live = GlobalSegmentedIndex(spark, ix, cache_postings=False,
                                cache_docs=False)
    try:
        with pytest.raises(Exception) as err:
            live._wand_block_overrides().count()
        assert "term 'zzrare': corrupt posting block" in str(err.value)
    finally:
        live.close()
