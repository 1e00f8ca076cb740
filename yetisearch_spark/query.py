"""Query compiler + BM25 scoring engine over the partitioned posting index.

Semantics are pinned to SQLite FTS5 (the reference's storage engine,
reference: src/Storage/SqliteStorage.php:991-1134) and were calibrated
float-exact against sqlite3:

  * score(doc) = Σ over query phrases: idf·tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl))
    with k1=1.2, b=0.75, idf = ln((N−df+0.5)/(df+0.5)) clamped to 1e-6
    when ≤ 0, accumulated in query-phrase order (we add in fixed phrase
    order via a full-outer join chain, matching FTS5's accumulation).
  * a multi-token phrase is ONE scoring phrase: df = docs containing the
    phrase, tf = phrase occurrences.
  * NEAR(p1 … pk, n) constrains matching, but its member phrases score
    with their standalone df and full tf.
  * prefix ``tok*`` is one scoring phrase: tf = Σ tf over matching
    terms, df = docs containing any matching term.
  * ties broken by ascending doc_id (FTS5 returns rowid order).

Execution is Spark-first: postings are read with bucket partition
pruning + term predicate pushdown (terms are sorted within bucket files
so parquet row-group stats prune prefix range scans), decoded in one
Arrow kernel, then composed with joins/aggregations that Catalyst
plans. The final top-k is TakeOrderedAndProject (orderBy+limit).

Serving-path shape (round 2 — one shuffle, one planning job, hot cache):

  * decoded postings are cached PER TERM (persisted DataFrames, LRU) —
    repeated query terms skip the scan+decode entirely.
  * all scoring slots are unioned as (doc_id, slot, contribution) rows
    and reduced in ONE plain hash aggregation of per-slot conditional
    sums — each slot sources at most one row per doc, so
    sum(when(slot=i, c)) is exactly that row's contribution and the
    explicit slot-order fold over coalesce(sᵢ, 0.0) preserves FTS5's
    in-expression-order float accumulation (adding 0.0 for absent slots
    cannot change an IEEE sum of non-negative contributions).
  * boolean qualification (AND/OR/NOT/NEAR trees) is a predicate over
    per-slot presence (sᵢ IS NOT NULL) — no per-child join chain, no
    object aggregation anywhere in scoring.
  * every multi-token phrase/prefix df is counted in ONE batched job
    (union of tagged match tables → groupBy(tag).count()), except a
    phrase whose terms all decode on the driver: its match table is
    built there, and its df is its row count, so it needs no df job.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import NamedTuple, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .analyzer import analyze
from .postings import BM25_B, BM25_K1
from .build import load_docs, load_manifest

import functools
import math
import os
import re


# ---------------------------------------------------------------------------
# Query AST
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Phrase:
    """1..m analyzed terms; m==1 is a plain term match."""
    terms: tuple[str, ...]


@dataclass(frozen=True)
class PrefixNode:
    prefix: str


@dataclass(frozen=True)
class Near:
    phrases: tuple[Phrase, ...]
    distance: int = 10


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    include: object
    exclude: object


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\()|(?P<rparen>\))|(?P<comma>,)|
        (?P<quoted>"(?:[^"]|"")*")|
        (?P<near>NEAR\b)|(?P<and>AND\b)|(?P<or>OR\b)|(?P<not>NOT\b)|
        (?P<word>[^\s()",]+)
    )""",
    re.VERBOSE,
)


class QueryParser:
    """FTS5-style query grammar: NOT > AND(implicit too) > OR, parens,
    quoted phrases, NEAR(a b, n), trailing-* prefix.

    Mirrors the query shapes the reference emits
    (reference: src/Search/SearchEngine.php:549-643)."""

    def __init__(self, text: str):
        self.tokens: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if not m or m.end() == pos:
                break
            pos = m.end()
            for name, val in m.groupdict().items():
                if val is not None:
                    self.tokens.append((name, val))
                    break
        self.i = 0

    def _peek(self):
        return self.tokens[self.i] if self.i < len(self.tokens) else (None, None)

    def _next(self):
        tok = self._peek()
        self.i += 1
        return tok

    def parse(self):
        node = self._parse_or()
        return node

    def _parse_or(self):
        left = self._parse_and()
        parts = [left] if left is not None else []
        while self._peek()[0] == "or":
            self._next()
            right = self._parse_and()
            if right is not None:
                parts.append(right)
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def _parse_and(self):
        parts = []
        while True:
            kind, _ = self._peek()
            if kind in (None, "or", "rparen"):
                break
            if kind == "and":
                self._next()
                continue
            if kind == "not":
                self._next()
                right = self._parse_atom()
                if parts and right is not None:
                    left = parts[0] if len(parts) == 1 else And(tuple(parts))
                    parts = [Not(left, right)]
                continue
            atom = self._parse_atom()
            if atom is not None:
                parts.append(atom)
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def _parse_atom(self):
        kind, val = self._next()
        if kind == "lparen":
            node = self._parse_or()
            if self._peek()[0] == "rparen":
                self._next()
            return node
        if kind == "quoted":
            words = val[1:-1].replace('""', '"').split()
            terms = _analyze_words(words)
            return Phrase(tuple(terms)) if terms else None
        if kind == "near":
            return self._parse_near()
        if kind == "word":
            if val.endswith("*") and len(val) > 1:
                stem_prefix = _analyze_prefix(val[:-1])
                return PrefixNode(stem_prefix) if stem_prefix else None
            terms = _analyze_words([val])
            if not terms:
                return None
            return Phrase((terms[0],)) if len(terms) == 1 else Phrase(tuple(terms))
        return None

    def _parse_near(self):
        phrases: list[Phrase] = []
        distance = 10
        if self._peek()[0] == "lparen":
            self._next()
            pending_words: list[str] = []

            def flush_words():
                for w in pending_words:
                    terms = _analyze_words([w])
                    if terms:
                        phrases.append(Phrase(tuple(terms)))
                pending_words.clear()

            while True:
                kind, val = self._peek()
                if kind is None:
                    break
                if kind == "rparen":
                    self._next()
                    break
                if kind == "comma":
                    self._next()
                    kind2, val2 = self._peek()
                    if kind2 == "word" and val2.isdigit():
                        self._next()
                        distance = int(val2)
                    continue
                if kind == "quoted":
                    self._next()
                    flush_words()
                    terms = _analyze_words(val[1:-1].replace('""', '"').split())
                    if terms:
                        phrases.append(Phrase(tuple(terms)))
                    continue
                if kind == "word":
                    self._next()
                    pending_words.append(val)
                    continue
                self._next()
            flush_words()
        if not phrases:
            return None
        if len(phrases) == 1:
            return phrases[0]
        return Near(tuple(phrases), distance)


def _analyze_words(words: Sequence[str]) -> list[str]:
    """Query-side analysis — same pipeline as documents (SURVEY §7.0.1)."""
    return analyze(" ".join(words))


def _analyze_prefix(raw: str) -> Optional[str]:
    """Prefix tokens are normalized/lowercased but NOT stemmed (a stem of a
    prefix is meaningless); stop-word prefixes are kept."""
    from .analyzer import normalize, tokenize
    toks = tokenize(normalize(raw))
    return toks[-1] if toks else None


def parse_query(text: str):
    return QueryParser(text).parse()


def configure_serving(spark: SparkSession) -> None:
    """Tune a long-lived session for low-latency serving.

    AQE's value is runtime re-planning of big batch shuffles; on hot
    top-k queries over pinned co-partitioned caches it only adds one
    scheduler round per exchange materialization (measured ~2× on hot
    AND/OR at local[8]). Builds and batch jobs should keep AQE on —
    flip this only on the query-serving session/replica."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")


# ---------------------------------------------------------------------------
# Plan helpers
# ---------------------------------------------------------------------------

def _collect_phrases(node, out: list) -> None:
    """All scoring phrases in query order (FTS5 accumulates in this order)."""
    if node is None:
        return
    if isinstance(node, (Phrase, PrefixNode)):
        out.append(node)
    elif isinstance(node, Near):
        out.extend(node.phrases)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            _collect_phrases(c, out)
    elif isinstance(node, Not):
        _collect_phrases(node.include, out)
        _collect_phrases(node.exclude, out)


def _collect_terms(node, terms: set, prefixes: set) -> None:
    if node is None:
        return
    if isinstance(node, Phrase):
        terms.update(node.terms)
    elif isinstance(node, PrefixNode):
        prefixes.add(node.prefix)
    elif isinstance(node, Near):
        for p in node.phrases:
            terms.update(p.terms)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            _collect_terms(c, terms, prefixes)
    elif isinstance(node, Not):
        _collect_terms(node.include, terms, prefixes)
        _collect_terms(node.exclude, terms, prefixes)


_DECODED_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("tf", IntegerType(), False),
    StructField("doc_len", IntegerType(), False),
    StructField("positions", ArrayType(IntegerType()), True),
])

# one row per (doc, phrase-like node): the match-table shape
_MATCH_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("tf", IntegerType(), False),
    StructField("doc_len", IntegerType(), False),
    StructField("positions", ArrayType(IntegerType()), True),
])


def _decode_blocks(datas, with_positions: bool, terms):
    """Posting blocks in a (large_)binary Arrow array → the output of
    decode_posting_batch. The array's (offsets, values) buffers ARE the
    block-boundary layout the kernel wants, so nothing is copied.
    ``terms`` (one term, or an Arrow array of each block's term) names
    the term of a corrupt block in the raised ValueError."""
    import pyarrow as pa

    from .postings import CorruptBlockError, decode_posting_batch

    if len(datas) == 0:
        return decode_posting_batch(np.zeros(1, np.int64),
                                    np.empty(0, np.uint8), with_positions)
    off_dt = np.int64 if pa.types.is_large_binary(datas.type) else np.int32
    bufs = datas.buffers()
    offs = np.frombuffer(bufs[1], off_dt)[
        datas.offset:datas.offset + len(datas) + 1].astype(np.int64)
    vals = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
            else np.empty(0, np.uint8))
    lo = int(offs[0])
    try:
        return decode_posting_batch(offs - lo, vals[lo:int(offs[-1])],
                                    with_positions=with_positions)
    except CorruptBlockError as e:
        term = terms if isinstance(terms, str) else terms[e.block].as_py()
        raise ValueError(f"term {term!r}: {e}") from e


class _Rows(NamedTuple):
    """Posting or match rows as flat numpy columns: doc_id, tf, doc_len
    and, when decoded, row i's positions at
    positions[offsets[i]:offsets[i + 1]]."""
    doc_id: np.ndarray
    tf: np.ndarray
    doc_len: np.ndarray
    offsets: Optional[np.ndarray] = None
    positions: Optional[np.ndarray] = None


def _rows_of(out, with_positions: bool) -> _Rows:
    """decode_posting_batch output → _Rows (no copy)."""
    return _Rows(*out[1:4], *(out[4:6] if with_positions else ()))


def _take_rows(r: _Rows, idx: np.ndarray) -> _Rows:
    """Rows ``idx`` of ``r``, in that order, positions gathered along."""
    if r.offsets is None:
        return _Rows(r.doc_id[idx], r.tf[idx], r.doc_len[idx])
    lens = r.offsets[idx + 1] - r.offsets[idx]
    offs = np.zeros(idx.size + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    gather = (np.repeat(r.offsets[idx] - offs[:-1], lens)
              + np.arange(offs[-1], dtype=np.int64))
    return _Rows(r.doc_id[idx], r.tf[idx], r.doc_len[idx], offs,
                 r.positions[gather])


def _posting_columns(r: _Rows) -> list:
    """_Rows → Arrow arrays doc_id, tf, doc_len (+ positions when
    decoded), assembled zero-copy from the flat numpy columns
    (pa.ListArray.from_arrays, no per-doc Python objects)."""
    import pyarrow as pa

    cols = [pa.array(r.doc_id.astype(np.int64)),
            pa.array(r.tf.astype(np.int32)),
            pa.array(r.doc_len.astype(np.int32))]
    if r.offsets is not None:
        cols.append(pa.ListArray.from_arrays(
            pa.array(r.offsets.astype(np.int32)),
            pa.array(r.positions.astype(np.int32))))
    return cols


def _common_docs(rows: Sequence[_Rows]) -> tuple[np.ndarray, list]:
    """Docs present in every one of the doc_id-sorted ``rows`` → (doc
    ids, each input restricted to them, row for row)."""
    docs = rows[0].doc_id
    for r in rows[1:]:
        docs = np.intersect1d(docs, r.doc_id, assume_unique=True)
    return docs, [_take_rows(r, np.searchsorted(r.doc_id, docs))
                  for r in rows]


def _phrase_rows(term_rows: Sequence[_Rows]) -> _Rows:
    """The driver twin of SearchIndex._phrase_match: phrase matches from
    the doc_id-sorted positional rows of each phrase term, in phrase
    order → (doc_id, tf = instances, doc_len, positions = instance
    starts). Per doc S₀ = P₀ and Sᵢ = Sᵢ₋₁ ∩ (Pᵢ − i), the
    array_intersect chain, computed as one sorted intersection of
    (doc, position) keys per term."""
    m = len(term_rows)
    docs, sub = _common_docs(term_rows)
    top = max((int(r.positions.max()) for r in sub if r.positions.size),
              default=0)
    big = top + m + 1    # every shifted position lies in [1, big)
    starts = None
    for i, r in enumerate(sub):
        doc = np.repeat(np.arange(docs.size, dtype=np.int64),
                        np.diff(r.offsets))
        key = doc * big + (r.positions.astype(np.int64) + (m - i))
        starts = key if starts is None else np.intersect1d(
            starts, key, assume_unique=True)
    tf = np.bincount(starts // big, minlength=docs.size)
    keep = tf > 0
    offs = np.zeros(int(keep.sum()) + 1, np.int64)
    np.cumsum(tf[keep], out=offs[1:])
    return _Rows(docs[keep], tf[keep], sub[0].doc_len[keep], offs,
                 starts % big - m)


def _decode_arrow_factory(with_positions: bool):
    """mapInArrow posting-block decode kernel (round 7): each Arrow batch
    of (term, data) block rows decodes in one vectorized pass — no
    per-block Python, no per-doc position loop. Measured 3.5× (light) /
    16× (positional) over a per-block pandas kernel on a 1M-posting head
    term."""
    import pyarrow as pa

    out_schema = pa.schema([
        pa.field("term", pa.string(), False),
        pa.field("doc_id", pa.int64(), False),
        pa.field("tf", pa.int32(), False),
        pa.field("doc_len", pa.int32(), False),
        pa.field("positions", pa.list_(pa.int32()), True),
    ])

    def decode(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            terms = batch.column(batch.schema.get_field_index("term"))
            out = _decode_blocks(
                batch.column(batch.schema.get_field_index("data")),
                with_positions, terms)
            rows, n = out[0], out[1].size
            if n == 0:
                continue
            cols = _posting_columns(_rows_of(out, with_positions))
            if not with_positions:
                cols.append(pa.nulls(n, pa.list_(pa.int32())))
            idx = np.repeat(np.arange(len(rows), dtype=np.int64), rows)
            yield pa.record_batch([terms.take(pa.array(idx))] + cols,
                                  schema=out_schema)
    return decode


def decode_plan(scan: DataFrame, with_positions: bool) -> DataFrame:
    """(term, data) block rows → decoded posting rows via the vectorized
    Arrow kernel, run in Spark's Python tasks (the executor route).

    The one kernel (``decode_posting_batch`` over the blocks' Arrow
    buffers) runs in two places. Here, inside ``mapInArrow``; and on the
    driver, where SearchIndex._term_decode_plan decodes a term whose
    estimated decoded size (16·df, plus 4·cf with positions) is within
    the session's ``spark.sql.autoBroadcastJoinThreshold`` and
    SearchIndex.DRIVER_DECODE_MAX_BYTES, and hands the rows to Spark as
    a local relation (see SearchIndex._decode_route).
    Prefix scans, warm()'s combined fills and the pruned tier's block
    scans always come here."""
    return (scan.select("term", "data")
            .mapInArrow(_decode_arrow_factory(with_positions),
                        schema=_DECODED_SCHEMA))


def _near_trim(instances: list[np.ndarray], plens: list[int], distance: int,
               wvec: Optional[tuple] = None):
    """FTS5 NEAR: an assignment (one instance per phrase) is valid iff
    max(start) − min(end) − 1 ≤ distance. Returns (matched, trimmed tf per
    phrase) where an instance counts iff it belongs to ≥1 valid assignment
    (FTS5 trims near-group position lists before bm25 sees them —
    calibrated float-exact against sqlite3 FTS5).

    With ``wvec`` each surviving instance contributes its field's weight
    (field = position >> FIELD_SHIFT) instead of 1 — the multi-column
    bm25(fts, w…) accumulation over trimmed doclists."""
    from .build import FIELD_SHIFT

    def tally(valid_positions: np.ndarray):
        if wvec is None:
            return int(valid_positions.size)
        fields = (valid_positions >> FIELD_SHIFT).clip(0, len(wvec) - 1)
        return float(np.asarray(wvec, dtype=np.float64)[fields].sum())

    k = len(instances)
    if any(inst.size == 0 for inst in instances):
        return False, None
    if k == 1:
        return True, [tally(instances[0])]
    ends = [inst + (plens[j] - 1) for j, inst in enumerate(instances)]
    ms = np.unique(np.concatenate(ends))
    ok = np.empty((k, ms.size), dtype=bool)
    for j in range(k):
        lo = np.searchsorted(instances[j], ms - (plens[j] - 1), side="left")
        hi = np.searchsorted(instances[j], ms + distance + 1, side="right")
        ok[j] = hi > lo
    if not ok.all(axis=0).any():
        return False, None
    counts = []
    for i in range(k):
        others = np.ones(ms.size, dtype=bool)
        for j in range(k):
            if j != i:
                others &= ok[j]
        valid_ms = ms[others]
        xs = instances[i]
        lo = np.searchsorted(valid_ms, xs - distance - 1, side="left")
        hi = np.searchsorted(valid_ms, xs + (plens[i] - 1), side="right")
        counts.append(tally(xs[hi > lo]))
    return True, counts


def _near_kernel(doc_id: np.ndarray, doc_len: np.ndarray, members: list,
                 plens: list[int], distance: int,
                 warr: Optional[np.ndarray] = None) -> Optional[dict]:
    """Batch-vectorized _near_trim over n candidate docs, shared by the
    mapInPandas NEAR kernel and the driver NEAR tables. ``members``: per
    NEAR phrase, (per-doc instance counts, the docs' instance starts
    flattened in doc order). → the columns doc_id, doc_len, tf_0 …
    tf_{k-1} of the matching docs, or None when none matches.

    Every doc's instance lists are flattened into ONE sorted int64 array
    per phrase, keyed by doc_row * big + position (big > max_pos +
    distance + max(plens) + 1, so window probes can never cross a doc
    boundary) — all searchsorted/window logic then runs once per batch
    instead of once per doc (no per-row Python loop; float-identical to
    _near_trim, which the plan tests keep as the reference oracle)."""
    from .build import FIELD_SHIFT

    n, k = doc_id.size, len(members)
    if n == 0:
        return None
    rows_idx = np.arange(n, dtype=np.int64)
    flats = [flat for _, flat in members]
    docs_of = [np.repeat(rows_idx, lens) for lens, _ in members]
    max_pos = max((int(f.max()) for f in flats if f.size), default=0)
    big = max_pos + distance + max(plens) + 2
    offs = [flats[i] + docs_of[i] * big for i in range(k)]
    ends = [offs[j] + (plens[j] - 1) for j in range(k)]
    ms = np.unique(np.concatenate(ends))
    ok = np.empty((k, ms.size), dtype=bool)
    for j in range(k):
        lo = np.searchsorted(offs[j], ms - (plens[j] - 1), side="left")
        hi = np.searchsorted(offs[j], ms + distance + 1, side="right")
        ok[j] = hi > lo
    matched = np.zeros(n, dtype=bool)
    matched[ms[ok.all(axis=0)] // big] = True
    if not matched.any():
        return None
    out = {"doc_id": doc_id[matched], "doc_len": doc_len[matched]}
    for i in range(k):
        others = np.ones(ms.size, dtype=bool)
        for j in range(k):
            if j != i:
                others &= ok[j]
        valid_ms = ms[others]
        xs = offs[i]
        lo = np.searchsorted(valid_ms, xs - distance - 1, side="left")
        hi = np.searchsorted(valid_ms, xs + (plens[i] - 1), side="right")
        keep = hi > lo
        kept_docs = docs_of[i][keep]
        if warr is None:
            cnt = np.bincount(kept_docs, minlength=n)
            out[f"tf_{i}"] = cnt[matched].astype(np.int32)
        else:
            fld = np.clip(flats[i][keep] >> FIELD_SHIFT, 0, len(warr) - 1)
            cnt = np.bincount(kept_docs, weights=warr[fld], minlength=n)
            out[f"tf_{i}"] = cnt[matched]
    return out


@dataclass
class DecodeScope:
    """Decode state of ONE search()/count()/match_scores() call.

    ``arrays``: driver-decoded terms as doc_id-sorted _Rows by (index,
    term, positions), each decoded at most once per call (a light
    request reuses positional rows). ``frames``: local relations built
    from them by (index, term, positions), only for terms a Spark plan
    reads. ``routes``: every decode route taken, by (term, positions);
    ``matches``: the route of every phrase/NEAR match table built, by
    node, as {node, route ("driver" or "spark"), rows (the driver row
    count, None on Spark)} — debug_query reports both."""
    arrays: dict = field(default_factory=dict)
    frames: dict = field(default_factory=dict)
    routes: dict = field(default_factory=dict)
    matches: dict = field(default_factory=dict)


@dataclass
class Route:
    """One query's serving route (SearchIndex.route) and what its caller
    reads the page and total from.

    ``kind``: "filtered", "pruned" or "cursor" (the pruned tier with a
    filter, alone, or after a keyset cursor), or "exact" (match_scores).
    ``reason``: why an exact route skipped the pruned tier — wand's gate
    reason ("shape", "duplicate-terms", "tombstones", "weighted-head",
    "cold-phrase-df", "empty"), "est_blocks" (estimate below the cost
    gate) or the planner's "disabled", "deepening" or "cursor"; None
    for the other kinds. ``scores``: the (doc_id, score) rows of the
    page; an exact route leaves the filter and cursor to its caller.
    ``total`` / ``count``: the result total when asked for, a literal or
    a (frame, base) count branch (total = base + rows of frame); both
    None → count ``scores``. ``handles``: persisted frames to release()
    after the page's jobs. ``stats``: the pruned tier's block counters,
    {"est_blocks": n} when the estimate gated, plus "total_mode" for a
    non-exact total policy. ``volatile``: the plan reads a first-touch
    decode frame, so no caller may memoise a plan built over it."""
    kind: str
    reason: Optional[str]
    scores: DataFrame
    total: Optional[int] = None
    count: Optional[tuple] = None
    handles: list = field(default_factory=list)
    stats: Optional[dict] = None
    volatile: bool = False


def _after_cursor(scores: DataFrame, after: tuple) -> DataFrame:
    """Rows strictly after the keyset cursor (raw_score, doc_id) in the
    (score DESC, doc_id ASC) order."""
    s, d = float(after[0]), int(after[1])
    return scores.where((F.col("score") < F.lit(s))
                        | ((F.col("score") == F.lit(s))
                           & (F.col("doc_id") > F.lit(d))))


_SCOPE: contextvars.ContextVar = contextvars.ContextVar(
    "yetisearch_decode_scope", default=None)


@contextmanager
def decode_scope():
    """Open a per-call DecodeScope, or join the enclosing one. The state
    lives in a ContextVar and every thread starts with an empty context,
    so concurrent callers never share it."""
    scope = _SCOPE.get()
    if scope is not None:
        yield scope
        return
    scope = DecodeScope()
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)


# ---------------------------------------------------------------------------
# Search index
# ---------------------------------------------------------------------------

class SearchIndex:
    """Query-side facade over an index directory built by build_index."""

    #: decoded-postings LRU: hot query terms keep their decoded posting
    #: DataFrames persisted across queries (the serving analog of the
    #: reference's prepared-statement + page cache, K4/K5 family).
    #: Sized above warm()'s default prefill (64 light + 32 positional)
    #: plus working-set headroom; frames spill MEMORY_AND_DISK, so the
    #: bound is eviction policy, not OOM protection.
    DECODED_CACHE_MAX = 512
    #: bound on live persisted per-query match tables for callers that
    #: never call release() (engine does; ad-hoc users are still bounded)
    HANDLE_GROUPS_MAX = 16
    #: max docs a per-term match table may hold and still be broadcast in
    #: the shuffle-free AND/OR join paths (head terms fall back to the
    #: single-shuffle aggregation)
    BROADCAST_DF_CAP = 4_000_000
    #: facade cost gate for the block-max pruned top-k tier (wand.py):
    #: None → wand's block-estimate defaults (prune only when the shape
    #: is simple AND the term block count makes pruning worth a phase-1
    #: metadata job); 0 forces pruning for every eligible shape (tests /
    #: benches); negative disables the facade route entirely. The
    #: reference analog is FTS5's internal top-k pruning, always on
    #: under ORDER BY rank LIMIT (src/Storage/SqliteStorage.php:1104-1134).
    pruned_gate_blocks: int | None = None

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_postings: bool = True, cache_docs: bool = True):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_manifest(index_dir)
        cfg = self.manifest.get("config", {})
        self.num_buckets = int(cfg.get("num_buckets", 32))
        self.fields: list[str] = list(cfg.get("fields", ["text"]))
        gs = spark.read.parquet(os.path.join(index_dir, "global_stats")).collect()[0]
        self.n_docs = int(gs["n_docs"])
        self.avgdl = float(gs["avgdl"] or 1.0)
        self._postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        self._term_stats = spark.read.parquet(os.path.join(index_dir, "term_stats"))
        self._docs = load_docs(spark, index_dir, self.manifest)
        #: delete vector (doc_id frame) — None on a plain index; the
        #: GlobalSegmentedIndex serving view sets it, and every decoded
        #: posting frame anti-joins it BEFORE caching (see
        #: _decoded_for_term), so downstream tables are delete-exact
        self._tomb: Optional[DataFrame] = None
        if cache_docs:
            # serving replicas pin the doc store (MEMORY_AND_DISK — spills,
            # never OOMs); the payload join then reads memory, not parquet
            self._docs = self._docs.persist()
        self._docs_cached = cache_docs
        self._vocab_cache: dict | None | bool = None
        self._cache_postings = cache_postings
        self._cache_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
        from collections import OrderedDict
        self._decoded_cache: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._decoded_raw: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._retired: list[DataFrame] = []
        self._plan_volatile = False
        self._match_cache: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._df_count_cache: dict[tuple, int] = {}
        self._plan_cache: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._handle_groups: list[list[DataFrame]] = []

    def warm(self, top_df_terms: int = 64,
             positional_terms: int = 32) -> dict:
        """Replica bootstrap: materialize the pinned doc store before
        taking traffic (the reference opens and mmaps its SQLite file at
        construction, too). Without this, the first query that joins
        documents — typically the first fuzzy/boosted page — pays the
        full doc-store cache fill inside its own latency. Also loads the
        term dictionary (small-vocab fast path), so the first query's
        planning runs zero stats jobs.

        ``top_df_terms``: additionally pre-fill the decoded-postings
        cache (light, position-free variant) for the N highest-df terms —
        cold fills are linear in df, so the head terms ARE the expensive
        ones; filling them at bootstrap moves that cost out of first-
        query latency (round-5 order: the sf1 cold total was dominated by
        head-term decode fills). ``positional_terms``: same for the
        positional variant (phrase/NEAR serving) over a SMALLER head set
        — positional frames cost ~6× the light ones, so a replica warms
        fewer of them. One materializing action over the union of the
        promoted frames. 0 disables either tier. Returns {"docs": n,
        "warmed_terms": k}.

        Defaults are deliberately modest: measured at 10M docs, warming
        320 frames made SUBSEQUENT queries slower (every query's plan
        lookup walks the CacheManager's canonical-plan entries, and
        hundreds of cached frames outweigh the decode savings), while
        the head-64/32 set costs ~30 s bootstrap and shaves the worst
        cold fills.

        Measured bring-up cost (the bench's ``warm_bootstrap`` leg):
        ~12 s at 1M docs, ~30 s at 10M — linear in head-term df, since
        the prefill IS a decode of the head postings. At 100× the next
        lever is already in place structurally: the fill is ONE union
        action over all promoted frames, so its wall time is the
        slowest head term's partition-parallel decode, not the sum —
        growth past minutes means raising decode parallelism
        (shuffle partitions on the cache repartition), not splitting
        the action."""
        n = self._docs.count() if self._docs_cached else 0
        self.term_stats_for(["_warm_probe"])   # triggers the vocab load
        warmed = 0
        if (top_df_terms or positional_terms) and self._cache_postings:
            rows = (self._term_stats.orderBy(F.desc("df"))
                    .limit(max(top_df_terms, positional_terms))
                    .select("term", "df").collect())
            # round 7 fill shape: ONE combined scan+decode per variant
            # (a per-term fill paid ~25 ms of Python-runner task setup
            # × 96 frames — the decode itself is milliseconds), then
            # each cached frame is a pure-JVM filter over the combined
            # in-memory frame, co-partitioned layout inherited from the
            # combined repartition. The combined frames are unpersisted
            # once the per-term caches are materialized.
            todo = []
            for i, r in enumerate(rows):
                if i < top_df_terms:
                    todo.append((r["term"], int(r["df"]), False))
                if i < positional_terms:
                    todo.append((r["term"], int(r["df"]), True))
            todo = [t for t in todo
                    if ("t", t[0], t[2]) not in self._decoded_cache]

            def combined_frame(terms: list[str], with_pos: bool):
                buckets = self._buckets_for_terms(terms)
                out = decode_plan(
                    self._postings
                    .where(F.col("bucket").isin(buckets))
                    .where(F.col("term").isin(terms)), with_pos)
                if self._tomb is not None:
                    out = out.join(self._tomb.select("doc_id"),
                                   "doc_id", "left_anti")
                # clustered by term so the in-memory columnar batch
                # stats (min/max term per 10k-row batch) let every
                # per-term filter below skip other terms' batches
                width = max(2, self._cache_partitions // 4)
                return (out.repartition(width, "term")
                        .sortWithinPartitions("term").persist())

            by_variant: dict[bool, list[str]] = {}
            for term, dfc, wp in todo:
                by_variant.setdefault(wp, []).append(term)
            combined = {wp: combined_frame(ts, wp)
                        for wp, ts in by_variant.items()}
            for c in combined.values():
                c.count()   # materialize once, before the per-term fan-out

            def build_frame(term: str, df_count: int, with_pos: bool):
                plan = combined[with_pos].where(F.col("term") == term)
                if df_count >= self.COPART_MIN_DF:
                    plan = plan.repartition(self._cache_partitions,
                                            "doc_id")
                else:
                    plan = plan.coalesce(1)   # narrow — no exchange
                return plan.persist()

            # frame construction is driver-side py4j chatter — overlap it
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=8) as pool:
                built = list(pool.map(lambda a: build_frame(*a), todo))
            promoted = []
            for (term, dfc, wp), df in zip(todo, built):
                self._decoded_cache[("t", term, wp)] = df
                promoted.append(df)
                while len(self._decoded_cache) > self.DECODED_CACHE_MAX:
                    _, old = self._decoded_cache.popitem(last=False)
                    old.unpersist()
            if promoted:
                out = promoted[0].select("doc_id")
                for p in promoted[1:]:
                    out = out.unionByName(p.select("doc_id"))
                out.count()   # ONE action materializes every pinned frame
            for c in combined.values():
                c.unpersist()   # per-term caches are self-contained now
            warmed = len(promoted)
        return {"docs": int(n), "warmed_terms": warmed}

    def close(self) -> None:
        """Unpersist every cached frame this index pinned."""
        if self._docs_cached:
            self._docs.unpersist()
        for df in self._decoded_cache.values():
            df.unpersist()
        self._decoded_cache.clear()
        for df in self._decoded_raw.values():
            df.unpersist()
        self._decoded_raw.clear()
        for df in self._retired:
            df.unpersist()
        self._retired.clear()
        for df in self._match_cache.values():
            df.unpersist()
        self._match_cache.clear()
        self._df_count_cache.clear()
        for g in self._handle_groups:
            for h in g:
                h.unpersist()
        self._handle_groups.clear()

    # -- postings access ----------------------------------------------------

    #: df at/above which a cached decode keeps the full co-partition
    #: width (below it, one partition — see _cached_decoded docstring)
    COPART_MIN_DF = 100_000

    def _cached_decoded(self, key: tuple, factory,
                        n_docs_hint: int | None = None) -> DataFrame:
        """Per-term/prefix decoded-postings cache (persisted, LRU).

        Cached frames are CO-PARTITIONED on doc_id (one shuffle at cache
        fill, amortized across every query touching the term): boolean
        joins between cached terms then need no exchange at all, and the
        OR aggregation shuffles pre-bucketed balanced partitions. Hot
        AND latency measured 6× lower with this layout (0.19s → 0.03s
        at 200k docs / 8 cores).

        ``n_docs_hint`` (the term's df, known driver-side for free)
        picks the width: terms under COPART_MIN_DF collapse to ONE
        partition — filling a 50-row frame across 32 shuffle partitions
        schedules 32 no-op tasks per term, which dominated the fuzzy
        path's 30-variation cold fill. Head terms keep the full width,
        so head∧head joins stay co-partitioned; tiny frames are
        auto-broadcast by size stats anyway.

        Two-touch promotion (round 4): the FIRST touch serves a plain
        persisted decode — no repartition exchange sits in front of
        query #1's action, which was the round-3 cold-latency regression
        (one extra stage per new term with AQE off). The touch marks the
        in-flight plan volatile so no memo layer caches a plan over the
        transitional frame. The SECOND touch builds the co-partitioned
        frame FROM the persisted raw rows (a shuffle of cached rows, not
        a re-decode), retires the raw frame (unpersisted at the next
        query's match_scores, by which time the promoting query's action
        has materialized the swap), and hot serving proceeds on the
        zero-exchange layout exactly as before."""
        if not self._cache_postings:
            return factory()
        hit = self._decoded_cache.get(key)
        if hit is not None:
            self._decoded_cache.move_to_end(key)
            return hit
        width = self._cache_partitions if (n_docs_hint is None
                                           or n_docs_hint >= self.COPART_MIN_DF) \
            else 1
        raw = self._decoded_raw.get(key)
        if raw is None:
            df = factory().persist()
            self._decoded_raw[key] = df
            while len(self._decoded_raw) > self.DECODED_CACHE_MAX:
                _, old = self._decoded_raw.popitem(last=False)
                old.unpersist()
            self._plan_volatile = True
            return df
        del self._decoded_raw[key]
        # width 1 = "one partition, please": coalesce is a NARROW dep —
        # no exchange, the (small) term decodes in one task. Only head
        # terms (≥ COPART_MIN_DF) pay the hash repartition that buys
        # exchange-free boolean joins; small frames are auto-broadcast
        # by size stats anyway, so their partitioning never matters.
        df = (raw.coalesce(1) if width == 1
              else raw.repartition(width, "doc_id")).persist()
        self._retired.append(raw)
        self._decoded_cache[key] = df
        while len(self._decoded_cache) > self.DECODED_CACHE_MAX:
            _, old = self._decoded_cache.popitem(last=False)
            old.unpersist()
        return df

    #: compiled-plan LRU size (plans are driver objects, no executor state)
    PLAN_CACHE_MAX = 256

    def _cached_plan(self, key: tuple, builder) -> DataFrame:
        """Prepared-plan cache: hot serving re-collects an already-built
        DataFrame instead of re-running ~10²-10³ py4j expression calls
        per query (the Spark analog of the reference's prepared-statement
        cache, src/Storage/SqliteStorage.php K2/K3 family). Safe because
        a SearchIndex's underlying parquet never mutates (mutations ship
        as new segments; the engine swaps the serving view by epoch)."""
        if not self._cache_postings:
            return builder()
        hit = self._plan_cache.get(key)
        if hit is not None:
            self._plan_cache.move_to_end(key)
            return hit
        # volatility: a plan built over a FIRST-TOUCH (raw, not yet
        # co-partitioned) decode frame must not be memoized — the next
        # call rebuilds over the promoted co-partitioned frame. The flag
        # composes across nested _cached_plan levels (topk → match_scores).
        outer = self._plan_volatile
        self._plan_volatile = False
        df = builder()
        volatile = self._plan_volatile
        self._plan_volatile = outer or volatile
        if volatile:
            return df
        self._plan_cache[key] = df
        while len(self._plan_cache) > self.PLAN_CACHE_MAX:
            self._plan_cache.popitem(last=False)
        return df

    def _tracked(self, build) -> Route:
        """Run one Route build and record on the Route whether it read a
        first-touch decode frame; the flag still reaches an enclosing
        _cached_plan level, as in _cached_plan itself."""
        outer, self._plan_volatile = self._plan_volatile, False
        try:
            r = build()
        finally:
            volatile = self._plan_volatile
            self._plan_volatile = outer or volatile
        return replace(r, volatile=volatile) if r.volatile != volatile else r

    def _decoded_for_term(self, term: str,
                          with_positions: bool = True) -> DataFrame:
        """Decoded postings for ONE term; bucket partition pruning + term
        predicate pushdown reach the parquet scan.

        ``with_positions=False`` skips the position-varint decode (the
        dominant decode CPU) and caches a much smaller frame — single-term
        scoring slots only read tf/doc_len, so plain AND/OR/fuzzy queries
        never pay for positions; phrase/NEAR/weighted paths request the
        positional variant (cached separately)."""
        def factory():
            return self._term_decode_plan(term, with_positions)[0]
        key = ("t", term, with_positions)
        if not self._cache_postings or key in self._decoded_cache:
            # the hint only sizes a NEW cache fill — don't pay a term-stats
            # lookup (a collect job on >2M-term vocabularies) on LRU hits
            # or when caching is off
            return self._cached_decoded(key, factory)
        df_hint = self.term_stats_for([term]).get(term, (None,))[0]
        return self._cached_decoded(key, factory, n_docs_hint=df_hint)

    def _term_decode_plan(self, term: str,
                          with_positions: bool) -> tuple[DataFrame, str]:
        """Uncached decode plan for one term, delete-exact (hidden docs
        never reach any caller — phrase dfs / NEAR trims / counts need no
        per-query anti-join; the deltas keep term stats exact to match)
        → (frame, route), route "driver" or "executor".

        Executor route: bucket pruning + term predicate pushdown into the
        parquet scan, vectorized Arrow decode in a Python task. Driver
        route (small terms, see _decode_route): the same kernel on the
        driver, no Python task. Within one call's DecodeScope a driver
        frame is built once per (term, positions) and a light request
        reuses an already-built positional frame."""
        route = self._decode_route(term, with_positions)
        scope = _SCOPE.get()
        if scope is not None:
            scope.routes[(term, with_positions)] = route
        if route["route"] == "executor":
            from .xxhash64 import bucket_of
            b = bucket_of(term, self.num_buckets)
            out = decode_plan(self._postings
                              .where(F.col("bucket") == b)
                              .where(F.col("term") == term),
                              with_positions)
        else:
            frames = scope.frames if scope is not None else {}
            for wp in (with_positions, True):
                hit = frames.get((self, term, wp))
                if hit is not None:
                    return hit, "driver"
            out = self._driver_decode(term, with_positions)
        if self._tomb is not None:
            out = out.join(self._tomb.select("doc_id"), "doc_id", "left_anti")
        if route["route"] == "driver":
            frames[(self, term, with_positions)] = out
        return out, route["route"]

    #: upper bound on a driver decode's estimated bytes, whatever the
    #: session's broadcast threshold. Measured on 4 cores (README): the
    #: driver route wins up to about 35k postings (560 KB light, 700 KB
    #: positional) and loses beyond, 4.5 s against 0.66 s at 600k, since
    #: a local relation's rows travel inside every task's plan.
    DRIVER_DECODE_MAX_BYTES = 512 * 1024

    def _decode_route(self, term: str, with_positions: bool) -> dict:
        """Where one term's uncached decode runs, decided with zero jobs
        from its term stats. The estimated decoded size is 16 bytes a
        posting (doc_id, tf, doc_len), plus 4 a position when positions
        are decoded. Within the session's
        spark.sql.autoBroadcastJoinThreshold (a local relation reaches
        tasks the way a broadcast does; -1 turns the route off) and
        DRIVER_DECODE_MAX_BYTES, the term is decoded on the driver; above
        them, in a Python task. Decodes that fill the postings cache
        always take the executor route (a cached frame's plan would pin
        its local rows in the JVM heap for as long as it stays cached),
        and so do terms of a vocabulary too big to load, whose stats
        would cost a job to look up; neither has an estimate."""
        out = {"term": term, "positions": with_positions,
               "est_bytes": None, "threshold": None, "route": "executor"}
        vocab = None if self._cache_postings else self._vocab()
        if not vocab:
            return out
        df, cf = vocab.get(term, (0, 0))
        est = 16 * df + (4 * cf if with_positions else 0)
        threshold = int(self.spark._jsparkSession.sessionState().conf()
                        .autoBroadcastJoinThreshold())
        limit = min(threshold, self.DRIVER_DECODE_MAX_BYTES)
        out.update(est_bytes=est, threshold=limit)
        if est <= limit:
            out["route"] = "driver"
        return out

    @functools.cached_property
    def _postings_files(self) -> dict[int, list[str]]:
        """Local paths of the postings files, by bucket: the listing the
        _postings relation captured when the view was built (inputFiles
        runs no job), so the driver route reads exactly the files the
        executor route scans."""
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        files: dict[int, list[str]] = {}
        for uri in sorted(self._postings.inputFiles()):
            m = re.search(r"/bucket=(\d+)/", uri)
            if m:
                files.setdefault(int(m.group(1)), []).append(
                    url2pathname(urlparse(uri).path))
        return files

    def _driver_rows(self, term: str, with_positions: bool) -> _Rows:
        """One term decoded on the driver → its _Rows, sorted by doc_id
        (blocks are stored by (term, salt, min_doc), so doc_ids ascend
        within a block but not across blocks). Its blocks are read with
        pyarrow from the files of its bucket in the _postings relation's
        listing (term predicate pushed to the row groups) and decoded by
        decode_plan's kernel, once per call's DecodeScope. A listed file
        that is gone (a merge or compaction removed it under this view)
        raises FileNotFoundError, as the executor route's scan fails."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from .xxhash64 import bucket_of

        scope = _SCOPE.get()
        arrays = scope.arrays if scope is not None else {}
        for wp in (with_positions, True):
            hit = arrays.get((self, term, wp))
            if hit is not None:
                return hit
        files = self._postings_files.get(
            bucket_of(term, self.num_buckets), [])
        gone = [f for f in files if not os.path.exists(f)]
        if gone:
            raise FileNotFoundError(
                f"postings file {gone[0]} of term {term!r} no longer "
                "exists; the index changed under this view, so reopen it")
        data = (ds.dataset(files, format="parquet")
                .to_table(columns=["data"], filter=pc.field("term") == term)
                .column("data").combine_chunks()
                if files else pa.array([], pa.binary()))
        rows = _rows_of(_decode_blocks(data, with_positions, term),
                        with_positions)
        if (np.diff(rows.doc_id) < 0).any():
            rows = _take_rows(rows, np.argsort(rows.doc_id, kind="stable"))
        arrays[(self, term, with_positions)] = rows
        return rows

    def _driver_decode(self, term: str, with_positions: bool) -> DataFrame:
        """One driver-decoded term (_driver_rows) handed to Spark as a
        local relation of (doc_id, tf, doc_len[, positions]) with the
        term added as a literal column."""
        import pyarrow as pa

        rows = self._driver_rows(term, with_positions)
        if not with_positions:
            rows = _Rows(rows.doc_id, rows.tf, rows.doc_len)
        schema = _MATCH_SCHEMA if with_positions \
            else StructType(_MATCH_SCHEMA.fields[:3])
        local = self.spark.createDataFrame(
            pa.table(_posting_columns(rows), names=schema.fieldNames()),
            schema=schema)
        positions = (F.col("positions") if with_positions
                     else F.lit(None).cast("array<int>").alias("positions"))
        return local.select(F.lit(term).alias("term"), "doc_id", "tf",
                            "doc_len", positions)

    def _decoded_for_prefix(self, prefix: str) -> DataFrame:
        def factory():
            hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            out = decode_plan(self._postings
                              .where((F.col("term") >= prefix)
                                     & (F.col("term") < hi)),
                              True)
            if self._tomb is not None:
                out = out.join(self._tomb.select("doc_id"),
                               "doc_id", "left_anti")
            return out
        return self._cached_decoded(("p", prefix), factory)

    def _empty_match(self) -> DataFrame:
        # emptyRDD → ZERO partitions: a plain createDataFrame([], schema)
        # carries defaultParallelism empty partitions, and an OOV-heavy OR
        # union would schedule dozens of no-op tasks per query
        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), _MATCH_SCHEMA)

    @staticmethod
    def _near_schema(k: int, wvec: Optional[tuple]) -> StructType:
        tf_type = DoubleType() if wvec is not None else IntegerType()
        return StructType(
            [StructField("doc_id", LongType(), False),
             StructField("doc_len", IntegerType(), False)]
            + [StructField(f"tf_{i}", tf_type, False) for i in range(k)])

    def _local_match(self, rows: _Rows) -> DataFrame:
        """Driver-built match rows → a local relation of _MATCH_SCHEMA
        (an empty one has zero partitions, as _empty_match)."""
        import pyarrow as pa

        if rows.doc_id.size == 0:
            return self._empty_match()
        return self.spark.createDataFrame(
            pa.table(_posting_columns(rows),
                     names=_MATCH_SCHEMA.fieldNames()),
            schema=_MATCH_SCHEMA)

    def _local_near(self, cols: Optional[dict], k: int,
                    wvec: Optional[tuple]) -> DataFrame:
        """_near_kernel's columns (None: no match) → a local relation of
        (doc_id, doc_len, tf_0 … tf_{k-1})."""
        import pyarrow as pa

        schema = self._near_schema(k, wvec)
        if cols is None:
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), schema)
        tf_type = pa.float64() if wvec is not None else pa.int32()
        arrays = [pa.array(cols["doc_id"].astype(np.int64)),
                  pa.array(cols["doc_len"].astype(np.int32))]
        arrays += [pa.array(cols[f"tf_{i}"], tf_type) for i in range(k)]
        return self.spark.createDataFrame(
            pa.table(arrays, names=schema.fieldNames()), schema=schema)

    # -- persisted per-query handles ------------------------------------------

    def _register_handles(self, handles: list[DataFrame]) -> None:
        if not handles:
            return
        self._handle_groups.append(handles)
        while len(self._handle_groups) > self.HANDLE_GROUPS_MAX:
            for h in self._handle_groups.pop(0):
                h.unpersist()

    def release(self, handles: list[DataFrame]) -> None:
        """Unpersist one query's match tables (engine calls this after the
        page/facets jobs complete — the leak fix for long-lived serving)."""
        for h in handles or []:
            h.unpersist()
        self._handle_groups = [g for g in self._handle_groups if g is not handles]

    def _block_meta(self, buckets: Sequence[int],
                    terms: Sequence[str]) -> DataFrame:
        """Phase-1 WAND metadata with SOUND score-bound columns
        [bmax_lb, bmax_ub]: lb is a norm certainly ATTAINED by a visible
        doc in the block (feeds θ, the k-th-best lower bound), ub
        certainly bounds every visible doc's norm (feeds the pruning
        condition). On a plain single-directory index both equal the
        stored block_max_norm (serving avgdl == build avgdl, no hidden
        docs). GlobalSegmentedIndex overrides this with per-part avgdl
        scaling and tombstone-recomputed maxima — stored norms were
        computed at each part's BUILD avgdl, and bm25_norm is monotone in
        avgdl with ratio bounded by avgdl_serving/avgdl_build, so
        lb·min(1,r) / ub·max(1,r) stay sound under avgdl drift."""
        return (self._postings
                .where(F.col("bucket").isin(list(buckets)))
                .where(F.col("term").isin(list(terms)))
                .select("term", "min_doc", "max_doc", "n_docs",
                        F.col("block_max_norm").alias("bmax_lb"),
                        F.col("block_max_norm").alias("bmax_ub")))

    def _buckets_for_terms(self, terms: Sequence[str]) -> list[int]:
        """pmod(xxhash64(term), num_buckets) — computed driver-side with a
        bit-exact pure-Python XXH64 (xxhash64.py, verified against
        Catalyst), so query planning needs NO Spark job."""
        from .xxhash64 import bucket_of
        return sorted({bucket_of(t, self.num_buckets) for t in set(terms)})

    _VOCAB_CACHE_MAX = 2_000_000

    def _vocab(self) -> dict | bool:
        """The whole term dictionary {term: (df, cf)}, loaded once, or
        False when the vocabulary is too big to load (per-query lookups)."""
        if self._vocab_cache is None:
            vocab_n = (self.manifest.get("stages", {})
                       .get("term_stats", {}).get("counters", {})
                       .get("vocab"))
            if vocab_n is not None and vocab_n <= self._VOCAB_CACHE_MAX:
                # small vocabulary → one-time full load, then zero jobs/query
                rows = self._term_stats.select("term", "df", "cf").collect()
                self._vocab_cache = {r["term"]: (int(r["df"]), int(r["cf"]))
                                     for r in rows}
            else:
                self._vocab_cache = False  # too big — per-query lookups
        return self._vocab_cache

    def term_stats_for(self, terms: Sequence[str]) -> dict[str, tuple[int, int]]:
        if not terms:
            return {}
        vocab = self._vocab()
        if vocab:
            return {t: vocab[t] for t in set(terms) if t in vocab}
        rows = (self._term_stats
                .where(F.col("term").isin(list(set(terms))))
                .select("term", "df", "cf").collect())
        return {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}

    def idf(self, df: int) -> float:
        v = math.log((self.n_docs - df + 0.5) / (df + 0.5))
        return v if v > 0.0 else 1e-6

    # -- phrase match tables -------------------------------------------------

    def _term_match(self, term: str, in_vocab: bool,
                    with_positions: bool = True) -> DataFrame:
        if not in_vocab:
            return self._empty_match()
        return (self._decoded_for_term(term, with_positions=with_positions)
                .select("doc_id", "tf", "doc_len", "positions"))

    #: per-term frames carrying position arrays broadcast up to this many
    #: docs (tighter than BROADCAST_DF_CAP — positions make rows fatter)
    PHRASE_BCAST_DF_CAP = 1_000_000

    def _phrase_match(self, phrase: Phrase,
                      frames: dict | None = None) -> DataFrame:
        """→ (doc_id, tf, doc_len, positions=phrase instance starts).

        Plan shape (FTS5 rides its doclist intersection here, reference:
        src/Search/SearchEngine.php:574-581; the Spark analog): a
        rarest-term-first broadcast join chain — every intermediate is
        bounded by the rarest term's df, so a head term's postings stream
        map-side through the join and NEVER cross a shuffle — with the
        start-set intersection computed entirely JVM-side:
        S₀ = positions₀, Sᵢ = array_intersect(Sᵢ₋₁, positionsᵢ − i).
        No Python kernel in this path. Falls back to the one-shuffle
        union+groupBy shape only when ≥2 constituent terms exceed the
        broadcast cap (at that density there is no cheap side to build).

        ``frames``: per-term decoded frames to use instead of the cached
        full decodes — the WAND phrase path injects block-pruned frames
        here (wand.pruned_scored); because a candidate doc's postings for
        one term live in exactly one block and the AND rule keeps every
        block overlapping the rare term's ranges, the pruned frames hold
        COMPLETE positions for every candidate, so the resulting table is
        the exact full phrase table."""
        terms = list(phrase.terms)
        stats = self.term_stats_for(sorted(set(terms)))
        dfs = {t: stats.get(t, (0, 0))[0] for t in set(terms)}
        if any(dfs[t] == 0 for t in dfs):
            return self._empty_match()
        # per-OCCURRENCE sizes: a duplicated over-cap term joins its frame
        # twice, so the second-largest occurrence (not distinct term)
        # decides broadcastability. With the co-partitioned decode cache
        # no side is ever broadcast, so the cap (and the agg fallback)
        # only applies to uncached serving.
        by_size = sorted(dfs[t] for t in terms)
        if (frames is None and not self._cache_postings and len(by_size) > 1
                and by_size[-2] > self.PHRASE_BCAST_DF_CAP):
            return self._phrase_match_agg(phrase)

        order = sorted(range(len(terms)), key=lambda i: (dfs[terms[i]], i))
        largest = max(dfs.values())
        joined = None
        for rank, i in enumerate(order):
            t = terms[i]
            cols = ["doc_id"] + (["doc_len"] if rank == 0 else [])
            d = ((frames[t] if frames is not None
                  else self._decoded_for_term(t))
                 .select(*cols, F.col("positions").alias(f"_p{i}")))
            if joined is None:
                joined = d
            elif frames is not None:
                # pruned frames: every side is block-restricted (bounded
                # by the rare term's ranges) — plain joins, AQE sizes them
                joined = joined.join(d, "doc_id")
            elif self._cache_postings:
                # co-partitioned decode cache → exchange-free plain join
                joined = joined.join(d, "doc_id")
            elif dfs[t] >= largest and dfs[t] > self.PHRASE_BCAST_DF_CAP:
                # the one over-cap frame stays un-broadcast; the bounded
                # accumulation (≤ rarest df rows) broadcasts into it
                joined = F.broadcast(joined).join(d, "doc_id")
            else:
                joined = joined.join(F.broadcast(d), "doc_id")

        def _shift(off: int):
            # NB: must be a ONE-argument lambda — pyspark interprets a
            # second parameter as the array index
            return lambda x: x - F.lit(off)

        starts = F.col("_p0")
        for i in range(1, len(terms)):
            starts = F.array_intersect(
                starts, F.transform(F.col(f"_p{i}"), _shift(i)))
        return (joined
                .withColumn("positions", starts)
                .where(F.size("positions") > 0)
                .select("doc_id", F.size("positions").cast("int").alias("tf"),
                        "doc_len", "positions"))

    def _phrase_match_agg(self, phrase: Phrase) -> DataFrame:
        """Fallback phrase kernel for ≥2 over-cap terms: ONE union+groupBy
        shuffle that pivots each distinct term's position array into its
        own column (conditional-first aggregation — no map building), then
        the SAME JVM array_intersect start-set chain as the broadcast
        path. No Python kernel anywhere on the phrase path: the head-
        phrase-at-100× case stays whole-stage-codegen after its single
        shuffle."""
        terms = list(phrase.terms)
        distinct = sorted(set(terms))
        idx_of = {t: j for j, t in enumerate(distinct)}
        sub = None
        for t in distinct:
            d = self._decoded_for_term(t).select(
                "term", "doc_id", "doc_len", "positions")
            sub = d if sub is None else sub.unionByName(d)
        aggs = [F.first("doc_len").alias("doc_len")]
        aggs += [F.first(F.when(F.col("term") == t, F.col("positions")),
                         ignorenulls=True).alias(f"_pt{j}")
                 for j, t in enumerate(distinct)]
        grouped = sub.groupBy("doc_id").agg(*aggs)
        present = None
        for j in range(len(distinct)):
            c = F.col(f"_pt{j}").isNotNull()
            present = c if present is None else present & c
        grouped = grouped.where(present)

        def _shift(off: int):
            # one-argument lambda (a second parameter would be the index)
            return lambda x: x - F.lit(off)

        starts = F.col(f"_pt{idx_of[terms[0]]}")
        for i in range(1, len(terms)):
            starts = F.array_intersect(
                starts, F.transform(F.col(f"_pt{idx_of[terms[i]]}"),
                                    _shift(i)))
        return (grouped
                .withColumn("positions", starts)
                .where(F.size("positions") > 0)
                .select("doc_id", F.size("positions").cast("int").alias("tf"),
                        "doc_len", "positions"))

    def _prefix_match(self, node: PrefixNode) -> DataFrame:
        # positions = union of all matching terms' instances (kept sorted so
        # weighted scoring can attribute each instance to its field)
        return (self._decoded_for_prefix(node.prefix)
                .groupBy("doc_id")
                .agg(F.sum("tf").cast("int").alias("tf"),
                     F.first("doc_len").alias("doc_len"),
                     F.array_sort(F.flatten(F.collect_list("positions")))
                     .alias("positions")))

    def _near_table(self, node: Near, phrase_tables: dict,
                    wvec: Optional[tuple] = None) -> DataFrame:
        """→ (doc_id, doc_len, tf_0 … tf_{k-1}) for docs satisfying the NEAR
        constraint, with NEAR-trimmed per-member term frequencies
        (field-weighted when ``wvec`` is given)."""
        k = len(node.phrases)
        if k == 2:
            return self._near_table_pairwise(node, phrase_tables, wvec)
        joined = None
        for i, p in enumerate(node.phrases):
            d = phrase_tables[p].select(
                "doc_id",
                *([F.col("doc_len")] if i == 0 else []),
                F.col("positions").alias(f"starts_{i}"))
            joined = d if joined is None else joined.join(d, "doc_id")
        plens = [len(p.terms) for p in node.phrases]
        distance = node.distance
        warr = np.asarray(wvec, dtype=np.float64) if wvec is not None else None

        def check(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                members = []
                for i in range(k):
                    col = pdf[f"starts_{i}"].to_numpy()
                    lens = np.fromiter((len(a) for a in col),
                                       dtype=np.int64, count=n)
                    members.append((lens, np.concatenate(col).astype(np.int64)
                                    if int(lens.sum()) else
                                    np.empty(0, dtype=np.int64)))
                out = _near_kernel(pdf["doc_id"].to_numpy(),
                                   pdf["doc_len"].to_numpy(), members,
                                   plens, distance, warr)
                if out is not None:
                    yield pd.DataFrame(out)
        return joined.mapInPandas(check, schema=self._near_schema(k, wvec))

    def _near_table_pairwise(self, node: Near, phrase_tables: dict,
                             wvec: Optional[tuple] = None) -> DataFrame:
        """k=2 NEAR entirely JVM-side (the dominant NEAR shape — the
        reference's combined fuzzy query emits pairwise NEARs). FTS5 trim
        for a pair: instance x of phrase 0 survives iff ∃ y of phrase 1
        with max(x,y) − min(x+l0−1, y+l1−1) ≤ distance+1 (the
        max(start)−min(end)−1 ≤ distance rule); symmetric for phrase 1.
        Verified float-exact vs sqlite3 by the rank-identity suite."""
        p0, p1 = node.phrases
        l0, l1 = len(p0.terms), len(p1.terms)
        dist = node.distance
        d0 = phrase_tables[p0].select("doc_id", "doc_len",
                                      F.col("positions").alias("_s0"))
        d1 = phrase_tables[p1].select("doc_id",
                                      F.col("positions").alias("_s1"))
        joined = d0.join(d1, "doc_id")

        def ok(x, y):
            return (F.greatest(x, y)
                    - F.least(x + F.lit(l0 - 1), y + F.lit(l1 - 1))
                    ) <= F.lit(dist + 1)

        valid0 = F.filter(F.col("_s0"),
                          lambda x: F.exists(F.col("_s1"), lambda y: ok(x, y)))
        valid1 = F.filter(F.col("_s1"),
                          lambda y: F.exists(F.col("_s0"), lambda x: ok(x, y)))
        if wvec is None:
            tf0 = F.size(valid0).cast("int")
            tf1 = F.size(valid1).cast("int")
        else:
            tf0 = self._weighted_tally_expr(valid0, wvec)
            tf1 = self._weighted_tally_expr(valid1, wvec)
        return (joined
                .withColumn("tf_0", tf0).withColumn("tf_1", tf1)
                .where(F.size(valid0) > 0)
                .select("doc_id", "doc_len", "tf_0", "tf_1"))

    # -- full query execution --------------------------------------------------

    def _plan(self, node, wvec: Optional[tuple] = None):
        """Build match tables for a query tree.

        Returns (slots, phrase_tables, phrase_df, near_tables, handles)
        where slots is the in-order list of scoring slots: ("phrase", node)
        or ("near", near_node, member_idx). FTS5 scores every expression
        slot independently (a phrase appearing standalone AND inside a NEAR
        contributes twice, the NEAR copy with trimmed tf).

        At most ONE planning job runs, and only for queries containing
        multi-token phrases or prefixes built in Spark: all their dfs are
        counted in a single union+groupBy (the per-phrase count() jobs of
        the first design were a per-query scale-killer). A phrase whose
        terms all take the driver decode route (_decode_route, on a view
        without deletes) needs no df job: its match rows are computed on
        the driver (_phrase_rows) and its df is their count; a NEAR whose
        member phrases all have driver rows is trimmed there too
        (_near_kernel). Both enter the plan as local relations.
        ``phrase_tables`` holds a table for every phrase a scoring slot
        or a Spark-built NEAR reads. ``handles`` are the persisted match
        tables — callers release() them when done."""
        slots: list = []
        _collect_slots(node, slots)

        terms: set[str] = set()
        prefixes: set[str] = set()
        _collect_terms(node, terms, prefixes)
        term_stats = self.term_stats_for(sorted(terms))

        handles: list[DataFrame] = []
        scope = _SCOPE.get()

        def record(n, route: str, rows: Optional[int]) -> None:
            if scope is not None:
                scope.matches[n] = {"node": repr(n), "route": route,
                                    "rows": rows}

        def materialize(key: tuple, factory):
            """Persisted LRU for phrase/prefix/NEAR match tables (hot
            serving: a repeated phrase skips recomputation AND its
            df-count job). With caching off, per-query persist+release."""
            if not self._cache_postings:
                mt = factory().persist()
                handles.append(mt)
                return mt
            hit = self._match_cache.get(key)
            if hit is not None:
                self._match_cache.move_to_end(key)
                return hit
            mt = factory().persist()
            self._match_cache[key] = mt
            while len(self._match_cache) > self.DECODED_CACHE_MAX:
                k, old = self._match_cache.popitem(last=False)
                old.unpersist()
                self._df_count_cache.pop(k, None)
            return mt

        driver_ok: dict = {}
        driver_rows: dict = {}

        def on_driver(p) -> bool:
            """Does every term of phrase ``p`` decode on the driver with
            positions (zero jobs; a view with deletes keeps Spark)?"""
            if p in driver_ok:
                return driver_ok[p]
            ok = (self._tomb is None
                  and all(t in term_stats for t in p.terms))
            if ok:
                routes = {t: self._decode_route(t, True)
                          for t in set(p.terms)}
                ok = all(r["route"] == "driver" for r in routes.values())
                if ok and scope is not None:
                    for t, r in routes.items():
                        scope.routes[(t, True)] = r
            driver_ok[p] = ok
            return ok

        def rows_of(p) -> _Rows:
            if p not in driver_rows:
                arrs = [self._driver_rows(t, True) for t in p.terms]
                driver_rows[p] = (arrs[0] if len(arrs) == 1
                                  else _phrase_rows(arrs))
            return driver_rows[p]

        nears = _unique_nears(node)
        driver_nears = {nr for nr in nears
                        if all(on_driver(p) for p in nr.phrases)}
        standalone = {s[1] for s in slots if s[0] == "phrase"}
        # phrases a Spark-built NEAR reads (with positions)
        near_members = {p for nr in nears if nr not in driver_nears
                        for p in nr.phrases}

        phrase_tables: dict = {}
        phrase_df: dict = {}
        pending: list = []   # (node, cache_key) needing the batched count job
        phraselikes = _unique_phraselike(node)
        # round 7: with the decoded-postings cache OFF, a term consumed by
        # several subtrees (bare slot + phrase constituent + NEAR member —
        # the M7 shape) re-scans and re-decodes once per consumer inside
        # ONE action. Persist such terms' decoded frames for the query
        # (released with the other handles) and feed them to every
        # consumer; if ANY use needs positions the positional variant is
        # shared (light users read a column subset of it). Driver-route
        # terms are decoded once per call anyway (DecodeScope).
        shared_frames: dict | None = None
        if not self._cache_postings:
            # plan references per term frame: one per standalone scoring
            # slot + one per unique NEAR membership (multi-term phrase
            # constituents decode inside their own persisted table)
            use_count: dict[str, int] = {}
            pos_need: dict[str, bool] = {}
            for s in slots:
                if s[0] != "phrase":
                    continue
                pn = s[1]
                if isinstance(pn, PrefixNode) or len(pn.terms) != 1:
                    continue
                t = pn.terms[0]
                use_count[t] = use_count.get(t, 0) + 1
                pos_need[t] = (pos_need.get(t, False) or wvec is not None
                               or pn in near_members)
            for nr in nears:
                if nr in driver_nears:
                    continue
                for p in set(nr.phrases):
                    if len(p.terms) == 1:
                        t = p.terms[0]
                        use_count[t] = use_count.get(t, 0) + 1
                        pos_need[t] = True
            shared = [t for t, n in use_count.items()
                      if n > 1 and t in term_stats
                      and self._decode_route(t, pos_need[t])["route"]
                      == "executor"]
            if shared:
                shared_frames = {}
                for t in shared:
                    f = self._term_decode_plan(t, pos_need[t])[0].persist()
                    handles.append(f)
                    shared_frames[t] = f
        for p in phraselikes:
            needed = p in standalone or p in near_members
            if isinstance(p, PrefixNode):
                key = ("pref", p.prefix)
                phrase_tables[p] = materialize(key, lambda p=p: self._prefix_match(p))
            elif len(p.terms) == 1:
                phrase_df[p] = term_stats.get(p.terms[0], (0, 0))[0]
                if not needed:
                    continue    # read only by a driver-built NEAR
                in_vocab = p.terms[0] in term_stats
                # single-term scoring reads only tf/doc_len — skip the
                # position-varint decode unless this slot feeds a NEAR
                # trim or field-weighted (positions>>FIELD_SHIFT) scoring
                need_pos = wvec is not None or p in near_members
                if shared_frames is not None and p.terms[0] in shared_frames:
                    phrase_tables[p] = shared_frames[p.terms[0]].select(
                        "doc_id", "tf", "doc_len", "positions")
                else:
                    phrase_tables[p] = self._term_match(
                        p.terms[0], in_vocab, with_positions=need_pos)
                continue
            elif any(t not in term_stats for t in p.terms):
                # a constituent term is out-of-vocabulary → the phrase can
                # never match; no table, no df job
                phrase_tables[p] = self._empty_match()
                phrase_df[p] = 0
                continue
            elif on_driver(p):
                rows = rows_of(p)
                phrase_df[p] = int(rows.doc_id.size)
                if needed:
                    phrase_tables[p] = self._local_match(rows)
                record(p, "driver", phrase_df[p])
                continue
            else:
                # NB: the multi-term phrase kernel keeps its own
                # rarest-first broadcast chain (feeding it the shared
                # full frames would flip it to plain joins and shuffle
                # the head side); its internal decode runs once because
                # the table is persisted below.
                key = ("ph", p.terms)
                phrase_tables[p] = materialize(
                    key, lambda p=p: self._phrase_match(p))
                record(p, "spark", None)
            if key in self._df_count_cache:
                phrase_df[p] = self._df_count_cache[key]
            else:
                pending.append((p, key))

        if pending:
            # ONE batched job counts every uncached phrase/prefix df
            # (FTS5 xQueryPhrase standalone df)
            batched = None
            for i, (p, _) in enumerate(pending):
                part = phrase_tables[p].select(F.lit(i).alias("pi"))
                batched = part if batched is None else batched.unionByName(part)
            counts = {int(r["pi"]): int(r["count"])
                      for r in batched.groupBy("pi").count().collect()}
            for i, (p, key) in enumerate(pending):
                phrase_df[p] = counts.get(i, 0)
                if self._cache_postings:
                    self._df_count_cache[key] = phrase_df[p]

        near_tables: dict = {}
        for nr in nears:
            k = len(nr.phrases)
            if any(phrase_df.get(p, 0) == 0 for p in nr.phrases):
                # a member phrase can never match (OOV term / zero df) →
                # the NEAR group can't either. Short-circuit to an empty
                # frame instead of building (and persisting) the trim
                # kernel — the dominant plan-construction cost of the
                # combined fuzzy shape when a typo stays uncorrectable.
                near_tables[nr] = self._local_near(None, k, wvec)
                continue
            if nr in driver_nears:
                docs, sub = _common_docs([rows_of(p) for p in nr.phrases])
                cols = _near_kernel(
                    docs, sub[0].doc_len,
                    [(np.diff(r.offsets), r.positions.astype(np.int64))
                     for r in sub],
                    [len(p.terms) for p in nr.phrases], nr.distance,
                    None if wvec is None else np.asarray(wvec, np.float64))
                near_tables[nr] = self._local_near(cols, k, wvec)
                record(nr, "driver",
                       0 if cols is None else int(cols["doc_id"].size))
                continue
            key = ("nr", tuple(p.terms for p in nr.phrases), nr.distance, wvec)
            near_tables[nr] = materialize(
                key, lambda nr=nr: self._near_table(nr, phrase_tables, wvec))
            record(nr, "spark", None)

        self._register_handles(handles)
        return slots, phrase_tables, phrase_df, near_tables, handles

    def _contrib_expr(self, tf_col, idf: float):
        k1, b = BM25_K1, BM25_B
        tf = F.col(tf_col).cast("double")
        return (F.lit(idf) * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * F.col("doc_len").cast("double")
                              / self.avgdl)))

    def _weighted_tally_expr(self, arr, wvec: tuple):
        """Σ over an int-position array of the position's field weight —
        the FTS5 aFreq[p] += w[column] accumulation (fts5Bm25Function);
        field = position >> FIELD_SHIFT. JVM fold in ascending array
        order (float-identical to the numpy tally in _near_trim). Shared
        by phrase scoring and the pairwise-NEAR trim."""
        from .build import FIELD_SHIFT

        def step(acc, x):
            # field clamped to [0, len(wvec)-1], as the numpy tallies clip
            # it: a last field past 2^FIELD_SHIFT tokens keeps its weight
            fld = F.shiftright(x, FIELD_SHIFT)
            expr = F.when(fld <= 0, F.lit(float(wvec[0])))
            for i, wi in enumerate(wvec[1:-1], start=1):
                expr = expr.when(fld == i, F.lit(float(wi)))
            return acc + expr.otherwise(F.lit(float(wvec[-1])))

        return F.aggregate(arr, F.lit(0.0), step)

    def _weighted_tf(self, pos_col: str, wvec: tuple[float, ...]):
        return self._weighted_tally_expr(
            F.coalesce(F.col(pos_col), F.array().cast("array<int>")), wvec)

    def _contrib_expr_weighted(self, pos_col: str, idf: float,
                               wvec: tuple[float, ...]):
        k1, b = BM25_K1, BM25_B
        tf = self._weighted_tf(pos_col, wvec)
        return (F.lit(idf) * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * F.col("doc_len").cast("double")
                              / self.avgdl)))

    def _contrib_expr_weighted_tfonly(self, idf: float, w0: float):
        """Single-FIELD weighted contribution from the tf column alone
        (round 7): with one field every position maps to field 0, so the
        positional tally is a left fold adding w0 exactly tf times —
        reproduced bit-for-bit by folding over sequence(1, tf) (same
        IEEE add chain of the same constant), no positions decoded.
        Unlocks position-free pruned serving for weighted single/OR."""
        k1, b = BM25_K1, BM25_B
        tf = F.aggregate(F.sequence(F.lit(1), F.col("tf")), F.lit(0.0),
                         lambda acc, _x: acc + F.lit(float(w0)))
        return (F.lit(idf) * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * F.col("doc_len").cast("double")
                              / self.avgdl)))

    def _normalize_weights(self, weights) -> Optional[tuple[float, ...]]:
        """dict {field: w} or sequence → weight vector in index-field
        order; None when uniform (unweighted fast path)."""
        if not weights:
            return None
        if isinstance(weights, dict):
            wvec = tuple(float(weights.get(f, 1.0)) for f in self.fields)
        else:
            wvec = tuple(float(w) for w in weights)
            if len(wvec) < len(self.fields):
                wvec = wvec + (1.0,) * (len(self.fields) - len(wvec))
        return None if all(w == 1.0 for w in wvec) else wvec

    def match_scores(self, node, weights=None) -> DataFrame:
        """→ DataFrame (doc_id long, score double) for the query tree.

        ``weights``: per-field BM25 weights ({field: w} or a sequence in
        index-field order) — the FTS5 ``bm25(fts, w1, w2, …)`` semantics
        over a multi-field index (reference:
        src/Storage/SqliteStorage.php:993-1021). Uniform weights take the
        unweighted path (tf straight from the postings, no position work).

        ONE shuffle: per-slot contribution rows (doc_id, slot, c) are
        unioned and hash-aggregated; the ordered fold over
        array_sort(collect_list(struct(slot, c))) reproduces FTS5's
        expression-order float accumulation exactly (absent slots add 0.0,
        which cannot perturb an IEEE sum of positive terms). Boolean
        qualification evaluates the query tree against collect_set(slot)
        instead of joining per-child doc sets.

        The frame's persisted per-query match tables are in the
        HANDLE_GROUPS_MAX registry; a caller that releases them after its
        jobs uses _exact, whose Route carries them."""
        return self._exact(node, self._normalize_weights(weights)).scores

    def _exact(self, node, wvec) -> Route:
        """The exact route: the complete match set scored by
        _match_scores_build, memoised per (node, wvec); ``handles`` are
        the persisted match tables the caller should pass to release()
        after its jobs finish (the engine does; unreleased handles are
        bounded by the HANDLE_GROUPS_MAX registry)."""
        if node is None:
            return Route("exact", "empty", self.spark.createDataFrame(
                [], "doc_id long, score double"))
        # retired raw frames (replaced by promoted co-partitioned twins
        # during an EARLIER query's plan build) are safe to drop now: that
        # query's action has run and materialized the swap. Caveat: a
        # plan-only caller (debug_query/explain, plan-shape tests) builds
        # the promoting plan without running an action, so the swap may
        # not be materialized yet — the promoted entry then re-decodes on
        # first use. Perf-only; correctness is unaffected.
        for old in self._retired:
            old.unpersist()
        self._retired.clear()
        with decode_scope():
            return self._tracked(lambda: self._cached_plan(
                ("ms", node, wvec),
                lambda: self._match_scores_build(node, wvec)))

    def _match_scores_build(self, node, wvec) -> Route:
        slots, phrase_tables, phrase_df, near_tables, handles = \
            self._plan(node, wvec)
        if not slots:
            return Route("exact", None, self.spark.createDataFrame(
                [], "doc_id long, score double"))

        def phrase_contrib(p):
            idf = self.idf(phrase_df[p])
            if wvec is None:
                return self._contrib_expr("tf", idf)
            return self._contrib_expr_weighted("positions", idf, wvec)

        # no-shuffle fast path: every slot sources from ONE match table
        # (single phrase/prefix, or one NEAR group) — score is a plain
        # projection, qualification is row existence. Saves the whole
        # aggregation stage on the most common query shapes.
        if isinstance(node, (Phrase, PrefixNode)):
            out = phrase_tables[node].select(
                "doc_id", phrase_contrib(node).alias("score"))
            return Route("exact", None, out, handles=handles)
        if isinstance(node, Near):
            score = None
            for m in range(len(node.phrases)):
                # near-table tf_m is already field-weighted when wvec set
                c = self._contrib_expr(f"tf_{m}",
                                       self.idf(phrase_df[node.phrases[m]]))
                score = c if score is None else score + c
            out = near_tables[node].select("doc_id", score.alias("score"))
            return Route("exact", None, out, handles=handles)

        # shuffle-free boolean fast paths over flat single-term trees.
        # Broadcast-join safety: every table except the largest must be
        # under BROADCAST_DF_CAP docs — an AND/OR of two head terms at
        # 10^12 docs falls back to the shuffle instead of OOMing an
        # executor with a giga-row broadcast.
        def _flat_single_terms(n):
            return all(isinstance(c, Phrase) and len(c.terms) == 1
                       for c in n.children)

        def _broadcastable(kids):
            dfs = sorted(phrase_df[p] for p in kids)
            return all(d <= self.BROADCAST_DF_CAP for d in dfs[:-1])

        # AND: inner join of the (cached) per-term match tables,
        # contributions summed in slot order (all slots present on every
        # surviving row, so the ordered projection is float-identical to
        # the fold). With the co-partitioned decode cache the joins need
        # NO exchange (any term sizes — nothing is broadcast); without
        # caches, rarer sides broadcast into the most frequent term's
        # scan, guarded by the broadcast cap.
        if (isinstance(node, And) and _flat_single_terms(node)
                and (self._cache_postings or _broadcastable(node.children))):
            kids = list(node.children)
            largest = max(range(len(kids)), key=lambda i: phrase_df[kids[i]])
            joined = None
            cols = []
            for i, p in enumerate(kids):
                c = phrase_contrib(p).alias(f"c{i}")
                part = phrase_tables[p].select("doc_id", c)
                cols.append(f"c{i}")
                if self._cache_postings:
                    joined = part if joined is None \
                        else joined.join(part, "doc_id")
                elif joined is None:
                    joined = part if i == largest else F.broadcast(part)
                elif i == largest:
                    # keep the big side un-broadcast; join flips are fine
                    joined = joined.join(part, "doc_id")
                else:
                    joined = joined.join(F.broadcast(part), "doc_id")
            score = None
            for name in cols:  # slot order == children order
                score = F.col(name) if score is None else score + F.col(name)
            out = joined.select("doc_id", score.alias("score"))
            return Route("exact", None, out, handles=handles)

        # (Two measured dead ends for shuffle-free OR, kept as notes: a
        # disjoint-subset decomposition — A∪B = (A∖B)∪(B∖A)∪(A∩B) with
        # broadcast joins — re-scans every table across 2^k−1 branches,
        # 5–7× slower at k=3; a full-outer join chain loses the
        # co-partitioning after the first join (the outer join coalesces
        # the key into a NEW expression) and re-shuffles every later
        # stage. OR stays on the single aggregation — made cheap below by
        # per-slot conditional sums instead of an object fold.)

        contribs = None
        for i, slot in enumerate(slots):
            if slot[0] == "phrase":
                p = slot[1]
                branch = phrase_tables[p].select(
                    "doc_id", F.lit(i).alias("slot"),
                    phrase_contrib(p).alias("c"))
            else:
                _, nr, member = slot
                idf = self.idf(phrase_df[nr.phrases[member]])
                branch = near_tables[nr].select(
                    "doc_id", F.lit(i).alias("slot"),
                    self._contrib_expr(f"tf_{member}", idf).alias("c"))
            contribs = branch if contribs is None else contribs.unionByName(branch)

        # per-slot conditional sums: every slot sources at most ONE row
        # per doc (each slot is one match table), so sum(when(slot=i, c))
        # is exactly that row's contribution — no ordering sensitivity —
        # and the explicit slot-order fold over coalesce(sᵢ, 0.0) is
        # float-identical to FTS5's expression-order accumulation (x+0.0
        # == x in IEEE for these non-negative terms). This keeps the
        # zero-exchange single aggregation but as a plain HashAggregate:
        # the previous array_sort(collect_list(struct))+fold
        # ObjectHashAggregate measured ~4× slower hot at k=3 (round 4).
        # Slot presence (sᵢ IS NOT NULL) doubles as the qualification
        # input, replacing the collect_set slot-set.
        sums = [F.sum(F.when(F.col("slot") == i, F.col("c"))).alias(f"_s{i}")
                for i in range(len(slots))]
        agg = contribs.groupBy("doc_id").agg(*sums)
        present = _slot_present_factory()
        # FTS5 context gating (probed empirically, pinned by the
        # property suite): a phrase slot contributes to bm25 ONLY on docs
        # where every enclosing boolean subtree matches — in
        # "say OR (say AND get)" a doc without `get` scores ONE say, not
        # two (the second say's AND context fails); an exclude-side NOT
        # phrase never contributes. OR ancestors are implied by their
        # matching child and are skipped; flat trees get no gates, so the
        # hot single/AND/OR shapes are untouched.
        gates = _slot_gates(node, present)
        # FTS5 dead-NOT first-posting leak (round-5 property-sweep find,
        # probed directly against sqlite3 FTS5): when a NOT node's include
        # side is DEAD — no doc satisfies it at the DOCLIST level, with
        # positional constraints ignored (a phrase/NEAR whose constituent
        # terms never co-occur in one doc is dead; one whose terms
        # co-occur but fail adjacency/distance is NOT dead) — the
        # never-advanced exclude iterators leak their first posting into
        # bm25: each simple exclude phrase's instances score on exactly
        # its FIRST matching doc_id (iff that doc is in the result set).
        # Replicated for exclude slots that are plain phrase/prefix atoms
        # (incl. OR of atoms — probe-verified); compound excludes
        # (NEAR / nested NOT, where probes show leaks even cancel each
        # other) are out of replication scope: there we score by the
        # spec, a documented divergence from the SQLite artifact.
        for i, tbl in self._dead_not_quirk_slots(
                node, phrase_tables, phrase_df).items():
            fm = tbl.agg(F.min("doc_id").alias(f"_fm{i}"))
            agg = agg.crossJoin(F.broadcast(fm))
            gates[i] = [F.col("doc_id") == F.col(f"_fm{i}")]
        score = None
        for i in range(len(slots)):  # slot order == FTS5 expression order
            c = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
            g = gates.get(i) or []
            if g:
                cond = g[0]
                for e in g[1:]:
                    cond = cond & e
                c = F.when(cond, c).otherwise(F.lit(0.0))
            score = c if score is None else score + c
        # a flat OR of single-table children is trivially qualified: every
        # contribution row already implies a match
        trivially_qualified = isinstance(node, Or) and all(
            isinstance(c, (Phrase, PrefixNode, Near)) for c in node.children)
        if trivially_qualified:
            out = agg.select("doc_id", score.alias("score"))
        else:
            out = (agg.where(_qual_expr(node, [0], present))
                   .select("doc_id", score.alias("score")))
        return Route("exact", None, out, handles=handles)

    def _include_dead(self, node, phrase_df) -> bool:
        """Is a NOT node's include side DEAD in FTS5's doclist sense —
        no doc satisfies it with positional constraints IGNORED?
        (Probed: a phrase whose terms co-occur non-adjacently, or a NEAR
        whose members co-occur too far apart, is NOT dead.) Structural
        shortcuts decide most cases from the already-known dfs; the
        ambiguous ones (multi-term sets whose joint intersection is
        unknown) run one tiny limit(1) existence job over the cached
        decoded term frames, memoized per subtree."""
        def tri(n):
            if isinstance(n, PrefixNode):
                return phrase_df.get(n, 0) == 0
            if isinstance(n, Phrase):
                if phrase_df.get(n, 0) > 0:
                    return False      # matches ⊆ co-occurrence
                if len(n.terms) == 1:
                    return True       # df == 0
                stats = self.term_stats_for(sorted(set(n.terms)))
                if any(t not in stats for t in n.terms):
                    return True       # an OOV constituent
                return None           # joint intersection unknown
            if isinstance(n, Near):
                kids = [tri(p) for p in n.phrases]
                if any(k is True for k in kids):
                    return True
                return None
            if isinstance(n, And):
                kids = [tri(c) for c in n.children]
                if any(k is True for k in kids):
                    return True
                return None
            if isinstance(n, Or):
                kids = [tri(c) for c in n.children]
                if all(k is True for k in kids):
                    return True
                if any(k is False for k in kids):
                    return False
                return None
            if isinstance(n, Not):
                if tri(n.include) is True:
                    return True
                return None
            return None

        t = tri(node)
        if t is not None:
            return t
        key = ("deadinc", node)
        hit = self._df_count_cache.get(key)
        if hit is not None:
            return hit

        def doc_set(n) -> DataFrame:
            if isinstance(n, Phrase):
                out = None
                for term in sorted(set(n.terms)):
                    d = (self._decoded_for_term(term).select("doc_id")
                         if term in self.term_stats_for([term])
                         else self._empty_match().select("doc_id"))
                    out = d if out is None else out.join(d, "doc_id")
                return out
            if isinstance(n, PrefixNode):
                return self._decoded_for_prefix(n.prefix) \
                    .select("doc_id").dropDuplicates()
            if isinstance(n, Near):
                out = None
                for p in n.phrases:
                    d = doc_set(p)
                    out = d if out is None else out.join(d, "doc_id")
                return out
            if isinstance(n, And):
                out = None
                for c in n.children:
                    d = doc_set(c)
                    out = d if out is None else out.join(d, "doc_id")
                return out
            if isinstance(n, Or):
                out = None
                for c in n.children:
                    d = doc_set(c)
                    out = d if out is None else out.unionByName(d)
                return out
            if isinstance(n, Not):
                return doc_set(n.include).join(doc_set(n.exclude),
                                               "doc_id", "left_anti")
            raise ValueError(f"unknown node {n!r}")

        dead = doc_set(node).limit(1).count() == 0
        if self._cache_postings:
            self._df_count_cache[key] = dead
        return dead

    def _dead_not_quirk_slots(self, root, phrase_tables,
                              phrase_df) -> dict[int, DataFrame]:
        """slot id → match table for exclude slots leaking their first
        posting (see the call-site comment in _match_scores_build).
        Numbering mirrors _collect_slots; replication scope: the exclude
        subtree must be built of Phrase/Prefix atoms combined with OR
        (probe-verified shapes) — anything else gets no leak."""
        out: dict[int, DataFrame] = {}

        def simple_exclude(n) -> bool:
            if isinstance(n, (Phrase, PrefixNode)):
                return True
            if isinstance(n, Or):
                return all(simple_exclude(c) for c in n.children)
            return False

        def walk(n, counter, leak):
            if n is None:
                return
            if isinstance(n, (Phrase, PrefixNode)):
                if leak:
                    out[counter[0]] = phrase_tables[n]
                counter[0] += 1
            elif isinstance(n, Near):
                counter[0] += len(n.phrases)
            elif isinstance(n, (And, Or)):
                for c in n.children:
                    walk(c, counter, leak)
            elif isinstance(n, Not):
                walk(n.include, counter, leak)
                exc_leak = (not leak
                            and simple_exclude(n.exclude)
                            and self._include_dead(n.include, phrase_df))
                walk(n.exclude, counter, exc_leak)

        walk(root, [0], False)
        return out

    def search(self, query, k: int = 10, filters: dict | None = None,
               with_docs: bool = False, weights=None,
               after: tuple | None = None) -> DataFrame:
        """Top-k BM25 search. query: string or AST node; ``weights`` =
        per-field BM25 weights over a multi-field index.

        ``after``: keyset cursor (raw_score, doc_id) of the LAST row of
        the previous page — returns the next k rows strictly after it in
        (score DESC, doc_id ASC) order. This is the scale-safe deep-
        pagination path (O7 stretch): offset pagination sorts
        offset+k rows per page (page 10⁶ of a 10¹²-doc result set is a
        10⁷-row TakeOrdered per page), the cursor always sorts k.

        The serving route comes from route(); the page is its top k,
        memoised with the route (_cached_plan).

        → (doc_id, score) [+ doc columns], best-first, ties by doc_id.
        """
        node = parse_query(query) if isinstance(query, str) else query
        wvec = self._normalize_weights(weights)
        after = (float(after[0]), int(after[1])) if after else None

        def build():
            fids = None
            if filters:
                fids = self._docs
                for col, val in filters.items():
                    fids = fids.where(F.col(col) == F.lit(val))
                fids = fids.select("doc_id")
            r = self.route(node, k, fids=fids, wvec=wvec, after=after)
            return self._top(r, k, fids=fids, after=after,
                             with_docs=with_docs)
        key = ("topk", node, k, wvec,
               repr(sorted(filters.items())) if filters else None, with_docs,
               self.pruned_gate_blocks, after)
        return self._cached_plan(key, build)

    def _top(self, r: Route, k: int, fids: DataFrame | None = None,
             after: tuple | None = None,
             with_docs: bool = False) -> DataFrame:
        """The first k rows of a route's scores, applying the filter and
        cursor an exact route leaves to its caller."""
        scores = r.scores
        if r.kind == "exact":
            if fids is not None:
                scores = scores.join(fids, "doc_id")
            if after is not None:
                scores = _after_cursor(scores, after)
        topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if with_docs:
            # hash join docs ⋈ broadcast(top-k): k rows broadcast, the big
            # docs scan prunes on doc_id (reference J1 shape,
            # src/Storage/SqliteStorage.php:1017-1021)
            topk = (self._docs.join(F.broadcast(topk), "doc_id")
                    .orderBy(F.desc("score"), F.asc("doc_id")))
        return topk

    def route(self, node, k: int, *, fids: DataFrame | None = None,
              wvec: tuple | None = None, after: tuple | None = None,
              total: str | None = None, complete: bool = False) -> Route:
        """The one serving-route decision of SearchIndex.search and
        Engine.search: filtered deepening → block-max pruned tier →
        cursor deepening → exact path. Zero-job, except where a tier's
        own phase-1 or deepening count runs.

        ``k``: rows the caller reads from the top of (score DESC,
        doc_id ASC). ``fids``: doc_id frame of a filter — the filtered
        route; ``after``: keyset cursor — the cursor route; ``wvec``:
        normalized field weights. ``total``: the result-total policy
        (Engine ``total_mode``: "exact", "estimate" or "deferred"), or
        None when no total is needed — then no count work runs.
        ``complete``: the caller reads the whole match set (it sorts,
        facets or joins doc columns over it), so only shapes whose
        pruned frame IS the match set (AND/phrase/NEAR) may prune.

        Reference analog: FTS5 makes this choice inside the one
        SqliteStorage::search query (top-k pruning under ORDER BY rank
        LIMIT, src/Storage/SqliteStorage.php:1104-1134)."""
        with decode_scope():
            return self._tracked(lambda: self._route(
                node, k, fids, wvec, after, total, complete))

    def _route(self, node, k, fids, wvec, after, total, complete) -> Route:
        from .wand import _is_simple

        info: dict = {"reason": "empty"}
        gate = self.pruned_gate_blocks
        if node is not None and gate is not None and gate < 0:
            info = {"reason": "disabled"}
        elif node is not None:
            shape = _is_simple(node)[2]
            if fids is not None and after is None:
                r, info = self._filtered_tier(node, k, fids, wvec, total,
                                              shape)
            elif after is not None and (fids is not None
                                        or total is not None):
                # the cursor tier serves a bare page: its survivors are
                # neither filtered nor count-complete, and the exact
                # frame is the match set a filter or total needs anyway
                r, info = None, {"reason": "cursor"}
            elif after is not None:
                r, info = self._cursor_tier(node, k, after, wvec)
            elif complete and shape not in ("and", "phrase", "near"):
                # single/OR/weighted-OR frames are top-k-exact, not the
                # match set
                r, info = None, {"reason": "shape"}
            else:
                r, info = self._pruned_tier(node, k, wvec,
                                            None if complete else total)
            if r is not None:
                return r
        exact = self._exact(node, wvec)
        return replace(
            exact, reason=info.get("reason", "est_blocks"),
            stats=({"est_blocks": info["est_blocks"]}
                   if "est_blocks" in info else None),
            # an exact cursor page counts the whole match set; the
            # caller cuts the page at the cursor
            count=((exact.scores, 0)
                   if after is not None and total is not None else None))

    def _wand(self, node, k, wvec):
        """wand.pruned_scored under this index's cost gate."""
        from .wand import pruned_scored
        return pruned_scored(self, node, k,
                             gate_blocks=self.pruned_gate_blocks, wvec=wvec)

    def _pruned_tier(self, node, k, wvec, total):
        """Block-max pruned tier (D4 facade routing, round 5) through
        wand.pruned_scored; pruned == exact is correctness-tested at 1e-9.
        Field-weighted queries ride in with wvec; wand gates the shapes
        it cannot serve weighted, with zero jobs. Totals, when asked for:
        single term — df, zero jobs; AND/phrase/NEAR — the frame is the
        whole match set, so it is counted. OR and the combined-fuzzy
        weighted-OR frames are page-exact but not count-complete, so the
        total follows the policy: "exact" runs wand's count-only plan
        (head df as a free base + a block-probed anti-join over the rare
        slots; position-free, never a full head decode), the reference's
        per-search COUNT (SearchEngine.php:207) without the 40×
        positional exact path; "estimate" is the zero-job df-sum upper
        bound; "deferred" counts nothing (the caller reports its fetched
        candidates).
        → (Route or None, wand's info)."""
        scored, info = self._wand(node, k, wvec)
        if scored is None:
            return None, info
        r = Route("pruned", None, scored, handles=info.get("handles", []),
                  stats=info.get("prune_stats"))
        if total is None:
            return r, info
        if info.get("count_exact"):
            r.total = info.get("total")
        elif total in ("estimate", "deferred"):
            # deferred: -1 is a literal placeholder; the caller replaces
            # it with its fetched-candidate count
            r.total = (int(info.get("total_estimate") or 0)
                       if total == "estimate" else -1)
            r.stats = {**(r.stats or {}), "total_mode": total}
        else:
            cf, base = info["exact_count"]()
            if cf is None:
                r.total = int(base)
            else:
                r.count = (cf, int(base))
        return r, info

    def _filtered_tier(self, node, k, fids, wvec, total, shape):
        """Filtered search through the pruned tier (rounds 6-7). An
        AND/phrase/NEAR frame is the COMPLETE match set, so it is
        filtered directly. Single/OR (and the weighted-OR when no total
        is asked for) deepen: the unfiltered pruned top-k' is page-exact
        in the total order (score DESC, doc_id ASC) — every matching doc
        outside it ranks after every member — so when ≥ k of the k'
        candidates survive the filter, the first k survivors ARE the
        exact filtered top-k, ties included. Two rounds (k' = 4k, 16k)
        cover ordinary selectivities at ≤ 2× the pruned cost; a filter
        that defeats both falls through to the exact path (at 10^12
        docs, decoding 4k candidates instead of a head term's full
        posting list). Reference parity: filters are WHERE clauses over
        the same scored result set (src/Storage/SqliteStorage.php:
        899-1016). The exact filtered TOTAL of a deepened page is a
        position-FREE membership count: the union of the query terms'
        light frames ∩ the filter ids. A weighted-OR's phrase/NEAR slots
        have no such count, so with a total it takes the exact path."""
        from .wand import _is_simple

        if shape in ("and", "phrase", "near"):
            scored, info = self._wand(node, k, wvec)
            if scored is None:
                return None, info    # shape/tombstone/estimate gate
            return Route("filtered", None, scored.join(fids, "doc_id"),
                         stats=info.get("prune_stats")), info
        if total is not None and shape not in ("single", "or"):
            return None, {"reason": "shape"}
        for kp in (max(4 * k, 64), max(16 * k, 256)):
            scored, info = self._wand(node, kp, wvec)
            if scored is None:
                return None, info    # shape/tombstone/estimate gate
            topkp = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
                     .limit(kp))
            # broadcast the k' candidate page; the docs scan keeps its
            # pushed-down filter predicates
            cand = fids.join(F.broadcast(topkp), "doc_id")
            if cand.count() >= k:
                break
        else:
            return None, {"reason": "deepening"}
        r = Route("filtered", None, cand, handles=info.get("handles", []),
                  stats=info.get("prune_stats"))
        if total is not None:
            terms = _is_simple(node)[1]
            stats = self.term_stats_for(sorted(set(terms)))
            parts = [self._decoded_for_term(t, with_positions=False)
                     .select("doc_id")
                     for t in sorted(t for t in set(terms) if t in stats)]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            if len(parts) > 1:
                u = u.dropDuplicates()
            r.count = (u.join(fids, "doc_id"), 0)
        return r, info

    def _cursor_tier(self, node, k, after, wvec):
        """Cursor pages through the pruned tier by SUFFIX deepening
        (round 7, verdict order 3). The pruned top-k' is the exact first
        k' rows of the total order (score DESC, doc_id ASC); the
        after-cursor predicate keeps a contiguous SUFFIX of that order,
        so when ≥ k of the k' rows lie after the cursor, the first k of
        them ARE the exact next page — and when k' ≥ n_docs the pruned
        frame holds every match, so fewer survivors is just the final
        page. k' grows geometrically (total cost ≤ ~2× the last round);
        a cursor deeper than the cap falls back to the exact path. With
        the default cost gate the deep rounds also self-gate: the per-k
        gate floor grows with k', so pruning only engages where the
        block count justifies it."""
        kp = max(4 * k, 64)
        # two rounds, like the filtered deepening: a page-by-page cursor
        # walk (the real serving pattern — each next page sits ~k ranks
        # after the cursor) succeeds in round 1; a deep re-entry pays at
        # most two cheap pruned rounds before the exact fallback, and at
        # scale those rounds cost ∝ selected blocks ≪ the full decode.
        # (Measured at 1M docs: page-2 pruned 0.56s vs exact 0.89s;
        # rank-1000 re-entry bails to exact via the bite-check below.)
        cap = max(16 * k, 256)
        while kp <= cap:
            scored, info = self._wand(node, kp, wvec)
            if scored is None:
                return None, info    # shape/tombstone/estimate gate
            ps = info.get("prune_stats")
            if ps and ps.get("blocks_total") \
                    and ps["blocks_decoded"] > 0.5 * ps["blocks_total"]:
                # θ stopped biting at this depth (flat score plateau —
                # the weakened k'-th bound no longer excludes blocks):
                # this round ≈ a full decode, and deeper rounds only get
                # worse; the exact path does that one full pass better
                return None, {"reason": "deepening"}
            topkp = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
                     .limit(kp))
            surv = _after_cursor(topkp, after).persist()
            n_surv = surv.count()
            if n_surv >= k or kp >= int(self.n_docs):
                # ≥ k survivors → page-exact; k' ≥ n_docs → the pruned
                # frame holds every match, so a short page is the final
                # page. The persisted survivors feed the page action
                # directly (no recompute of the round).
                self._register_handles([surv])
                return Route("cursor", None, surv, handles=[surv],
                             stats=ps), info
            surv.unpersist()
            kp *= 4
        return None, {"reason": "deepening"}  # cursor too deep for the rounds

    def count(self, query) -> int:
        """Match count (reference M8, src/Storage/SqliteStorage.php:1275-1358)."""
        node = parse_query(query) if isinstance(query, str) else query
        if node is None:
            return 0
        with decode_scope():
            slots, phrase_tables, _, near_tables, handles = self._plan(node)
        if not slots:
            return 0
        try:
            contribs = None
            for i, slot in enumerate(slots):
                t = (phrase_tables[slot[1]] if slot[0] == "phrase"
                     else near_tables[slot[1]])
                branch = t.select("doc_id", F.lit(i).alias("slot"))
                contribs = branch if contribs is None else contribs.unionByName(branch)
            flags = [F.max(F.when(F.col("slot") == i, F.lit(True)))
                     .alias(f"_s{i}") for i in range(len(slots))]
            return (contribs.groupBy("doc_id").agg(*flags)
                    .where(_qual_expr(node, [0], _slot_present_factory()))
                    .count())
        finally:
            self.release(handles)


def _slot_gates(root, present) -> dict[int, list]:
    """slot id → list of ancestor-subtree match expressions that must ALL
    hold for the slot's contribution to count (FTS5 context gating — see
    the probe-pinned rule at the call site). Or ancestors are skipped:
    their match is implied by the matching descendant chain. Slot
    numbering walks the tree in _collect_slots order."""
    gates: dict[int, list] = {}

    def walk(node, counter, anc):
        if node is None:
            return
        if isinstance(node, (Phrase, PrefixNode)):
            gates[counter[0]] = anc
            counter[0] += 1
        elif isinstance(node, Near):
            for m in range(len(node.phrases)):
                gates[counter[0] + m] = anc
            counter[0] += len(node.phrases)
        elif isinstance(node, Or):
            for c in node.children:
                walk(c, counter, anc)
        elif isinstance(node, And):
            me = _qual_expr(node, [counter[0]], present)
            for c in node.children:
                walk(c, counter, anc + [me])
        elif isinstance(node, Not):
            me = _qual_expr(node, [counter[0]], present)
            walk(node.include, counter, anc + [me])
            walk(node.exclude, counter, anc + [me])

    walk(root, [0], [])
    return gates


def _slot_present_factory():
    """Slot-presence predicate over the per-slot conditional-sum columns
    (_sᵢ IS NOT NULL ⇔ slot i produced a contribution row) — replaces
    the collect_set slot-set, keeping qualification inside plain
    whole-stage-codegen expressions."""
    return lambda i: F.col(f"_s{i}").isNotNull()


def _qual_expr(node, counter: list, present) -> Column:
    """Boolean qualification over per-slot presence — walks the tree in
    the SAME order as _collect_slots so slot ids line up.

    One doc qualifies iff the boolean structure holds over which slots
    produced contribution rows (a NEAR's member slots all come from the
    near table, so its first member slot stands for the whole group)."""
    if isinstance(node, (Phrase, PrefixNode)):
        i = counter[0]
        counter[0] += 1
        return present(i)
    if isinstance(node, Near):
        i = counter[0]
        counter[0] += len(node.phrases)
        return present(i)
    if isinstance(node, And):
        out = None
        for c in node.children:
            e = _qual_expr(c, counter, present)
            out = e if out is None else (out & e)
        return out
    if isinstance(node, Or):
        out = None
        for c in node.children:
            e = _qual_expr(c, counter, present)
            out = e if out is None else (out | e)
        return out
    if isinstance(node, Not):
        inc = _qual_expr(node.include, counter, present)
        exc = _qual_expr(node.exclude, counter, present)
        return inc & ~exc
    raise ValueError(f"unknown node {node!r}")


def _collect_slots(node, slots: list) -> None:
    if node is None:
        return
    if isinstance(node, (Phrase, PrefixNode)):
        slots.append(("phrase", node))
    elif isinstance(node, Near):
        for i in range(len(node.phrases)):
            slots.append(("near", node, i))
    elif isinstance(node, (And, Or)):
        for c in node.children:
            _collect_slots(c, slots)
    elif isinstance(node, Not):
        _collect_slots(node.include, slots)
        _collect_slots(node.exclude, slots)


def _unique_phraselike(node) -> list:
    """All distinct Phrase/PrefixNode nodes (incl. NEAR members), in order."""
    out: list = []
    seen: set = set()

    def walk(n):
        if n is None:
            return
        if isinstance(n, (Phrase, PrefixNode)):
            if n not in seen:
                seen.add(n)
                out.append(n)
        elif isinstance(n, Near):
            for p in n.phrases:
                walk(p)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)
        elif isinstance(n, Not):
            walk(n.include)
            walk(n.exclude)
    walk(node)
    return out


def _unique_nears(node) -> list:
    out: list = []
    seen: set = set()

    def walk(n):
        if isinstance(n, Near):
            if n not in seen:
                seen.add(n)
                out.append(n)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)
        elif isinstance(n, Not):
            walk(n.include)
            walk(n.exclude)
    walk(node)
    return out


