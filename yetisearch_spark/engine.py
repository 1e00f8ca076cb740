"""Engine facade — the reference's public API surface re-expressed on Spark.

Mirrors ``YetiSearch`` (reference: src/YetiSearch.php:103-688) and the
result-shaping half of ``SearchEngine`` (reference:
src/Search/SearchEngine.php:94-272,714-829,1112-1307):

  * SearchQuery dataclass (reference: src/Models/SearchQuery.php:8-311)
  * filter operator set F1-F3 (reference: src/Storage/SqliteStorage.php:2674-2895)
  * min_score filter F6, score normalization R5, dedup-by-route A7,
    facets A1/A3, aggregations A4, stats A5, multi-index union J3,
    highlights C11.

Everything set-oriented is a Catalyst plan; only the final ≤k-row page
is shaped driver-side (highlights), exactly like the reference shapes
rows after the SQL returns.
"""

from __future__ import annotations

import math
import re
import time
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .query import SearchIndex, _after_cursor, parse_query
from .rescoring import effective_limit, field_weighted_score


def _sort_rows(rows: list[dict], order: list[tuple[str, bool]]) -> None:
    """In-place stable multi-key sort of row dicts; Spark null ordering
    (asc = nulls first, desc = nulls last)."""
    for fld, asc in reversed(order):
        rows.sort(key=lambda d: (d.get(fld) is not None, d.get(fld)),
                  reverse=not asc)


# ---------------------------------------------------------------------------
# SearchQuery + filters
# ---------------------------------------------------------------------------

@dataclass
class SearchQuery:
    query: str = ""
    limit: int = 20
    offset: int = 0
    filters: list[dict] = field(default_factory=list)   # {field, operator, value}
    sort: dict[str, str] = field(default_factory=dict)  # field -> asc|desc
    language: Optional[str] = None
    fuzzy: bool = False
    fuzziness: float = 0.8
    highlight: bool = False
    highlight_length: int = 150
    facets: dict[str, dict] = field(default_factory=dict)
    aggregations: dict[str, dict] = field(default_factory=dict)
    unique_by_route: bool = False
    min_score: float = 0.0
    boost_fields: dict[str, float] = field(default_factory=dict)
    result_fields: list[str] = field(default_factory=list)  # F5 projection
    bypass_cache: bool = False
    #: keyset deep-pagination cursor (O7 stretch): the ``next_cursor``
    #: value ([raw_score, doc_id]) from the previous page's result.
    #: Scale-safe alternative to ``offset`` — offset sorts offset+limit
    #: rows per page, the cursor always sorts ``limit``. Standard
    #: relevance path only (no sort/filters/facets/geo/fuzzy/boosts/
    #: offset/min_score — those reorder or re-score pages, making a raw-
    #: score cursor unsound); anything else raises ValueError.
    search_after: Optional[list] = None
    #: geo filters (reference SearchQuery::near/within/sortByDistance,
    #: src/Models/SearchQuery.php + URLQueryParser geo[...] params):
    #:   {"near": {"lat","lng","radius"[,"units"]},
    #:    "within": {"north","south","east","west"},
    #:    "distance_sort": {"lat","lng"[,"direction"]},
    #:    "nearest": {"lat","lng","k"}, "units": "m|km|mi"}
    geo_filters: dict = field(default_factory=dict)


_FILTER_OPS = {"=", "!=", ">", "<", ">=", "<=", "like", "not like", "contains",
               "=?", "in", "not in", "between", "is null", "is not null",
               "exists"}


def filter_condition(fld: str, op: str, value: Any) -> Column:
    """One filter → Catalyst predicate (reference operator whitelist,
    src/Storage/SqliteStorage.php:31-37,2674-2754)."""
    c = F.col(fld)
    op = op.lower()
    if op == "=":
        return c == F.lit(value)
    if op == "!=":
        return c != F.lit(value)
    if op == ">":
        return c > F.lit(value)
    if op == "<":
        return c < F.lit(value)
    if op == ">=":
        return c >= F.lit(value)
    if op == "<=":
        return c <= F.lit(value)
    if op == "like":
        return c.like(str(value))
    if op == "not like":
        return ~c.like(str(value))
    if op == "contains":
        return c.contains(str(value))
    if op == "=?":  # eq-or-empty (reference :2706-2709)
        return (c == F.lit(value)) | c.isNull() | (c == F.lit(""))
    if op == "in":
        return c.isin(list(value))
    if op == "not in":
        return ~c.isin(list(value))
    if op == "between":
        lo, hi = value
        return c.between(lo, hi)
    if op == "is null":
        return c.isNull()
    if op == "is not null":
        return c.isNotNull()
    if op == "exists":
        return c.isNotNull()
    raise ValueError(f"unsupported filter operator: {op!r}")


def apply_filters(df: DataFrame, filters: list[dict]) -> DataFrame:
    for f_ in filters or []:
        df = df.where(filter_condition(f_["field"], f_.get("operator", "="),
                                       f_.get("value")))
    return df


# ---------------------------------------------------------------------------
# Highlights (reference C11: src/Search/SearchEngine.php:973-1110)
# ---------------------------------------------------------------------------

def extract_snippet(text: str, terms: list[str], length: int = 150) -> str:
    """Best window around the earliest term hit (score 1/(pos+1), plural
    probe), word-boundary trim, '...' ellipses."""
    lower = text.lower()
    best_pos, best_score = 0, 0.0
    for term in terms:
        for probe in (term, term + "s"):
            pos = lower.find(probe)
            if pos >= 0:
                score = 1.0 / (pos + 1)
                if score > best_score:
                    best_score, best_pos = score, pos
    if best_score == 0.0 and len(text) <= length:
        return text
    start = max(0, best_pos - length // 3)
    end = min(len(text), start + length)
    snippet = text[start:end]
    if start > 0:
        sp = snippet.find(" ")
        if 0 <= sp < len(snippet) - 1:
            snippet = snippet[sp + 1:]
        snippet = "..." + snippet
    if end < len(text):
        sp = snippet.rfind(" ")
        if sp > 0:
            snippet = snippet[:sp]
        snippet = snippet + "..."
    return snippet


def highlight_terms(text: str, terms: list[str],
                    tag: str = "<mark>", tag_close: str = "</mark>") -> str:
    out = text
    for term in sorted(set(terms), key=len, reverse=True):
        if not term:
            continue
        pattern = re.compile(r"\b(" + re.escape(term) + r"s?)\b", re.IGNORECASE)
        out = pattern.sub(tag + r"\1" + tag_close, out)
    return out


def _query_terms_for_highlight(query: str) -> list[str]:
    clean = query.replace("''", "'")
    clean = re.sub(r'["()]', " ", clean)
    clean = re.sub(r"\b(OR|AND|NEAR|NOT)\b", " ", clean, flags=re.IGNORECASE)
    clean = re.sub(r"\s+", " ", clean).lower()
    toks = [t.strip().rstrip("*").rstrip(",") for t in clean.split(" ")]
    toks = [t for t in toks if t and not t.isdigit()]
    return sorted(set(toks), key=len, reverse=True)


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------

class Engine:
    """search/count/facets/aggregations/stats over one or more indexes."""

    def __init__(self, spark: SparkSession, index_dirs: dict[str, str],
                 config: dict | None = None):
        self.spark = spark
        self.indexes = {name: SearchIndex(spark, path)
                        for name, path in index_dirs.items()}
        self.config = {
            "enable_fuzzy": True,
            "fuzzy_correction_mode": True,     # correction vs expansion
            "fuzzy_algorithm": "trigram",
            "fuzzy_score_penalty": 0.25,
            "fuzzy_total_max_variations": 30,
            "enable_word_merge": True,
            "enable_synonyms": False,
            "synonyms": {},
            "min_term_frequency": 2,
            "max_indexed_terms": 20_000,
            # R6 distance blending (reference SearchEngine.php:760-769)
            "distance_weight": 0.0,
            "distance_decay_k": 0.005,
            "geo_units": "m",
            "geo_lat_col": "lat",
            "geo_lng_col": "lng",
            # R7 two-pass (reference SearchEngine.php:139-203)
            "two_pass_search": False,
            # block-max pruned serving tier gate (None → wand.py's
            # block-estimate defaults; 0 forces pruning for eligible
            # shapes; negative disables the facade route)
            "pruned_gate_blocks": None,
            # result-total policy for pruned OR / weighted-OR pages
            # (their pruned frame is page-exact but not count-complete):
            #   exact    — default; total from wand's count-only plan
            #              (head-df base + block-probed anti-join —
            #              position-free, never a full head decode).
            #              Matches the reference's per-search COUNT
            #              (src/Search/SearchEngine.php:207) exactly.
            #   estimate — zero-job df-sum upper bound (documented
            #              divergence; result carries total_mode).
            #   deferred — no count at all; total = fetched candidates
            #              (lower bound, ≤ overfetch window; documented
            #              divergence; result carries total_mode).
            "total_mode": "exact",
            "field_weights": {},
            "primary_fields": ("title", "h1", "name", "label"),
            "primary_field_limit": 20,
            **(config or {}),
        }
        self._correctors: dict[str, object] = {}
        self._live_cache: dict[str, tuple] = {}

    def index(self, name: str) -> SearchIndex:
        return self.indexes[name]

    def warm(self, index: str) -> dict:
        """Replica bootstrap for one served index: resolve the live view,
        materialize its pinned doc store + term dictionary
        (SearchIndex.warm) and build the fuzzy corrector — the pieces
        every query needs that are otherwise paid inside the first
        query's latency. Query-specific caches (per-term decodes, match
        tables) are NOT touched: those stay in the cold numbers."""
        _, idx = self._live(index)
        out = idx.warm()
        if self.config["enable_fuzzy"]:
            self.corrector(index)
        return out

    def _live(self, index: str):
        """Epoch-checked index resolution (K2 write-path invalidation,
        reference: src/Storage/SqliteStorage.php:364-367,708-711).
        Mutations (segment appends, tombstones) bump the manifest epoch;
        a moved epoch re-resolves the serving view — plain SearchIndex
        when the base is all there is, a GlobalSegmentedIndex over
        base + segments − tombstones otherwise (EXACT global BM25 stats,
        append-only scores identical to the compacted index) — and
        retires the stale view's private caches. The epoch also keys the
        K1 result cache, so cached pages can never outlive a mutation."""
        import os

        from .build import load_manifest
        from .streaming import list_segments, tombstone_path

        base = self.indexes[index]
        epoch = int(load_manifest(base.index_dir).get("epoch", 0))
        cur = self._live_cache.get(index)
        if cur is not None and cur[0] == epoch:
            return epoch, cur[1]
        if cur is not None and cur[1] is not base:
            cur[1].close()
        d = base.index_dir
        if list_segments(d) or os.path.isdir(tombstone_path(d)):
            from .streaming import GlobalSegmentedIndex
            live = GlobalSegmentedIndex(self.spark, d)
            if cur is None or cur[1] is base:
                # the base's pinned doc store / decode caches are unused
                # while segments exist — drop them (close() leaves the
                # SearchIndex usable; caches refill on demand if touched)
                base.close()
        elif epoch > int(base.manifest.get("epoch", 0)):
            # epoch moved but segments/tombstones drained to zero → the
            # index was COMPACTED IN PLACE (auto-compaction or manual):
            # the files under index_dir are new, and `base`'s relations,
            # corpus stats and manifest all describe the deleted
            # pre-compaction files. Serve a fresh SearchIndex and retire
            # the stale one (it stays in self.indexes as the path handle
            # only; every query resolves through this cache).
            base.close()
            live = SearchIndex(self.spark, d)
        else:
            live = base
        # facade pruned-tier gate: the engine-level knob reaches every
        # served view (None → wand defaults; 0 forces; negative disables)
        live.pruned_gate_blocks = self.config["pruned_gate_blocks"]
        self._live_cache[index] = (epoch, live)
        return epoch, live

    def corrector(self, index: str):
        """Broadcast-vocabulary Corrector (reference getIndexedTerms shape:
        df ≥ min_term_frequency, top max_indexed_terms by frequency).
        Keyed by the index EPOCH and built from the live serving view's
        term stats, so appended segments' vocabulary becomes correctable
        without a manual cache clear (same contract as K1)."""
        epoch, idx = self._live(index)
        key = (index, epoch)
        if key not in self._correctors:
            from .correction import Corrector

            rows = (idx._term_stats
                    .where(F.col("df") >= self.config["min_term_frequency"])
                    .orderBy(F.desc("df"))
                    .limit(self.config["max_indexed_terms"])
                    .select("term", "df").collect())
            # keyed insert (NOT whole-dict replacement — engines serving
            # several indexes alternate fuzzy queries without re-collecting
            # each other's vocabulary); evict only stale epochs of THIS
            # index, and bound the cache for many-index engines
            self._correctors = {
                k: v for k, v in self._correctors.items()
                if not (k[0] == index and k[1] != epoch)}
            while len(self._correctors) >= 16:
                self._correctors.pop(next(iter(self._correctors)))
            self._correctors[key] = Corrector(
                {r["term"]: int(r["df"]) for r in rows})
        return self._correctors[key]

    # -- query compilation (reference processQuery,
    # src/Search/SearchEngine.php:394-654) ------------------------------------

    def _compile(self, index: str, q: SearchQuery):
        """→ (AST node, fuzzy_term_map, query_tokens). Non-fuzzy queries go
        straight to the FTS-style parser (supports phrases/NEAR/prefix/
        booleans); fuzzy queries run tokens through merge + correction or
        expansion over the index vocabulary."""
        from .analyzer import analyze
        from .correction import expand_synonyms
        from .query import And, Near, Or, Phrase

        fuzzy_map: dict[str, dict] = {}
        if not (q.fuzzy and self.config["enable_fuzzy"]):
            node = parse_query(q.query)
            if self.config["enable_synonyms"] and self.config["synonyms"]:
                toks = analyze(q.query)
                syn = expand_synonyms(toks, self.config["synonyms"],
                                      language=q.language)
                extra = [s for alts in syn.values() for s in alts]
                if extra:
                    parts = [node] if node else []
                    parts += [Phrase(tuple(analyze(s))) for s in extra
                              if analyze(s)]
                    node = Or(tuple(parts)) if len(parts) > 1 else parts[0]
            return node, fuzzy_map, analyze(q.query)

        corr = self.corrector(index)
        tokens = analyze(q.query)
        if self.config["enable_word_merge"]:
            merged = corr.merge_tokens(tokens)
            for m, o in zip(merged, tokens):
                if m != o:
                    fuzzy_map[m] = {"type": "merge", "original": o}
            tokens = merged
        for t in tokens:
            fuzzy_map.setdefault(t, {"type": "exact", "original": t})

        if self.config["fuzzy_correction_mode"]:
            corrected: list[str] = []
            for t in tokens:
                c = corr.find_best_correction(t)
                for part in c.split(" "):  # compound splits become 2 tokens
                    corrected.append(part)
                    if part.lower() != t.lower():
                        fuzzy_map[part.lower()] = {"type": "correction",
                                                   "original": t}
            exact = [Phrase((t,)) for t in corrected]
            if not exact:
                return None, fuzzy_map, tokens
            if len(exact) == 1:
                return exact[0], fuzzy_map, corrected
            # reference combined shape: ("a b" OR NEAR(a b, 10) OR a OR b)
            node = Or((Phrase(tuple(corrected)),
                       Near(tuple(exact), 10), *exact))
            return node, fuzzy_map, corrected

        # expansion mode: OR in vocabulary variations with metric tags
        from . import fuzzy as fz

        algo = self.config["fuzzy_algorithm"]
        budget = int(self.config["fuzzy_total_max_variations"])
        variation_terms: list[str] = []
        for t in tokens:
            if budget <= 0:
                break
            vars_ = corr.variations(t, algorithm=algo)[:budget]
            for v in vars_:
                if v.lower() == t.lower():
                    continue
                info = {"type": "fuzzy", "original": t}
                if algo == "levenshtein":
                    info["distance"] = fz.levenshtein_distance(t, v)
                elif algo == "jaro_winkler":
                    info["similarity"] = fz.jaro_winkler(t, v)
                else:
                    info["similarity"] = fz.trigram_similarity(t, v)
                fuzzy_map[v.lower()] = info
                variation_terms.append(v)
            budget -= max(0, len(vars_))
        exact = [Phrase((t,)) for t in tokens]
        parts: list = []
        if len(exact) > 1:
            parts = [Phrase(tuple(tokens)), Near(tuple(exact), 10), *exact]
        else:
            parts = list(exact)
        parts += [Phrase((v,)) for v in variation_terms]
        if not parts:
            return None, fuzzy_map, tokens
        node = Or(tuple(parts)) if len(parts) > 1 else parts[0]
        return node, fuzzy_map, tokens

    # -- core search ---------------------------------------------------------

    def _matches_with_docs(self, idx: SearchIndex, q: SearchQuery,
                           node=None) -> tuple[DataFrame, list]:
        """→ (filtered docs ⋈ exact match scores, the handles to release
        after the caller's jobs)."""
        if node is None:
            node = parse_query(q.query)
        r = idx._exact(node, None)
        return apply_filters(idx._docs, q.filters).join(r.scores,
                                                        "doc_id"), r.handles

    _PAGE_PLAN_MAX = 128

    def _memo_page_plan(self, plan_key, builder) -> DataFrame:
        """Prepared page-plan LRU: a repeated query (even with
        bypass_cache, which only bypasses the RESULT cache) re-collects
        the already-built page+count union instead of re-running the py4j
        plan construction. Keys carry the index epoch, so mutations can
        never serve a stale plan."""
        if plan_key is None:
            return builder()
        if not hasattr(self, "_page_plans"):
            from collections import OrderedDict
            self._page_plans = OrderedDict()
        hit = self._page_plans.get(plan_key)
        if hit is not None:
            self._page_plans.move_to_end(plan_key)
            return hit
        df = builder()
        self._page_plans[plan_key] = df
        while len(self._page_plans) > self._PAGE_PLAN_MAX:
            self._page_plans.popitem(last=False)
        return df

    def _page_and_total(self, matched: DataFrame,
                        order: list[tuple[str, bool]], n: int,
                        plan_key=None) -> tuple[list[dict], int]:
        """ONE Spark action for the serving hot path: the top-n page
        (TakeOrderedAndProject) unioned with a count branch — the count
        side reuses the scoring shuffle (ReusedExchange) instead of
        running a second job. Returns (page row dicts re-sorted driver-side,
        total match count)."""
        def build():
            sort_cols = [F.col(f).asc() if asc else F.col(f).desc()
                         for f, asc in order]
            page = (matched.orderBy(*sort_cols).limit(n)
                    .withColumn("_total", F.lit(None).cast("long")))
            stats = matched.agg(F.count(F.lit(1)).alias("_total"))
            return page.unionByName(stats, allowMissingColumns=True)
        rows = self._memo_page_plan(plan_key, build).collect()
        return Engine._split_union_rows(rows, order)

    @staticmethod
    def _split_union_rows(rows, order) -> tuple[list[dict], int]:
        total = 0
        page_rows: list[dict] = []
        for r in rows:
            if r["_total"] is not None:  # the count branch's single row
                total = int(r["_total"])
            else:
                d = r.asDict(recursive=True)
                d.pop("_total", None)
                page_rows.append(d)
        _sort_rows(page_rows, order)
        return page_rows, total

    def _page_and_total_enriched(self, scores: DataFrame, docs: DataFrame,
                                 n: int, plan_key=None,
                                 total_literal: int | None = None,
                                 total_frame: tuple | None = None
                                 ) -> tuple[list[dict], int]:
        """Hot serving path (no filters/sort/facets): top-n over the bare
        (doc_id, score) match set FIRST, then broadcast-join only the page
        into the doc store (reference J1 shape,
        src/Storage/SqliteStorage.php:1017-1021) — the full docs table
        never enters the scoring plan. Still ONE Spark action: the count
        branch is unioned in and reuses the scoring shuffle.

        ``total_literal``: driver-known exact total (the pruned
        single-term route: total = df) — the count branch becomes a
        1-row literal instead of an aggregation over the match set.
        ``total_frame``: (frame, base) from wand's count-only plan (the
        pruned OR/weighted-OR route, whose ``scores`` frame is NOT
        count-complete) — the count branch becomes
        base + count(frame)."""
        order = [("score", False), ("doc_id", True)]

        def build():
            topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(n)
            page = (docs.join(F.broadcast(topk), "doc_id")
                    .withColumn("_total", F.lit(None).cast("long")))
            if total_frame is not None:
                cf, base = total_frame
                stats = cf.agg((F.count(F.lit(1)) + F.lit(int(base)))
                               .cast("long").alias("_total"))
            elif total_literal is not None:
                stats = scores.sparkSession.range(1).select(
                    F.lit(int(total_literal)).cast("long").alias("_total"))
            else:
                stats = scores.agg(F.count(F.lit(1)).alias("_total"))
            return page.unionByName(stats, allowMissingColumns=True)
        rows = self._memo_page_plan(plan_key, build).collect()
        return Engine._split_union_rows(rows, order)

    def search(self, index: str, q: SearchQuery | str) -> dict:
        """Full search (reference YetiSearch::search → SearchEngine::search
        → processResults, src/Search/SearchEngine.php:94-272,714-830).

        Serving shape: the standard path runs ONE Spark action (page +
        total in a single job); fuzzy/boosted paths overfetch
        effective_limit candidates (R3) and run the reference's row-level
        post-processing driver-side over ≤2000 rows, exactly where the
        reference runs it in PHP. Result processing order matches
        processResults: R2 field-weight rescoring → max over raw scores →
        min_score on raw scores → fuzzy penalty → normalize by the raw max
        → re-sort → slice."""
        if isinstance(q, str):
            q = SearchQuery(query=q)
        epoch, idx = self._live(index)
        # K1: engine-level result LRU (TTL 300s, 100 entries —
        # reference: src/Search/SearchEngine.php:2375-2417). The key
        # hashes FULL facet/aggregation option dicts and the highlight
        # length — queries differing only in options must not collide —
        # and the index epoch, so mutations invalidate without a
        # manual clear_cache() (reference K2 hooks,
        # src/Storage/SqliteStorage.php:364-367,708-711). The same key
        # addresses the prepared page-plan LRU, which bypass_cache does
        # NOT bypass (it skips result reuse only).
        import hashlib
        plan_key = (index, epoch, hashlib.md5(repr(
            (q.query, q.language, q.limit, q.offset, q.filters,
             list(q.sort.items()),
             q.fuzzy, q.fuzziness, q.min_score, q.unique_by_route,
             q.highlight, q.highlight_length,
             sorted((k, sorted(v.items())) for k, v in q.facets.items()),
             sorted((k, sorted(v.items())) for k, v in q.aggregations.items()),
             sorted(q.boost_fields.items()), repr(q.geo_filters),
             q.result_fields,
             tuple(q.search_after) if q.search_after else None)
            ).encode()).hexdigest())
        cache_key = None
        if not q.bypass_cache:
            cache_key = plan_key
            hit = self._cache_get(cache_key)
            if hit is not None:
                return hit
        t0 = time.time()
        node, fuzzy_map, q_tokens = self._compile(index, q)
        # multi-field index: boost_fields become per-column bm25 weights
        # (reference SqliteStorage multi-column mode, :993-1021); the R2
        # page-level rescore below applies on top, matching :1186-1233
        bm25_weights = q.boost_fields if len(idx.fields) > 1 else None
        doc_cols = idx._docs.columns

        fuzzy_live = bool(q.fuzzy and fuzzy_map and "text" in doc_cols)
        rescore_live = bool(q.boost_fields)
        route_live = bool(q.unique_by_route and "route" in doc_cols)
        persist_matched = bool(q.facets or q.aggregations)
        geo = q.geo_filters or {}
        latc = self.config["geo_lat_col"]
        lngc = self.config["geo_lng_col"]
        geo_live = bool(geo) and latc in doc_cols and lngc in doc_cols
        geo_units = str(geo.get("units") or self.config["geo_units"])

        # O6 nearest-neighbor mode: no text query, pure distance top-k
        # (reference: src/Storage/SqliteStorage.php:916-989)
        if geo_live and "nearest" in geo and not q.query.strip():
            return self._nearest(idx, q, geo, latc, lngc, geo_units, t0)

        # the scoring plan needs the doc store joined in BEFORE top-k only
        # when full-set semantics depend on doc columns
        docs_in_set = bool(q.filters) or bool(q.sort) or route_live \
            or persist_matched or geo_live
        dist_sort = geo.get("distance_sort") if geo_live else None
        dw = float(self.config["distance_weight"])

        # R3: overfetch candidates when driver-side rescoring can
        # reorder them (reference: src/Storage/SqliteStorage.php:903-913)
        overfetch = fuzzy_live or rescore_live or dw > 0
        fetch_n = max(effective_limit(q.limit) if overfetch else 0,
                      q.offset + q.limit)
        # R7 two-pass (reference SearchEngine.php:139-203) — decided
        # before scoring so the pruned route can exclude it
        two_pass = (self.config["two_pass_search"]
                    and self.config["field_weights"]
                    and len(idx.fields) > 1 and node is not None
                    and not (q.sort or dist_sort or route_live))

        # O7 keyset cursor: strictly-after filter on RAW (score, doc_id).
        # Exact path only — the pruned tier's θ bounds the TOP-k, so
        # blocks that cannot reach page 1 may still hold page n; the
        # planner keeps a cursor page that needs a total exact.
        cursor_live = bool(q.search_after)
        if cursor_live and (docs_in_set or two_pass or overfetch
                            or q.offset or q.min_score > 0):
            raise ValueError(
                "search_after supports the standard relevance path only "
                "(no sort/filters/facets/geo/fuzzy/boosts/offset/"
                "min_score)")
        # one route decision (SearchIndex.route). A FILTERS-ONLY query
        # (the most common real filtered shape) takes the filtered tier;
        # sorts/facets/aggregations/geo need the complete filtered set,
        # so only shapes whose pruned frame is the whole match set
        # (AND/phrase/NEAR) may prune under them. Field-weighted
        # (multi-field boost) queries ride the pruned tier too. Two-pass
        # scores from the exact frame, like its primary-field pass.
        wvec = idx._normalize_weights(bm25_weights)
        filters_only = bool(q.filters) and not (
            q.sort or route_live or persist_matched or geo_live)
        if two_pass:
            r = idx._exact(node, wvec)
        else:
            r = idx.route(
                node, fetch_n,
                fids=(apply_filters(idx._docs, q.filters).select("doc_id")
                      if filters_only else None),
                wvec=wvec,
                after=tuple(q.search_after[:2]) if cursor_live else None,
                total=str(self.config.get("total_mode", "exact")),
                complete=docs_in_set)
        filtered_served = r.kind == "filtered"
        docs_in_set = docs_in_set and not filtered_served
        total_mode_used = (r.stats or {}).get("total_mode", "exact")
        scores = r.scores
        # per-query persisted frames (exact-path match tables, the
        # weighted-OR phase 2) — released after the page action
        handles = r.handles
        matched = apply_filters(idx._docs, q.filters).join(scores, "doc_id") \
            if docs_in_set else scores
        if cursor_live:
            # page = next limit rows strictly after the cursor; TOTAL
            # stays the full match count (same value every page, like
            # the offset path) via the route's unfiltered count branch
            matched = _after_cursor(matched, q.search_after)
        if geo_live:
            need_distance = bool(dist_sort) or dw > 0 or "distance" in q.facets
            matched = self._apply_geo(matched, geo, geo_units, latc, lngc,
                                      need_distance)

        persisted_ref = None  # unpersist the EXACT persisted frame, not a
        # later reassignment of `matched` (derived frames are no-ops)
        try:
            if persist_matched:
                matched = matched.persist()
                persisted_ref = matched

            if route_live:
                # A7 roll-up stays a distributed plan op (the reference
                # fetches max_results rows and dedups in PHP —
                # SearchEngine.php:133-137,213-222; a driver-side dedup
                # does not survive 10^12 docs). Normalization must precede
                # the roll-up (composite = sum of chunk 0-100 scores), so
                # this path pays one extra max() job.
                if q.min_score > 0:
                    matched = matched.where(F.col("score") >= q.min_score)
                w_max = matched.agg(F.max("score")).collect()[0][0]
                if w_max:
                    matched = matched.withColumn(
                        "score",
                        F.round(F.col("score") / F.lit(float(w_max)) * 100.0, 1))
                matched = self._dedup_by_route(matched)

            if dist_sort:
                # distance sort wins (reference needsPhpSort path,
                # SqliteStorage.php:1237-1262)
                asc = str(dist_sort.get("direction", "asc")).lower() != "desc"
                order = [("distance", asc), ("doc_id", True)]
            elif q.sort:
                order = [(fld, d.lower() != "desc") for fld, d in q.sort.items()]
                order.append(("doc_id", True))
            else:
                order = [("score", False), ("doc_id", True)]

            # R7 two-pass: pass 1 restricted to primary fields (zero
            # weights elsewhere + >0 score cut == field-restricted match)
            # with doubled weights, boosted ×1.5 in the merge; pass 2 is
            # the standard ranking.
            if two_pass:
                rows, total, extra_handles = self._two_pass_rows(
                    idx, node, scores, q, fetch_n)
                handles = handles + extra_handles
            elif docs_in_set:
                rows, total = self._page_and_total(matched, order, fetch_n,
                                                   plan_key=plan_key)
            else:
                rows, total = self._page_and_total_enriched(
                    matched, idx._docs, fetch_n, plan_key=plan_key,
                    total_literal=r.total, total_frame=r.count)
            if total_mode_used == "deferred":
                # deferred policy: the fetched-candidate count is the
                # (lower-bound) total — no count plan ran at all
                total = len(rows)
            # raw (score, doc_id) pairs BEFORE normalization/penalties
            # mutate the rows — the keyset cursor is on raw scores, and
            # only the standard path keeps the fetched order
            raw_pairs = ([(int(d["doc_id"]), float(d["score"]))
                          for d in rows]
                         if not (docs_in_set or filtered_served or two_pass
                                 or overfetch or q.min_score > 0) else None)

            # ---- driver-side processResults (row-level, ≤ fetch_n rows) ----
            if rescore_live and not route_live:
                # R2: field-weighted rescore over the candidate page
                # (reference: src/Storage/SqliteStorage.php:1186-1233)
                content_cols = [c for c in q.boost_fields if c in doc_cols]
                for d in rows:
                    content = {c: d.get(c) for c in content_cols}
                    d["score"] = field_weighted_score(
                        q.query, content, q.boost_fields, float(d["score"]))
                if not q.sort:
                    _sort_rows(rows, order)

            w_max = max((d["score"] for d in rows), default=0.0)
            if cursor_live and len(q.search_after) > 2:
                # cursor pages normalize by the raw max PAGE 1 used
                # (propagated via next_cursor[2]) so 0-100 scores stay
                # comparable across the whole keyset walk — a local page
                # max would re-inflate every page to 100.0
                w_max = max(w_max, float(q.search_after[2]))
            if q.min_score > 0 and not route_live:
                rows = [d for d in rows if d["score"] >= q.min_score]  # F6

            if fuzzy_live:
                # R4: fuzzy penalty over the fetched candidates only
                # (reference penalizes the result page, SearchEngine.php:737-756)
                from .rescoring import fuzzy_penalty
                base_penalty = self.config["fuzzy_score_penalty"]
                for d in rows:
                    pen = fuzzy_penalty(d.get("text") or "", list(q_tokens),
                                        dict(fuzzy_map), base_penalty)
                    d["score"] = d["score"] * (1.0 - pen)
                if not q.sort:
                    _sort_rows(rows, order)

            if w_max and not route_live:
                # R5: normalize to 0-100 by the max PRE-penalty score
                # (reference: SearchEngine.php:719-725,758)
                for d in rows:
                    d["score"] = round(d["score"] / w_max * 100.0, 1)

            if dw > 0:
                # R6: blend text score with exponential distance decay
                # (reference: SearchEngine.php:760-769,820-825)
                k_decay = float(self.config["distance_decay_k"])
                for d in rows:
                    if d.get("distance") is not None:
                        km = max(0.0, float(d["distance"]) / 1000.0)
                        ds = max(0.0, min(100.0, 100.0 * math.exp(-k_decay * km)))
                        d["score"] = round((1.0 - dw) * d["score"] + dw * ds, 1)
                if not (q.sort or dist_sort):
                    _sort_rows(rows, [("score", False), ("doc_id", True)])

            page = rows[q.offset:q.offset + q.limit]
            next_cursor = None
            if raw_pairs and page:
                d_l, s_l = raw_pairs[q.offset + len(page) - 1]
                next_cursor = [s_l, d_l, w_max]

            results = []
            hl_terms = _query_terms_for_highlight(q.query) if q.highlight else []
            for d in page:
                d.pop("tokens", None)
                # lift geo outputs BEFORE the F5 projection — the reference
                # attaches distance from the raw row, then filters content
                # fields (processResults order, SearchEngine.php:772-819)
                distance = d.pop("distance", None)
                row_lat = d.get(latc)
                row_lng = d.get(lngc)
                if q.result_fields:
                    # F5: keep only configured result fields
                    # (reference: src/Search/SearchEngine.php:1171-1185)
                    keep = set(q.result_fields) | {"doc_id", "conv_id",
                                                   "turn_idx", "score"}
                    d = {k: v for k, v in d.items() if k in keep}
                item = {"id": f"{d.get('conv_id')}#{d.get('turn_idx')}"
                        if "conv_id" in d else str(d.get("doc_id")),
                        "score": d.pop("score"), "document": d}
                if distance is not None:
                    # attach distance + units/bearing metadata (reference:
                    # SearchEngine.php:795-819)
                    from .geo import bearing_deg, bearing_to_cardinal
                    item["distance"] = distance
                    meta = item.setdefault("metadata", {})
                    meta["distance_units"] = geo_units \
                        if geo_units in ("km", "mi") else "m"
                    pt = (geo.get("distance_sort")
                          or geo.get("near") or {})
                    if "lat" in pt and row_lat is not None:
                        b = bearing_deg(float(pt["lat"]), float(pt["lng"]),
                                        float(row_lat), float(row_lng))
                        meta["bearing"] = round(b, 1)
                        meta["cardinal"] = bearing_to_cardinal(b)
                if q.highlight and d.get("text"):
                    snippet = extract_snippet(d["text"], hl_terms,
                                              q.highlight_length)
                    item["highlights"] = {"text": highlight_terms(snippet,
                                                                  hl_terms)}
                results.append(item)

            out = {
                "results": results,
                "total": total,
                "count": len(results),
                "search_time": round(time.time() - t0, 4),
            }
            if total_mode_used != "exact":
                # non-default totals policy: surface the divergence on
                # the result (estimate = df-sum upper bound; deferred =
                # fetched-candidate lower bound)
                out["total_mode"] = total_mode_used
            if next_cursor is not None:
                # feed back as SearchQuery.search_after for the next page
                out["next_cursor"] = next_cursor
            if total == 0 and q.query.strip():
                # "did you mean" on empty results (reference:
                # src/Search/SearchEngine.php:246-249)
                s = self.suggest(index, q.query)
                if s:
                    out["suggestion"] = s
            if q.facets:
                out["facets"] = self.facets(index, q, matched=matched)
            if q.aggregations:
                out["aggregations"] = self.aggregations(index, q, matched=matched)
        finally:
            if persisted_ref is not None:
                persisted_ref.unpersist()
            idx.release(handles)
        if cache_key is not None:
            self._cache_put(cache_key, out)
        return out

    @staticmethod
    def _apply_geo(matched: DataFrame, geo: dict, geo_units: str,
                   latc: str, lngc: str, need_distance: bool) -> DataFrame:
        """J2 geo filters + distance column inside the Catalyst plan
        (reference spatial clauses: SqliteStorage.php:1988-2209). Shared by
        search(), count() and standalone facets() — the reference's count
        pipeline runs the full spatial clause set too
        (src/Storage/SqliteStorage.php:1275-1358)."""
        from . import geo as G
        ref_pt = None
        if "near" in geo:
            n = geo["near"]
            radius_m = G.to_meters(float(n["radius"]),
                                   n.get("units") or geo_units)
            matched = G.within_radius(matched, float(n["lat"]),
                                      float(n["lng"]), radius_m, latc, lngc)
            ref_pt = (float(n["lat"]), float(n["lng"]))
        if "within" in geo:
            matched = matched.where(G.bbox_predicate(geo["within"],
                                                     latc, lngc))
        dist_sort = geo.get("distance_sort")
        if dist_sort:
            ref_pt = (float(dist_sort["lat"]), float(dist_sort["lng"]))
        if need_distance and "distance" not in matched.columns \
                and ref_pt is not None:
            matched = matched.withColumn(
                "distance", G.haversine_m(ref_pt[0], ref_pt[1], latc, lngc))
        return matched

    def _nearest(self, idx: SearchIndex, q: SearchQuery, geo: dict,
                 latc: str, lngc: str, geo_units: str, t0: float) -> dict:
        """O6 k-NN: distance-ordered docs, no text ranking."""
        from . import geo as G
        nn = geo["nearest"]
        k = int(nn.get("k", q.limit))
        docs = apply_filters(idx._docs, q.filters)
        rows = G.knn(docs, float(nn["lat"]), float(nn["lng"]), k,
                     max_distance_m=nn.get("max_distance_m"),
                     lat_col=latc, lng_col=lngc).collect()
        results = []
        for r in rows:
            d = r.asDict(recursive=True)
            d.pop("tokens", None)
            item = {"id": f"{d.get('conv_id')}#{d.get('turn_idx')}"
                    if "conv_id" in d else str(d.get("doc_id")),
                    "score": 0.0,
                    "distance": d.pop("distance"),
                    "document": d,
                    "metadata": {"distance_units": geo_units
                                 if geo_units in ("km", "mi") else "m"}}
            results.append(item)
        return {"results": results, "total": len(results),
                "count": len(results),
                "search_time": round(time.time() - t0, 4)}

    def _two_pass_rows(self, idx: SearchIndex, node, scores: DataFrame,
                       q: SearchQuery, fetch_n: int):
        """R7: primary-field pass (doubled weights, zero elsewhere) merged
        over the standard pass with a ×1.5 boost, deduped keeping pass-1
        (reference: SearchEngine.php:139-203). Both passes see only the
        docs inside ``q.filters``. Total is the merged candidate count,
        as in the reference."""
        from .rescoring import two_pass_search
        docs = apply_filters(idx._docs, q.filters)

        def inside(frame):
            return (frame.join(docs.select("doc_id"), "doc_id", "left_semi")
                    if q.filters else frame)

        scores = inside(scores)
        pw = {f: float(self.config["field_weights"][f]) * 2.0
              for f in self.config["primary_fields"]
              if f in self.config["field_weights"]}
        if not pw:
            rows, total = self._page_and_total_enriched(scores, docs, fetch_n)
            return rows, total, []
        zero = {f: 0.0 for f in idx.fields}
        r1 = idx._exact(node, idx._normalize_weights({**zero, **pw}))
        s1 = (inside(r1.scores.where(F.col("score") > 0))
              .orderBy(F.desc("score"), F.asc("doc_id"))
              .limit(int(self.config["primary_field_limit"])))
        s2 = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch_n)
        merged = two_pass_search(s1, s2, k=fetch_n)
        enriched = docs.join(F.broadcast(merged), "doc_id")
        rows = [r.asDict(recursive=True) for r in enriched.collect()]
        _sort_rows(rows, [("score", False), ("doc_id", True)])
        return rows, len(rows), r1.handles

    # -- K1: result cache ------------------------------------------------------

    _CACHE_TTL_S = 300.0
    _CACHE_MAX = 100

    def _cache_get(self, key):
        ent = getattr(self, "_result_cache", {}).get(key)
        if ent is None:
            return None
        ts, value = ent
        if time.time() - ts > self._CACHE_TTL_S:
            del self._result_cache[key]
            return None
        return value

    def _cache_put(self, key, value) -> None:
        if not hasattr(self, "_result_cache"):
            self._result_cache = {}
        cache = self._result_cache
        if len(cache) >= self._CACHE_MAX:
            oldest = min(cache, key=lambda k: cache[k][0])
            del cache[oldest]
        cache[key] = (time.time(), value)

    def clear_cache(self) -> None:
        """K2 invalidation analog: call after index mutations."""
        self._result_cache = {}

    def _dedup_by_route(self, matched: DataFrame) -> DataFrame:
        """A7: roll up results by route — composite score = sum, the
        representative row = argmax score (reference:
        src/Search/SearchEngine.php:1112-1169)."""
        no_route = matched.where(F.col("route").isNull() | (F.col("route") == ""))
        routed = matched.where(F.col("route").isNotNull() & (F.col("route") != ""))
        cols = [c for c in matched.columns if c not in ("route", "score")]
        agg = (routed.groupBy("route")
               .agg(F.sum("score").alias("score"),
                    F.count(F.lit(1)).alias("chunk_count"),
                    F.max_by(F.struct(*cols), F.struct(F.col("score"),
                                                       (-F.col("doc_id")).alias("nd"))
                             ).alias("best")))
        rolled = agg.select("route", "score", "chunk_count", "best.*")
        return rolled.unionByName(
            no_route.withColumn("chunk_count", F.lit(1)), allowMissingColumns=True)

    def _with_geo(self, idx, matched: DataFrame, q: SearchQuery,
                  need_distance: bool = False) -> DataFrame:
        """Apply q.geo_filters to a match set when the index has geo
        columns (no-op otherwise)."""
        geo = q.geo_filters or {}
        latc = self.config["geo_lat_col"]
        lngc = self.config["geo_lng_col"]
        if not geo or latc not in matched.columns or lngc not in matched.columns:
            return matched
        units = str(geo.get("units") or self.config["geo_units"])
        return self._apply_geo(matched, geo, units, latc, lngc, need_distance)

    def count(self, index: str, q: SearchQuery | str) -> int:
        """M8 with the full filter pipeline — geo clauses included, like
        the reference count (src/Storage/SqliteStorage.php:1275-1358)."""
        if isinstance(q, str):
            q = SearchQuery(query=q)
        _, idx = self._live(index)
        if not q.query.strip():
            return self._with_geo(idx, apply_filters(idx._docs, q.filters),
                                  q).count()
        matched, handles = self._matches_with_docs(idx, q)
        try:
            return self._with_geo(idx, matched, q).count()
        finally:
            idx.release(handles)

    # -- facets / aggregations (A1-A5) ----------------------------------------

    def facets(self, index: str, q: SearchQuery,
               sample_limit: int = 1000, matched: DataFrame | None = None) -> dict:
        """A1/A2/A3: facet counts over the top-``sample_limit`` hits.

        ONE Spark action for any number of facet fields: the ≤1000-row
        sample is collected once (only the faceted columns) and counted
        driver-side — exactly where the reference counts it in PHP over
        the same sample (SearchEngine.php:1267-1307). Standalone calls
        (no ``matched``) run the geo pipeline too, so the A2 distance
        facet works outside search()."""
        release_handles = None
        if matched is None:
            _, idx = self._live(index)
            matched, handles = self._matches_with_docs(idx, q)
            release_handles = (idx, handles)
            matched = self._with_geo(idx, matched, q,
                                     need_distance="distance" in q.facets)
        try:
            flds = [f for f in q.facets if f in matched.columns]
            sample_rows = (matched
                           .orderBy(F.desc("score"), F.asc("doc_id"))
                           .limit(sample_limit)
                           .select(*flds).collect() if flds else [])
        finally:
            if release_handles is not None:
                release_handles[0].release(release_handles[1])
        out = {}
        for fld, opts in q.facets.items():
            if fld not in flds:
                continue  # A2 needs geo columns to attach the distance
            vals = [r[fld] for r in sample_rows]
            ranges = opts.get("ranges")
            if ranges:
                # A3: range facet {to}/{from,to}/{from} — first matching
                # range wins (the when-chain semantics); incomparable
                # values behave like Catalyst (no match, no crash)
                def _in_range(v, lo, hi):
                    try:
                        return ((lo is None or v >= lo)
                                and (hi is None or v < hi))
                    except TypeError:
                        return False

                buckets = []
                for r in ranges:
                    lo, hi = r.get("from"), r.get("to")
                    label = (f"{lo if lo is not None else '*'}-"
                             f"{hi if hi is not None else '*'}")
                    n = sum(1 for v in vals
                            if v is not None and _in_range(v, lo, hi))
                    buckets.append((label, n))
                    vals = [v for v in vals
                            if v is None or not _in_range(v, lo, hi)]
                out[fld] = [{"value": lbl, "count": n}
                            for lbl, n in buckets if n > 0]
            else:
                min_count = opts.get("min_count", 1)
                limit = opts.get("limit", 10)
                counts: dict = {}
                first_form: dict = {}
                for v in vals:
                    if v is None:
                        continue
                    # array/map facet values aren't hashable — count by a
                    # canonical form, report the original (the old Spark
                    # groupBy handled these types too)
                    k = tuple(v) if isinstance(v, list) else (
                        tuple(sorted(v.items())) if isinstance(v, dict) else v)
                    counts[k] = counts.get(k, 0) + 1
                    first_form.setdefault(k, v)
                # tie-break by the NATURAL value when the field's values
                # compare (matches the old Spark `ORDER BY count DESC,
                # field ASC` typed ordering — str() would put '10' before
                # '9'); typed fallback only for mixed-type columns
                try:
                    items = sorted(counts.items(),
                                   key=lambda kv: (-kv[1], kv[0]))
                except TypeError:
                    items = sorted(
                        counts.items(),
                        key=lambda kv: (-kv[1],
                                        (type(kv[0]).__name__, str(kv[0]))))
                out[fld] = [{"value": first_form[k], "count": n}
                            for k, n in items if n >= min_count][:limit]
        return out

    def aggregations(self, index: str, q: SearchQuery,
                     matched: DataFrame | None = None) -> dict:
        """A4: avg/min/max/sum/count over match-set columns — documented in
        the reference but stubbed there (SearchEngine.php:1309-1314).
        All specs evaluate in ONE .agg() → one Spark action regardless of
        the number of aggregations."""
        fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
               "count": F.count}
        cols = [fns[spec.get("type", "avg")](spec["field"]).alias(name)
                for name, spec in q.aggregations.items()]
        if not cols:
            return {}
        release_handles = None
        if matched is None:
            _, idx = self._live(index)
            matched, handles = self._matches_with_docs(idx, q)
            release_handles = (idx, handles)
            matched = self._with_geo(idx, matched, q)
        try:
            row = matched.agg(*cols).collect()[0]
        finally:
            if release_handles is not None:
                release_handles[0].release(release_handles[1])
        return {name: {"value": row[name]} for name in q.aggregations}

    def suggest(self, index: str, query_text: str) -> Optional[dict]:
        """Z10: 'did you mean' over the index vocabulary."""
        from .analyzer import analyze
        toks = analyze(query_text)
        if not toks:
            return None
        return self.corrector(index).suggest(toks)

    def get_document(self, index: str, conv_id: str, turn_idx: int) -> Optional[dict]:
        """S13: point lookup by document identity."""
        _, idx = self._live(index)
        rows = (idx._docs.where((F.col("conv_id") == conv_id)
                                & (F.col("turn_idx") == turn_idx))
                .limit(1).collect())
        if not rows:
            return None
        d = rows[0].asDict(recursive=True)
        d.pop("tokens", None)
        return d

    # -- stats / catalog (A5, S11) --------------------------------------------

    def get_stats(self, index: str) -> dict:
        _, idx = self._live(index)
        by_role = {r[0]: r[1] for r in
                   idx._docs.groupBy("role").count().collect()}
        return {
            "document_count": idx.n_docs,
            "avgdl": idx.avgdl,
            "vocabulary_size": idx._term_stats.count(),
            "by_role": by_role,
            "index_dir": idx.index_dir,
        }

    def list_indices(self) -> list[str]:
        return sorted(self.indexes)

    # -- multi-index (J3) ------------------------------------------------------

    def search_multiple(self, indices: list[str], q: SearchQuery | str,
                        k: int | None = None) -> DataFrame:
        """Search several indexes, tag _index, merge by score
        (reference: src/Storage/SqliteStorage.php:1574-1628).

        Scale path (round 6): the global top-k over shards is contained
        in the union of per-shard top-k's, so each unfiltered shard goes
        through ``SearchIndex.search`` — the same cost-gated block-max
        pruned tier single-index serving uses — and only k rows per
        shard reach the merge. BM25 stats stay per-index (the
        reference scores each index independently). Filtered queries
        keep the exact per-shard merge: a filter can exclude the whole
        per-shard top-k, so shard-local pruning is unsound there."""
        if isinstance(q, str):
            q = SearchQuery(query=q)
        k_eff = k or q.limit
        parts = []
        for name in indices:
            _, idx = self._live(name)
            # reference searchMultiple delegates the FULL query options to
            # each per-index search (SqliteStorage.php:1584-1597), so
            # field weights apply per index — multi-field shards score
            # bm25(fts, w…), single-field shards ignore the boosts
            w = q.boost_fields \
                if q.boost_fields and len(idx.fields) > 1 else None
            if q.filters:
                node = parse_query(q.query)
                scores = idx.match_scores(node, weights=w)
                docs = apply_filters(idx._docs, q.filters)
                part = docs.join(scores, "doc_id")
            else:
                part = idx.search(q.query, k=k_eff, with_docs=True,
                                  weights=w)
            parts.append(part.withColumn("_index", F.lit(name)))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p, allowMissingColumns=True)
        return (merged.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k_eff))
