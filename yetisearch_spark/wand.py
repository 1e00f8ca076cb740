"""Block-max pruned top-k serving (the WAND idea, Spark-first).

Classic block-max WAND walks posting lists with a global heap. The
Spark-native equivalent is a two-phase plan over the block-partitioned
index:

  phase 1 (metadata only): read just the per-block metadata columns
  (term, min_doc, max_doc, n_docs, block_max_norm) for the query terms —
  parquet column pruning means the `data` bytes are never touched.
  Compute per-block score upper bounds (idf · block_max) and derive the
  set of blocks that can possibly contribute to the top-k (exact, not
  heuristic — see per-shape rules below).

  phase 2: decode ONLY the surviving blocks, one frame per term. Below
  the driver cap the concrete block keys push into the parquet scan as
  literal min_doc predicates (the files are sorted by (term, salt,
  min_doc), so row-group stats skip the unread data bytes on disk);
  above it the survivor set reaches the scan as a (term, min_doc)
  broadcast semi-join plus an O(1)-row envelope predicate — block
  METADATA is never driver-materialized above the cap. The match
  tables built from those frames are scored by SearchIndex._score, the
  exact tier's one BM25 slot scorer, so pruned == exact by construction
  of the scoring expressions.

Phase 1 has two implementations, chosen by a block-count estimate that
is derived driver-side from term_stats (df / block_size — zero jobs):

  * driver selection (estimated blocks ≤ driver_cap, default 50k): the
    exact small-scale algorithms below run on collected metadata. The
    cap bounds driver memory to a few MB.
  * Spark selection (above the cap — head terms at 10^12 docs have
    ~10^8 blocks): selection itself is a Spark plan.
      - single term: s_k ≥ idf·θ where θ = k-th largest block_max
        (every block's max is attained by a distinct doc, blocks of one
        term partition its docs), so blocks with block_max < θ cannot
        hold a top-k doc. θ comes from orderBy+limit(k)+agg — a
        TakeOrderedAndProject, no global window, no collect.
      - OR of terms: θ = (k·T)-th largest ub guarantees s_k ≥ θ
        (k·T selected blocks cover ≥ k distinct docs); any doc whose
        every block has ub < θ/T scores < θ ≤ s_k. Select
        S0 = {ub ≥ θ/T}, then pull in every block range-overlapping an
        S0 block so partially-covered top-k docs score exactly
        (a top-k doc has ≥1 block in S0, and its other blocks overlap
        that block's doc range). Pull-in is a broadcast range join
        against the small S0 range list.
      - AND of terms: candidates live in the rarest term's blocks; the
        rare term keeps ALL its blocks (a term-equality predicate, no
        block list at all) and other terms keep blocks overlapping a
        rare range (broadcast range join). If even the rare term's
        block list is too large to broadcast, pruning degrades to
        decoding all blocks of the query terms — still exact, still no
        driver collect (at that density block pruning buys little
        anyway).

Phrases and NEAR prune with the AND rule over their constituents, and
an OR mixing terms, phrases and NEARs with the weighted rule
(_wor_plan). Anything else (NOT, prefixes, nested booleans) falls back
to the exact full path in query.SearchIndex.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .query import (_DECODED_SCHEMA, And, Near, Or, Phrase, SearchIndex,
                    _collect_slots, _unique_nears, _unique_phraselike,
                    decode_plan, parse_query)
from .xxhash64 import bucket_of

#: phase-1 metadata rows the driver may collect (≈ a few MB)
DRIVER_CAP = 50_000
#: block ranges we are willing to broadcast for the range-overlap join
RANGE_BCAST_CAP = 200_000
#: tombstoned docs above which the pruned tier yields to the exact path
#: (the block-max override recomputation broadcasts the victims'
#: (term, doc) pairs — bounded memory only while deletes are bounded)
OVERRIDES_TOMB_CAP = 1_000_000
#: exact-total count plan (OR / weighted-OR): above this many ESTIMATED
#: candidate docs in the non-head slots, the head-block membership probe
#: (a broadcast nested-loop block join, O(head_blocks × candidates)) is
#: no longer a clear win — the count falls back to one distinct count
#: over full light decodes, still the position-free (~6× cheaper) side
#: of the exact path
COUNT_PROBE_CAP = 50_000
#: cost gate: below this many estimated blocks the exact path (which
#: reuses the pinned decoded-postings cache and runs zero planning jobs)
#: beats pruning — phase 1 pays a metadata job the exact path never
#: does, and at small block counts there is nothing worth skipping.
#: The per-k term scales the floor with deeper result pages (a larger k
#: weakens the pruning threshold θ, so more blocks survive anyway).
GATE_MIN_BLOCKS = 10_000
GATE_BLOCKS_PER_K = 200


def _is_simple(node) -> tuple[bool, list[str], str]:
    """(supported, terms, shape) — shape ∈ {single, and, or, phrase,
    near}. For phrase/near, ``terms`` are the CONSTITUENT terms (the
    AND rule prunes on them: candidates must contain every constituent;
    positions for a candidate live in exactly one block per term, so the
    surviving blocks carry complete position data and phase 2 is exact).
    NEAR engages only with single-term members — their slot idfs come
    free from term stats; multi-term members would need standalone
    phrase-df jobs over unpruned frames."""
    if isinstance(node, Phrase):
        if len(node.terms) == 1:
            return True, [node.terms[0]], "single"
        return True, list(node.terms), "phrase"
    if isinstance(node, Near) and all(
            isinstance(p, Phrase) and len(p.terms) == 1
            for p in node.phrases):
        return True, [p.terms[0] for p in node.phrases], "near"
    if isinstance(node, And) and all(
            isinstance(c, Phrase) and len(c.terms) == 1 for c in node.children):
        return True, [c.terms[0] for c in node.children], "and"
    if isinstance(node, Or):
        if all(isinstance(c, Phrase) and len(c.terms) == 1
               for c in node.children):
            return True, [c.terms[0] for c in node.children], "or"
        # weighted OR ("wor"): the combined-fuzzy family (M7) — an OR
        # mixing bare terms, multi-term phrases and NEARs (single-term
        # members). Constituent terms of every child; _wor_slots builds
        # the per-slot bound assignment.
        def _ok_child(c):
            if isinstance(c, Phrase):
                return True
            if isinstance(c, Near):
                return all(isinstance(p, Phrase) and len(p.terms) == 1
                           for p in c.phrases)
            return False
        if all(_ok_child(c) for c in node.children):
            terms = []
            for c in node.children:
                if isinstance(c, Phrase):
                    terms.extend(c.terms)
                else:
                    terms.extend(p.terms[0] for p in c.phrases)
            return True, terms, "wor"
    return False, [], ""


def _wor_plan(node, stats, index: SearchIndex) -> dict:
    """Bound/weight plan for the weighted-OR shape (M7's combined-fuzzy
    family). Every scoring slot is assigned ONE bounding constituent
    term: a bare-term slot bounds by its own term; a multi-term phrase
    slot by its rarest constituent (phrase tf ≤ any constituent tf, and
    bm25_norm is monotone in tf); a NEAR member slot by its member term
    (the trimmed tf ≤ the member's full tf). Summing slot idfs per
    assigned term gives per-term weights w_t with

        score(doc) = Σ_slots contrib ≤ Σ_t w_t · norm_ub(doc's t-block),

    so a doc whose every block satisfies w_t·ub < θ/T cannot reach θ
    (≤ T weighted terms per doc). θ itself comes from the ATTAINED
    bounds of bare-term slots only (a phrase/NEAR slot's block lb is
    attained by the term, not necessarily by the slot)."""
    slots = []
    need_pos = False
    for c in node.children:
        if isinstance(c, Phrase) and len(c.terms) == 1:
            t = c.terms[0]
            df = stats.get(t, (0, 0))[0]
            slots.append({"kind": "single", "node": c, "term": t,
                          "idf": index.idf(df) if df else None})
        elif isinstance(c, Phrase):
            live = all(t in stats for t in c.terms)
            df_ph = index._df_count_cache.get(("ph", c.terms)) if live \
                else 0
            if live and df_ph:
                need_pos = True
                rare = min(c.terms, key=lambda t: stats[t][0])
                slots.append({"kind": "phrase", "node": c, "term": rare,
                              "idf": index.idf(df_ph)})
            else:
                slots.append({"kind": "phrase", "node": c, "term": None,
                              "idf": None})
        else:  # Near of single-term members
            live = all(p.terms[0] in stats for p in c.phrases)
            if live:
                need_pos = True
            for m, p in enumerate(c.phrases):
                t = p.terms[0]
                slots.append({"kind": "near", "node": c, "member": m,
                              "term": t if live else None,
                              "idf": index.idf(stats[t][0]) if live
                              else None})
    weights: dict[str, float] = {}
    live_slots = 0
    for s in slots:
        if s["term"] is not None and s["idf"] is not None:
            weights[s["term"]] = weights.get(s["term"], 0.0) + s["idf"]
            live_slots += 1
    return {"slots": slots, "weights": weights, "live_slots": live_slots,
            "need_pos": need_pos}


def _count_estimate(index: SearchIndex, node, shape: str,
                    stats: dict) -> int:
    """Zero-job upper bound on the OR / weighted-OR match count: the sum
    of per-slot dfs (bare term df; cached standalone phrase df; NEAR
    bounded by its rarest member), capped at n_docs. Backs the engine's
    ``total_mode: estimate`` policy — a documented divergence from the
    reference's exact per-search count."""
    est = 0
    if shape == "or":
        est = sum(stats[c.terms[0]][0]
                  for c in dict.fromkeys(node.children)
                  if c.terms[0] in stats)
    else:
        for c in dict.fromkeys(node.children):
            if isinstance(c, Phrase) and len(c.terms) == 1:
                if c.terms[0] in stats:
                    est += stats[c.terms[0]][0]
            elif isinstance(c, Phrase):
                if all(t in stats for t in c.terms):
                    est += int(index._df_count_cache.get(("ph", c.terms))
                               or 0)
            elif isinstance(c, Near):
                if all(p.terms[0] in stats for p in c.phrases):
                    est += min(stats[p.terms[0]][0] for p in c.phrases)
    return min(int(est), int(index.n_docs))


def _probe_term_members(index: SearchIndex, term: str,
                        cand: DataFrame) -> DataFrame:
    """doc_ids among ``cand`` that contain ``term``, decoding ONLY the
    term's blocks whose doc range covers a candidate: block metadata
    (min_doc/max_doc) joins the broadcast candidate set — at skew this
    decodes O(|cand|) blocks instead of O(df) (the head term's full
    light decode IS the cost of a naive union count). The output may
    contain extra docs from partially-covered blocks — callers only use
    it to REMOVE cand rows (anti-join), so a superset is exact."""
    scan = (index._postings
            .where(F.col("bucket") == bucket_of(term, index.num_buckets))
            .where(F.col("term") == term))
    hit = scan.join(F.broadcast(cand),
                    (F.col("doc_id") >= F.col("min_doc"))
                    & (F.col("doc_id") <= F.col("max_doc")), "left_semi")
    dec = decode_plan(hit, False)
    # no tombstone filter: a hidden doc is never in cand, so it cannot
    # be removed by the anti-join
    return dec.select("doc_id")


def _exact_count_thunk(index: SearchIndex, node, shape: str, stats: dict):
    """Builder for the EXACT result total of a pruned OR / weighted-OR
    page (the pruned scored frame is top-k-exact but NOT count-complete:
    docs whose every block fell below θ are absent).

    Returns a zero-argument callable → (count_frame, base) with

        total = base + count(count_frame)      (frame None → total = base)

    The plan never fully decodes the BIGGEST bare-term slot (the head —
    at skew, virtually the whole cost of the match set): its df is the
    free ``base`` (term stats are delete-exact), and the union of the
    remaining slots' doc sets — light decodes for bare terms, the
    complete pruned positional tables for phrase/NEAR slots — is
    anti-joined against a block-probed head membership set
    (_probe_term_members). Candidate size is bounded by COUNT_PROBE_CAP
    (estimated from dfs, zero jobs); above it the plan is one distinct
    count over full light decodes. A head whose light frame is already
    pinned (warm() prefill / prior queries) skips the probe and
    anti-joins the in-memory frame directly.

    Reference parity: the reference runs a full storage COUNT per search
    (src/Search/SearchEngine.php:207) — this is that count, priced for
    10^12 docs."""

    def thunk():
        bare: dict[str, int] = {}
        pos_parts: list[tuple[int, DataFrame]] = []
        if shape == "or":
            for c in dict.fromkeys(node.children):
                t = c.terms[0]
                if t in stats:
                    bare[t] = stats[t][0]
        else:
            # bare slots first: a phrase/NEAR slot whose ANY constituent
            # is also a bare slot (or the head) is REDUNDANT in the count
            # union — its matches all contain that constituent, so they
            # are covered by the constituent's full light decode (or, for
            # the head, excluded by the anti-join and already in `base`).
            # Dropping them keeps the count exact and skips the
            # positional slot builds entirely on the common M7 shape
            # (phrase/NEAR over the same terms as the bare slots).
            for c in dict.fromkeys(node.children):
                if isinstance(c, Phrase) and len(c.terms) == 1 \
                        and c.terms[0] in stats:
                    bare[c.terms[0]] = stats[c.terms[0]][0]
            for c in dict.fromkeys(node.children):
                if isinstance(c, Phrase) and len(c.terms) == 1:
                    pass
                elif isinstance(c, Phrase):
                    if not all(t in stats for t in c.terms):
                        continue
                    if any(t in bare for t in c.terms):
                        continue  # covered by a bare slot / the head
                    df_ph = index._df_count_cache.get(("ph", c.terms))
                    if not df_ph:
                        continue  # dead slot matches nothing
                    tbl = index._match_cache.get(("ph", c.terms))
                    if tbl is None:
                        # count-complete rebuild (advice r6: the θ-pruned
                        # wor frames may be missing matches whose every
                        # block fell below θ). The pruned PHRASE route's
                        # AND-rule frames are the complete match set, so
                        # its scored frame's doc set is count-exact and
                        # never needs the full positional head decode.
                        sub, sinfo = pruned_scored(index, c, 1,
                                                   gate_blocks=0)
                        if sub is not None and sinfo.get("count_exact"):
                            tbl = sub
                        else:
                            tbl = index._phrase_match(c)
                    pos_parts.append((int(df_ph), tbl.select("doc_id")))
                elif isinstance(c, Near):
                    if not all(p.terms[0] in stats for p in c.phrases):
                        continue  # an OOV member kills the whole NEAR
                    if any(p.terms[0] in bare for p in c.phrases):
                        continue  # covered by a bare slot / the head
                    est = min(stats[p.terms[0]][0] for p in c.phrases)
                    # count-complete NEAR doc set (advice r6 HIGH: the
                    # θ-pruned wor member frames can drop a NEAR-only
                    # match whose blocks fell below θ — the count must
                    # come from complete member frames). A cached
                    # complete NEAR table serves directly; otherwise the
                    # pruned NEAR route's AND-rule frames (complete for
                    # the match set, bounded by the rarest member's
                    # ranges) build it without a full head decode.
                    ntbl = index._match_cache.get(
                        ("nr", tuple(p.terms for p in c.phrases),
                         c.distance, None))
                    if ntbl is None:
                        sub, sinfo = pruned_scored(index, c, 1,
                                                   gate_blocks=0)
                        if sub is not None and sinfo.get("count_exact"):
                            ntbl = sub
                        else:
                            ptables = {p: index._decoded_for_term(
                                p.terms[0], with_positions=True).select(
                                "doc_id", "tf", "doc_len", "positions")
                                for p in set(c.phrases)}
                            ntbl = index._near_table(c, ptables)
                    pos_parts.append((int(est), ntbl.select("doc_id")))
        if not bare and not pos_parts:
            return None, 0
        head = max(bare, key=bare.get) if bare else None
        parts = [index._decoded_for_term(t, with_positions=False)
                 .select("doc_id") for t in bare if t != head]
        parts += [f for _, f in pos_parts]
        if not parts:
            return None, int(bare[head])   # single live bare slot

        def union_distinct(ps):
            u = ps[0]
            for p in ps[1:]:
                u = u.unionByName(p)
            return u.dropDuplicates()

        if head is None:
            return union_distinct(parts), 0
        hot_light = ("t", head, False) in index._decoded_cache
        hot = hot_light or ("t", head, True) in index._decoded_cache
        rest_est = sum(df for t, df in bare.items() if t != head) \
            + sum(e for e, _ in pos_parts)
        if rest_est > COUNT_PROBE_CAP and not hot:
            parts.append(index._decoded_for_term(head,
                                                 with_positions=False)
                         .select("doc_id"))
            return union_distinct(parts), 0
        cand = union_distinct(parts)
        if hot:
            members = index._decoded_for_term(
                head, with_positions=not hot_light).select("doc_id")
        else:
            members = _probe_term_members(index, head, cand)
        return cand.join(members, "doc_id", "left_anti"), int(bare[head])

    return thunk


def pruned_topk(index: SearchIndex, query, k: int = 10,
                driver_cap: int = DRIVER_CAP,
                gate_blocks: int | None = None,
                wvec: tuple | None = None) -> DataFrame:
    """Top-k with block-max pruning; falls back to index.search for
    unsupported shapes. Results are exactly index.search(query, k).

    ``gate_blocks``: cost gate — when the driver-side block estimate
    (df / block_size, zero jobs) is below it, the query routes to the
    exact path instead: pruning pays a phase-1 metadata job the exact
    path never runs, and with few blocks there is nothing to skip.
    None → max(GATE_MIN_BLOCKS, GATE_BLOCKS_PER_K·k); 0 → always prune."""
    node = parse_query(query) if isinstance(query, str) else query
    scored, info = pruned_scored(index, node, k, driver_cap=driver_cap,
                                 gate_blocks=gate_blocks, wvec=wvec)
    if scored is None:
        if info.get("reason") == "empty":
            return index.spark.createDataFrame([], "doc_id long, score double")
        return index.search(node, k=k, weights=wvec)
    return (scored.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def pruned_scored(index: SearchIndex, node, k: int,
                  driver_cap: int = DRIVER_CAP,
                  gate_blocks: int | None = None,
                  wvec: tuple | None = None
                  ) -> tuple[DataFrame | None, dict]:
    """Phase-1+2 of the pruned path WITHOUT the final top-k: returns
    (scored, info) where ``scored`` is the pre-limit (doc_id, score)
    frame over the surviving blocks, or None when the query routed to the
    exact path (info["gated"]=True with a reason) or can match nothing
    (info["reason"]="empty").

    The route planner (SearchIndex.route, behind SearchIndex.search and
    Engine.search) consumes this: the top-k page comes from
    ``scored.orderBy(...).limit(k)``, and — for result totals —
    info["total"] is the EXACT match count for shape
    "single" (the term's df: blocks of one term partition its docs), and
    info["count_exact"]=True for shape "and" (the AND rule keeps every
    block that can hold an intersection doc, so counting ``scored`` is
    exact). Flat OR's scored frame is top-k-exact but not count-complete
    (docs whose every block fell below θ are absent) —
    info["count_exact"]=False."""
    ok, terms, shape = _is_simple(node)
    info: dict = {"gated": True}
    if not ok:
        info["reason"] = "shape"
        return None, info
    # per-field BM25 weights (round 6). and/phrase/near: the AND rule
    # selects blocks by doc-range overlap (score-agnostic), so the frame
    # is the COMPLETE match set — decode with positions and reweight,
    # trivially exact. single/or/wor: prune against WEIGHT-SCALED
    # bounds — ub·max(1,w_max) bounds any reweighted doc (contrib is
    # monotone in tf and contrib(w·t) ≤ w·contrib(t) for w ≥ 1),
    # lb·min(1,w_min) stays ATTAINED (contrib(w·t) ≥ w·contrib(t) for
    # w ≤ 1), so θ from scaled lbs certifies the k-th weighted score
    # and scaled-ub pruning is sound; the wor rule composes the scaling
    # per slot (its θ/pruning weights multiply the same scaled lb/ub).
    wscale = None
    if wvec is not None:
        wscale = (min(1.0, min(wvec)), max(1.0, max(wvec)))
    if (getattr(index, "_tomb", None) is not None
            and (not hasattr(index, "_wand_block_overrides")
                 or getattr(index, "_n_tombstoned", 0)
                 > OVERRIDES_TOMB_CAP)):
        # A tombstoned view needs delete-aware bounds: stored block
        # maxima may be attained by hidden docs (θ would overestimate
        # and prune a block holding the true top-k). The serving view
        # (GlobalSegmentedIndex) provides recomputed per-block maxima
        # via _wand_block_overrides + delete-exact phase-2 filtering;
        # any other tombstoned index routes to the exact path — as does
        # a view with MASS deletes (the override computation broadcasts
        # the victims' (term, doc) pairs; above the cap that broadcast
        # would stress executors, and at that delete fraction the bounds
        # are weak anyway — compaction is the answer, not pruning).
        info["reason"] = "tombstones"
        return None, info
    if shape in ("phrase", "near", "wor"):
        # positional shapes prune on UNIQUE constituents (a duplicated
        # constituent reuses the same pruned frame; the positional
        # kernels handle repetition exactly as the exact path does, and
        # the weighted-OR phase 2 is SLOT-keyed, so duplicate children
        # score twice just like FTS5)
        terms = list(dict.fromkeys(terms))
    elif len(set(terms)) != len(terms):
        # duplicate phrase slots ("say OR say") score TWICE in FTS5 (and
        # in the exact path); the pruned phase-2 shapes key per term and
        # would halve them — route to the exact path
        info["reason"] = "duplicate-terms"
        return None, info

    stats = index.term_stats_for(terms)
    if shape in ("and", "phrase", "near") \
            and any(t not in stats for t in terms):
        return None, {"reason": "empty"}
    terms = [t for t in terms if t in stats]
    if not terms:
        return None, {"reason": "empty"}
    idf = {t: index.idf(stats[t][0]) for t in terms}
    block_size = int(index.manifest.get("config", {}).get("block_size", 128))
    est_blocks = {t: max(1, -(-stats[t][0] // block_size)) for t in terms}
    # single-FIELD weighted single/OR never needs positions (a
    # single-term slot folds w0 over tf — SearchIndex._phrase_contrib,
    # bit-equal to the positional tally), so the scaled-bounds selection
    # runs at ANY scale — above the driver cap it is the Spark-path
    # selection, and the no-bite worst case decodes light frames, not
    # positional ones.
    if wscale is not None and shape in ("single", "or", "wor") \
            and (shape == "wor" or index._weights_need_positions(wvec)) \
            and sum(est_blocks.values()) > driver_cap:
        # multi-field (or mixed-slot wor): the scaled bounds' no-bite
        # case would decode EVERYTHING with positions through the Spark
        # selection machinery — at that block count the exact path is
        # never worse; route there (zero jobs spent, est is driver math)
        info["reason"] = "weighted-head"
        return None, info

    wor = None
    if shape == "wor":
        # the weighted-OR rule needs every multi-term phrase child's
        # STANDALONE df for its slot idf — the pruned WOR frames cannot
        # provide it (OR pruning drops docs below θ that still count
        # toward df). A COLD df no longer routes the whole query to the
        # exact path (round-5 verdict order 2): the pruned PHRASE route
        # is count-exact (the AND rule over constituents keeps every
        # candidate block with COMPLETE positions), so the pruned phrase
        # table's count IS the slot df. Fill it through a recursive
        # pruned-phrase call — gate forced: a one-time fill whose table
        # lands in the shared match cache, counted once into the df
        # cache next to the exact path's batched counts. First sight of
        # a phrase-bearing fuzzy query on a fresh replica stays on the
        # pruned path end to end.
        for c in node.children:
            if not (isinstance(c, Phrase) and len(c.terms) > 1):
                continue
            key = ("ph", c.terms)
            if (all(t in stats for t in c.terms)
                    and index._df_count_cache.get(key) is None):
                if not index._cache_postings:
                    # no match cache → the fill's table would be rebuilt
                    # every query; the exact path is the better deal
                    info["reason"] = "cold-phrase-df"
                    return None, info
                sub, sinfo = pruned_scored(index, c, k,
                                           driver_cap=driver_cap,
                                           gate_blocks=0)
                if index._df_count_cache.get(key) is None:
                    if sub is None and sinfo.get("reason") == "empty":
                        index._cache_df(key, 0)
                    else:   # unexpected route — keep the old behavior
                        info["reason"] = "cold-phrase-df"
                        return None, info
        wor = _wor_plan(node, stats, index)
        if wor["live_slots"] == 0:
            return None, {"reason": "empty"}

    # one gate for every shape: the POSITIONAL decode a phrase/NEAR
    # exact path pays is ~6× the light decode per block (true first-run
    # cost at 10M docs: 83s exact vs 0.56s pruned — early measurements
    # that said otherwise were reading Spark's canonical-plan cache, not
    # a cold run), so pruning pays off for positional shapes at least as
    # early as for term shapes
    gate = max(GATE_MIN_BLOCKS, GATE_BLOCKS_PER_K * k) \
        if gate_blocks is None else gate_blocks
    if sum(est_blocks.values()) < gate:
        info["est_blocks"] = sum(est_blocks.values())
        return None, info

    buckets = index._buckets_for_terms(terms)
    meta = index._block_meta(buckets, terms)

    prune_stats = None
    sel_by_term = None
    sel_df = None
    env_range = None
    # phrase/NEAR prune with the AND rule over their constituents;
    # the mixed-slot OR uses the weighted rule
    shape_sel = "and" if shape in ("phrase", "near") else shape
    if sum(est_blocks.values()) <= driver_cap:
        full_terms, selected, meta_counts = _driver_select(
            meta, terms, stats, idf, shape_sel, k, index=index, wor=wor,
            wscale=wscale)
        if not selected and not full_terms:
            return None, {"reason": "empty"}
        # driver selection yields CONCRETE block keys → push them into the
        # parquet scan as literal predicates (postings files are sorted by
        # (term, salt, min_doc), so row-group stats prune the unread
        # blocks' `data` bytes — the IO win, not just the decode win)
        sel_by_term = {}
        for (t, mn) in selected:
            sel_by_term.setdefault(t, []).append(mn)
        n_total = sum(meta_counts.values())
        n_sel = len(selected) + sum(meta_counts.get(t, 0)
                                    for t in full_terms)
        prune_stats = {"blocks_total": n_total, "blocks_decoded": n_sel}
    else:
        full_terms, sel_df = _spark_select(meta, terms, idf, est_blocks,
                                           shape_sel, k, wor=wor,
                                           wscale=wscale)
        if shape_sel == "and" and sel_df is not None and full_terms:
            # O(1)-row envelope of the rare term's doc ranges, pushed into
            # the other terms' scans as literal predicates — postings are
            # sorted by (term, salt, min_doc), so row-group stats skip the
            # unread data bytes on disk. The precise broadcast range
            # semi-join still applies on what survives; this only bounds
            # the IO. (A single aggregated row, not block metadata — the
            # no-metadata-collect property of the Spark phase-1 holds.)
            rare = full_terms[0]
            env = (meta.where(F.col("term") == rare)
                   .agg(F.min("min_doc").alias("lo"),
                        F.max("max_doc").alias("hi")).collect()[0])
            if env["lo"] is not None:
                env_range = (int(env["lo"]), int(env["hi"]))

    # ONE frame per term — each posting scan executes exactly once per
    # query (a per-term .where() over a unioned decode would re-run the
    # whole scan+semi-join branch once per term; MapInPandas subtrees
    # never hit ReusedExchange)
    ISIN_CAP = 2048  # literal min_doc lists beyond this go via semi-join
    # positional kernels downstream? (phrase/NEAR slots, and field
    # weights that read positions — SearchIndex._weights_need_positions,
    # the exact tier's test)
    need_pos = shape in ("phrase", "near") \
        or index._weights_need_positions(wvec) \
        or (wor is not None and wor["need_pos"])

    def term_frame(t: str) -> DataFrame:
        if t in full_terms:
            # keep-all-blocks terms reuse the hot per-term decoded cache
            # (the exact path's pinned frames): no re-scan, no re-decode;
            # positions only when a positional kernel consumes them
            dec = index._decoded_for_term(t, with_positions=need_pos)
            if need_pos:
                return dec.select("term", "doc_id", "tf", "doc_len",
                                  "positions")
            return dec.select(
                "term", "doc_id", "tf", "doc_len",
                F.lit(None).cast("array<int>").alias("positions"))
        scan = (index._postings
                .where(F.col("bucket") == bucket_of(t, index.num_buckets))
                .where(F.col("term") == t))
        if sel_by_term is not None:
            mins = sorted(sel_by_term.get(t, []))
            if not mins:
                return index.spark.createDataFrame(
                    index.spark.sparkContext.emptyRDD(), _DECODED_SCHEMA)
            if len(mins) <= ISIN_CAP:
                # exact pushable predicate — parquet skips the pruned
                # blocks' row groups entirely
                scan = scan.where(F.col("min_doc").isin(mins))
            else:
                # envelope range pushes down; the broadcast semi-join
                # applies the exact selection on what survives
                scan = scan.where(F.col("min_doc")
                                  .between(mins[0], mins[-1]))
                sel_t = F.broadcast(index.spark.createDataFrame(
                    [(t, m) for m in mins], "term string, min_doc long"))
                scan = scan.join(sel_t, ["term", "min_doc"], "left_semi")
        elif sel_df is not None:
            if env_range is not None:
                scan = scan.where((F.col("min_doc") <= env_range[1])
                                  & (F.col("max_doc") >= env_range[0]))
            scan = scan.join(F.broadcast(sel_df.where(F.col("term") == t)),
                             ["term", "min_doc"], "left_semi")
        dec = decode_plan(scan, need_pos)
        if getattr(index, "_tomb", None) is not None:
            # delete-exact phase 2 (mirrors _decoded_for_term's filter)
            dec = dec.join(index._tomb.select("doc_id"), "doc_id",
                           "left_anti")
        return dec

    frames = {t: term_frame(t) for t in terms}

    # phase 2: the slot tables of the query tree, built from the pruned
    # frames and scored by the exact tier's scorer, SearchIndex._score —
    # same contributions, slot-order accumulation and join-or-aggregate
    # choice, with copart=False (pruned frames are never co-partitioned,
    # so a flat AND broadcasts its rarer sides into the largest):
    #   bare term — the term's pruned frame IS the slot table
    #   phrase — the exact positional kernel (_phrase_match) over the
    #            pruned frames. The phrase shape's table IS the complete
    #            phrase table (the AND rule keeps every candidate block
    #            with complete positions), so its count is the exact
    #            standalone df for the slot idf AND the exact result
    #            total; a weighted-OR phrase slot reads the df filled
    #            before phase 1
    #   near   — the exact NEAR trim kernel over the pruned member
    #            frames; member idfs come free from term stats
    # A dead weighted-OR slot (OOV constituent, zero-df phrase) gets no
    # table, so it emits no row — as in the exact tier, where its table
    # is empty.
    slots: list = []
    _collect_slots(node, slots)
    phrase_df: dict = {}
    for p in _unique_phraselike(node):
        if len(p.terms) == 1:
            phrase_df[p] = stats.get(p.terms[0], (0, 0))[0]
        elif all(t in stats for t in p.terms):
            phrase_df[p] = index._df_count_cache.get(("ph", p.terms)) or 0
        else:
            phrase_df[p] = 0
    out_info = {"gated": False, "shape": shape, "prune_stats": prune_stats,
                "count_exact": shape not in ("or", "wor")}
    if shape == "phrase":
        key = ("ph", node.terms)
        tbl = index._match_cache.get(key) if index._cache_postings else None
        if tbl is None:
            tbl = index._phrase_match(node, frames=frames).persist()
            if index._cache_postings:
                index._lru_put(index._match_cache, key, tbl)
            else:
                index._register_handles([tbl])
        if key not in index._df_count_cache:
            phrase_df[node] = int(tbl.count())
            index._cache_df(key, phrase_df[node])
        if not phrase_df[node]:
            return None, {"reason": "empty"}
        out_info["total"] = phrase_df[node]
        phrase_tables = {node: tbl}
    else:
        if shape == "wor":
            _persist_shared(index, frames, slots, phrase_df, out_info)
        phrase_tables = {p: (frames[p.terms[0]] if len(p.terms) == 1
                             else index._phrase_match(p, frames=frames))
                         for p, df in phrase_df.items() if df}
    # wvec: the trim kernel emits field-weighted tf_m, as on the exact tier
    near_tables = {nr: index._near_table(
        nr, {p: frames[p.terms[0]] for p in set(nr.phrases)}, wvec)
        for nr in _unique_nears(node)
        if all(phrase_df[p] for p in nr.phrases)}
    if shape == "single":
        out_info["total"] = int(stats[terms[0]][0])
    elif shape in ("or", "wor"):
        out_info["exact_count"] = _exact_count_thunk(index, node, shape, stats)
        out_info["total_estimate"] = _count_estimate(index, node, shape,
                                                     stats)
    # tombstoned views were routed to the exact path above (the score
    # bounds are deletion-unsafe), so phase-2 never sees hidden docs
    return index._score(node, slots, phrase_tables, phrase_df, near_tables,
                        wvec, copart=False), out_info


def _persist_shared(index: SearchIndex, frames: dict, slots: list,
                    phrase_df: dict, info: dict) -> None:
    """Weighted-OR phase 2: persist the pruned frame of a term that
    several live slots read, so its scan+decode runs once, not once per
    branch; the handles ride back in ``info`` for release (the bounded
    handle registry otherwise)."""
    use_count: dict[str, int] = {}
    for s in slots:
        p = s[1] if s[0] == "phrase" else s[1].phrases[s[2]]
        if phrase_df[p] and (s[0] == "phrase"
                             or all(phrase_df[m] for m in s[1].phrases)):
            for t in set(p.terms):
                use_count[t] = use_count.get(t, 0) + 1
    handles = []
    for t, n_use in use_count.items():
        if n_use > 1:
            frames[t] = frames[t].persist()
            handles.append(frames[t])
    if handles:
        index._register_handles(handles)
    info["handles"] = handles


# ---------------------------------------------------------------------------
# driver-side selection (small metadata; bounded by driver_cap)
# ---------------------------------------------------------------------------

def _driver_select(meta: DataFrame, terms, stats, idf, shape, k,
                   index: SearchIndex | None = None, wor: dict | None = None,
                   wscale: tuple[float, float] | None = None):
    """Collect ≤ driver_cap metadata rows and run the exact selection
    algorithms locally; per-term metadata is memoized on the index (hot
    serving: repeated terms skip the metadata job entirely).
    → (full_terms, selected {(term, min_doc)}, per-term block counts)."""
    cache = getattr(index, "_block_meta_cache", None) if index is not None \
        else None
    if cache is None and index is not None:
        cache = index._block_meta_cache = {}  # type: ignore[attr-defined]
    by_term: dict[str, list] = {}
    missing = [t for t in terms if cache is None or t not in cache]
    if missing:
        rows = meta.where(F.col("term").isin(missing)).collect()
        fresh: dict[str, list] = {t: [] for t in missing}
        for r in rows:
            fresh[r["term"]].append((r["min_doc"], r["max_doc"],
                                     r["n_docs"], r["bmax_ub"],
                                     r["bmax_lb"]))
        if cache is not None:
            cache.update(fresh)
            while len(cache) > 4096:  # bound driver memory
                cache.pop(next(iter(cache)))
        by_term.update(fresh)
    if cache is not None:
        for t in terms:
            if t not in by_term:
                by_term[t] = cache[t]
    by_term = {t: by_term.get(t, []) for t in terms}
    meta_counts = {t: len(v) for t, v in by_term.items()}
    if wscale is not None:
        # field-weighted query: scale ub by max(1, w_max) (bounds every
        # reweighted doc) and lb by min(1, w_min) (stays attained) —
        # LOCAL copies only; the per-term metadata cache keeps raw values
        w_lo, w_hi = wscale
        by_term = {t: [(mn, mx, nd, ub * w_hi, lb * w_lo)
                       for (mn, mx, nd, ub, lb) in v]
                   for t, v in by_term.items()}
    if not any(by_term.values()):
        return [], set(), meta_counts

    selected: dict[str, set] = {t: set() for t in terms}

    # block tuples are (min_doc, max_doc, n_docs, ub, lb): lb is ATTAINED
    # by a visible doc (→ θ), ub bounds every visible doc (→ pruning)
    if shape == "single":
        # θ = k-th largest attained bound: the k lb-attaining blocks hold
        # ≥ k distinct docs (blocks of one term partition its docs), each
        # scoring ≥ θ·idf; a block with ub < θ cannot hold a top-k doc.
        t = terms[0]
        blocks = by_term[t]
        lbs = sorted((b[4] for b in blocks), reverse=True)
        theta = lbs[k - 1] if len(lbs) >= k else 0.0
        selected[t] = {(b[0], b[1]) for b in blocks if b[3] >= theta}
    elif shape == "and":
        rare = min(terms, key=lambda t: stats.get(t, (0, 0))[0])
        rare_ranges = [(b[0], b[1]) for b in by_term[rare]]
        selected[rare] = set(rare_ranges)
        rr = sorted(rare_ranges)
        rmins = np.array([a for a, _ in rr], dtype=np.int64)
        rmaxs = np.array([b for _, b in rr], dtype=np.int64)
        for t in terms:
            if t == rare:
                continue
            for (mn, mx, nd, ub, lb) in by_term[t]:
                # overlap with any rare block range?
                j = np.searchsorted(rmins, mx, side="right")
                if j > 0 and rmaxs[:j].max(initial=-1) >= mn:
                    selected[t].add((mn, mx))
    elif shape == "wor":
        # weighted OR (see _wor_plan): θ from the bare-term slots'
        # attained bounds; prune blocks with w_t·ub < θ/T
        T = max(1, wor["live_slots"])
        singles = [(s["term"], s["idf"]) for s in wor["slots"]
                   if s["kind"] == "single" and s["idf"] is not None]
        all_lb = sorted((si * b[4] for (t, si) in singles
                         for b in by_term.get(t, [])), reverse=True)
        theta = all_lb[k * T - 1] if len(all_lb) >= k * T else 0.0
        w = wor["weights"]
        for t in terms:
            for b in by_term[t]:
                if theta == 0.0 or w.get(t, 0.0) * b[3] >= theta / T:
                    selected[t].add((b[0], b[1]))
        _pull_in_overlaps(terms, by_term, selected)
    else:  # or — WAND sum-threshold, exact
        # θ = guaranteed k-th best score. Each block of one term yields a
        # DISTINCT doc scoring ≥ idf·lb (blocks of a term partition its
        # docs and lb is attained by a visible doc); across T terms a doc
        # may account for ≤ T such bounds, so the (k·T)-th largest lb
        # overall is a certain k-th-doc lower bound. A doc whose every
        # block has ub < θ/T scores < θ ≤ s_k and can be dropped.
        T = len(terms)
        all_lb = sorted((idf[t] * b[4] for t in terms for b in by_term[t]),
                        reverse=True)
        theta = all_lb[k * T - 1] if len(all_lb) >= k * T else 0.0
        for t in terms:
            for b in by_term[t]:
                if theta == 0.0 or idf[t] * b[3] >= theta / T:
                    selected[t].add((b[0], b[1]))
        _pull_in_overlaps(terms, by_term, selected)

    # any term that kept ALL its blocks goes back as a full term: phase 2
    # reuses the plain decode (pinned cache when enabled) instead of the
    # selection semi-join machinery — the AND rarest term always, and
    # single/or/wor terms whose θ pruned nothing (common under gentle
    # weight scaling, where the scaled bounds may not bite)
    full_terms: list = []
    for t in terms:
        if selected[t] and len(selected[t]) == meta_counts.get(t, 0):
            full_terms.append(t)
            selected[t] = set()
    out = {(t, mn) for t in terms for (mn, _mx) in selected[t]}
    return full_terms, out, meta_counts


def _pull_in_overlaps(terms, by_term, selected) -> None:
    """Docs with one selected + one unselected block: pull in unselected
    blocks overlapping any selected range so their score sums stay exact
    (a top-k doc has ≥1 selected block, and its other terms' blocks
    overlap that block's doc range)."""
    sel_ranges = sorted({r for t in terms for r in selected[t]})
    if not sel_ranges:
        return
    smins = np.array([a for a, _ in sel_ranges], dtype=np.int64)
    smaxs = np.array([b for _, b in sel_ranges], dtype=np.int64)
    run_max = np.maximum.accumulate(smaxs)
    for t in terms:
        for (mn, mx, nd, ub, lb) in by_term[t]:
            if (mn, mx) in selected[t]:
                continue
            j = np.searchsorted(smins, mx, side="right")
            if j > 0 and run_max[j - 1] >= mn:
                selected[t].add((mn, mx))


# ---------------------------------------------------------------------------
# Spark-side selection (head terms: metadata never leaves the cluster)
# ---------------------------------------------------------------------------

def _spark_select(meta: DataFrame, terms, idf, est_blocks, shape, k,
                  wor: dict | None = None,
                  wscale: tuple[float, float] | None = None):
    """→ (full_terms, selected_blocks_df[(term, min_doc)] | None).

    Every rule here is a lazy plan; nothing is collected. Thresholds come
    from orderBy+limit+agg (TakeOrderedAndProject — scale-safe) cross-
    joined back as 1-row broadcast frames."""
    T = len(terms)
    if wscale is not None:
        # field-weighted query: sound scaled bounds (see _driver_select);
        # plan-level only, the stored metadata is untouched
        meta = (meta.withColumn("bmax_ub",
                                F.col("bmax_ub") * F.lit(float(wscale[1])))
                .withColumn("bmax_lb",
                            F.col("bmax_lb") * F.lit(float(wscale[0]))))
    if shape == "wor":
        # weighted OR (see _wor_plan): θ from bare-term slots' attained
        # lb bounds; prune on per-term WEIGHTED ub; pull in overlaps
        Ts = float(max(1, wor["live_slots"]))
        singles: dict[str, float] = {}
        for s in wor["slots"]:
            if s["kind"] == "single" and s["idf"] is not None:
                singles[s["term"]] = singles.get(s["term"], 0.0) + s["idf"]
        w_e = None
        for t, wt in wor["weights"].items():
            c = F.when(F.col("term") == t, F.lit(float(wt)))
            w_e = c if w_e is None else w_e.when(F.col("term") == t,
                                                 F.lit(float(wt)))
        if w_e is None:
            return list(terms), None
        s_e = None
        for t, si in singles.items():
            c = F.when(F.col("term") == t, F.lit(float(si)))
            s_e = c if s_e is None else s_e.when(F.col("term") == t,
                                                 F.lit(float(si)))
        scored = meta.withColumn("wub",
                                 F.coalesce(w_e, F.lit(0.0))
                                 * F.col("bmax_ub"))
        kT = k * int(Ts)
        if s_e is None:
            sel0 = scored  # no attained bounds → θ=0 → keep everything
        else:
            slb = scored.withColumn("slb",
                                    F.coalesce(s_e, F.lit(0.0))
                                    * F.col("bmax_lb"))
            theta = (slb.where(F.col("slb") > 0.0).select("slb")
                     .orderBy(F.desc("slb")).limit(kT)
                     .agg(F.min("slb").alias("theta"),
                          F.count(F.lit(1)).alias("n")))
            sel0 = (scored.crossJoin(F.broadcast(theta))
                    .where((F.col("n") < kT)
                           | (F.col("wub") >= F.col("theta") / F.lit(Ts))))
        s0_ranges = sel0.select(F.col("min_doc").alias("rmin"),
                                F.col("max_doc").alias("rmax"))
        pulled = (meta.join(F.broadcast(s0_ranges),
                            (F.col("max_doc") >= F.col("rmin"))
                            & (F.col("min_doc") <= F.col("rmax")),
                            "left_semi")
                  .select("term", "min_doc"))
        sel = (sel0.select("term", "min_doc").unionByName(pulled)
               .dropDuplicates(["term", "min_doc"]))
        return [], sel
    if shape == "single":
        # θ from the top-k ATTAINED bounds (lb); prune on ub ≥ θ
        theta = (meta.select("bmax_lb")
                 .orderBy(F.desc("bmax_lb")).limit(k)
                 .agg(F.min("bmax_lb").alias("theta"),
                      F.count(F.lit(1)).alias("n")))
        sel = (meta.crossJoin(F.broadcast(theta))
               .where((F.col("n") < k)
                      | (F.col("bmax_ub") >= F.col("theta")))
               .select("term", "min_doc"))
        return [], sel

    if shape == "and":
        rare = min(terms, key=lambda t: est_blocks[t])
        if est_blocks[rare] > RANGE_BCAST_CAP:
            # both sides too dense for a broadcast range join — decode all
            # blocks of the query terms (exact; pruning buys ~nothing here)
            return list(terms), None
        rare_ranges = (meta.where(F.col("term") == rare)
                       .select(F.col("min_doc").alias("rmin"),
                               F.col("max_doc").alias("rmax")))
        others = (meta.where(F.col("term") != rare)
                  .join(F.broadcast(rare_ranges),
                        (F.col("max_doc") >= F.col("rmin"))
                        & (F.col("min_doc") <= F.col("rmax")),
                        "left_semi")
                  .select("term", "min_doc"))
        return [rare], others

    # shape == "or"
    idf_e = F.when(F.col("term") == terms[0], F.lit(idf[terms[0]]))
    for t in terms[1:]:
        idf_e = idf_e.when(F.col("term") == t, F.lit(idf[t]))
    scored = (meta.withColumn("ub", idf_e * F.col("bmax_ub"))
              .withColumn("lb", idf_e * F.col("bmax_lb")))
    # θ = (k·T)-th largest ATTAINED bound; prune docs whose every block
    # has ub < θ/T (see _driver_select's or-rule for the soundness note)
    theta = (scored.select("lb").orderBy(F.desc("lb")).limit(k * T)
             .agg(F.min("lb").alias("theta"), F.count(F.lit(1)).alias("n")))
    s0 = (scored.crossJoin(F.broadcast(theta))
          .where((F.col("n") < k * T)
                 | (F.col("ub") >= F.col("theta") / F.lit(float(T)))))
    s0_ranges = s0.select(F.col("min_doc").alias("rmin"),
                          F.col("max_doc").alias("rmax"))
    pulled = (scored.join(F.broadcast(s0_ranges),
                          (F.col("max_doc") >= F.col("rmin"))
                          & (F.col("min_doc") <= F.col("rmax")),
                          "left_semi")
              .select("term", "min_doc"))
    sel = (s0.select("term", "min_doc").unionByName(pulled)
           .dropDuplicates(["term", "min_doc"]))
    return [], sel


