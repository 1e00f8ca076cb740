"""The benchmark's workloads and the traced run's per-layer probes.

Load shape: one driver process on local[nproc] and one client in a closed
loop: each call returns before the next is sent. Every timed call is
checked against ``checker``; checking happens outside the timed calls and
its time is excluded from ``setup_s``.
"""

import os
import statistics
import time

import numpy as np

from yetisearch_spark.oracle import Fts5Oracle

from . import box, checker, inputs
from .trace import Tracer

LIMIT = 10
#: whole passes over the pool every timed loop runs, however long they
#: take: serve_cold's slowest shape then gives its p90 three samples
MIN_PASSES = 3

#: serve_hot query shapes, one seeded query each: a pool small enough
#: that every decoded term and page plan stays cached
HOT_KINDS = ("single", "and", "or", "phrase", "near", "prefix", "filter",
             "weighted_and", "fuzzy")
#: shapes the traced run's layer probes time one by one
PROBE_KINDS = ("single", "and", "or", "phrase", "near", "prefix")

OPERATORS = ("bm25_topk", "term_stats", "phrase_count", "dedup_rollup",
             "filter_ops", "events_window", "exact_dedup", "token_count",
             "ann_cosine_topk", "tpch_q1")

SIZES = {
    # corpus turns; turns per appended segment and doc_ids deleted per
    # round in the streaming probe; analyzer sample
    "full": {"turns": 10_000, "seg_turns": 2_000, "deletes": 100,
             "analyzer_texts": 10_000},
    "smoke": {"turns": 600, "seg_turns": 150, "deletes": 5,
              "analyzer_texts": 500},
}


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, int(np.ceil(p / 100.0 * len(s))) - 1)]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Run:
    """State of one benchmark run: session, tracer, checks, metrics."""

    def __init__(self, root: str, work: str, seed: int, seconds: float,
                 traced: bool, smoke: bool):
        self.work, self.seed = work, seed
        self.seconds, self.traced = seconds, traced
        self.size = SIZES["smoke" if smoke else "full"]
        self.text_bytes = 0          # raw bytes of the indexed fields
        self.t_start = time.perf_counter()
        self.excluded = 0.0          # checker time inside set-up
        self.spark = box.start_spark(root, work, traced)
        self.tracer = Tracer(self.spark.sparkContext, traced)
        self.attempted = 0
        self.failures: list[dict] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.saved_inputs: dict = {"seed": seed}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def seed_for(self, stream: str) -> int:
        return int(inputs.rng_for(self.seed, stream).integers(1, 2 ** 31))

    def excluding(self, fn, *args, **kw):
        """Call fn outside the measured set-up time (oracle work)."""
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.excluded += time.perf_counter() - t0

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t_start - self.excluded

    def check(self, what: str, err: str) -> None:
        self.attempted += 1
        if err:
            self.failures.append({"op": what, "error": err})

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # a failing call is a measured outcome
            self.attempted += 1
            self.failures.append({"op": what, "error": repr(e)[:500]})
            return None


def search_query(q: dict):
    from yetisearch_spark.engine import SearchQuery

    filters = ([{"field": "role", "operator": "=", "value": q["role"]}]
               if q.get("role") else [])
    return SearchQuery(query=q["text"], limit=LIMIT, bypass_cache=True,
                       fuzzy=bool(q.get("fuzzy")), filters=filters,
                       boost_fields=dict(q.get("boost") or {}))


def timed_search(run: Run, eng, q: dict, kind: str = "search"):
    """One Engine.search under a span → (result or None, seconds)."""
    sq = search_query(q)
    with run.tracer.span(kind, q["kind"]):
        t0 = time.perf_counter()
        out = run.attempt(f"search {q['text']!r}",
                          lambda: eng.search("main", sq))
        dt = time.perf_counter() - t0
    return out, dt


def build_metrics(manifest: dict, prefix: str) -> dict:
    st = manifest["stages"]
    return {f"build.{prefix}docs_s": float(st["docs"]["wall_s"]),
            f"build.{prefix}postings_s": float(st["postings"]["wall_s"]),
            f"build.{prefix}term_stats_s": float(st["term_stats"]["wall_s"])}


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------

def build_fixture(run: Run, fields, **build_kw):
    """Seeded corpus → fresh index, timed as the workload's write; the
    first build in the process also pays JVM and Python-worker warm-up.
    → (index dir, oracle over it)."""
    from yetisearch_spark.build import build_index

    spark, n = run.spark, run.size["turns"]
    corpus, ix = run.path("corpus"), run.path("index")
    title = "title" in fields
    skew = "block_size" in build_kw
    inputs.write_transcripts(corpus, n, run.seed_for("corpus"), "conv_",
                             title=title, skew=skew)
    run.saved_inputs["corpus"] = {"turns": n, "seed": run.seed_for("corpus"),
                                  "fields": list(fields), "skew": skew}
    with run.tracer.span("build"):
        t0 = time.perf_counter()
        manifest = build_index(spark, spark.read.parquet(corpus), ix,
                               input_path=corpus, fields=list(fields),
                               **build_kw)
        build_s = time.perf_counter() - t0
    run.e2e["write_turns_per_s"] = n / build_s
    run.layer["build.full_s"] = build_s
    run.layer.update(build_metrics(manifest, ""))
    run.text_bytes = inputs.text_bytes(corpus, fields)
    oracle = run.excluding(checker.IndexOracle, fields)
    run.excluding(oracle.add_index, ix)
    return ix, oracle


def closed_loop(run: Run, pool: list, stream: str, call):
    """Call ``call(q) → (result, seconds)`` over seeded shuffles of
    ``pool``, one whole pass after another, until ``run.seconds`` have
    passed and at least ``MIN_PASSES`` passes ran → [(pool index,
    result)]. Whole passes keep the mix of query shapes the same in every
    run, and the minimum keeps slow queries from leaving a run with one
    or two samples each."""
    rng = inputs.rng_for(run.seed, stream)
    order, lat, outs = [], [], []
    deadline = time.perf_counter() + run.seconds
    while (len(order) < MIN_PASSES * len(pool)
           or time.perf_counter() < deadline):
        for i in rng.permutation(len(pool)).tolist():
            out, dt = call(pool[i])
            order.append(i)
            lat.append(dt)
            outs.append((i, out))
    run.saved_inputs["sequence"] = order
    run.e2e["query_p50_ms"] = 1000 * statistics.median(lat)
    run.e2e["query_p90_ms"] = 1000 * percentile(lat, 90)
    run.layer["trace.query_p50_ms"] = run.e2e["query_p50_ms"]
    return outs


def check_all(run: Run, pool, outs, expected, check_one, rows_of, check_rows):
    """Check every result, then prove on one passing page that the check
    rejects a changed score and a changed doc_id."""
    probe = None
    for i, out in outs:
        if out is None:
            continue
        err = check_one(out, expected[i])
        run.check(f"{pool[i]['kind']} {pool[i]['text']!r}", err)
        if not err and probe is None and rows_of(out):
            probe = (rows_of(out), expected[i])
    try:
        if probe is None:
            raise AssertionError("no non-empty page to perturb")
        rows, exp = probe
        checker.self_test(lambda r: check_rows(r, exp), rows)
        run.check("checker self-test", "")
    except AssertionError as e:
        run.check("checker self-test", str(e))


# ---------------------------------------------------------------------------
# serve_hot
# ---------------------------------------------------------------------------

def serve_hot(run: Run) -> None:
    from yetisearch_spark.engine import Engine
    from yetisearch_spark.query import configure_serving

    ix, oracle = build_fixture(run, ("title", "text"))
    configure_serving(run.spark)
    eng = Engine(run.spark, {"main": ix})
    tokens = [d["tokens"] for d in oracle.docs.values()]
    pool = run.excluding(inputs.query_pool, run.seed, "serve_hot pool", ix,
                         tokens, HOT_KINDS)
    run.saved_inputs["queries"] = pool
    # untimed warm-up, 8 passes: a term's first touch caches a raw decode
    # and its second touch promotes it (and re-plans the page). After
    # those two, calls kept getting faster for about five more passes as
    # the JVM compiled the serving path (median 1.2 s a call in pass 1,
    # 50-75 ms in pass 4, 40-45 ms from pass 7 on).
    for _ in range(8):
        for q in pool:
            timed_search(run, eng, q, kind="warmup")
    corrector = eng.corrector("main")
    expected = run.excluding(lambda: [
        checker.expected_page(oracle, q, LIMIT, corrector) for q in pool])
    run.setup_done()

    outs = closed_loop(run, pool, "serve_hot passes",
                       lambda q: timed_search(run, eng, q))
    check_all(run, pool, outs, expected, checker.check_page,
              checker.page_rows, checker.check_page_rows)
    run.layer["cache.storage_mb"] = box.storage_mb(run.spark)
    if run.traced:
        probe_layers(run, eng, ix, oracle)
    oracle.close()


# ---------------------------------------------------------------------------
# serve_cold
# ---------------------------------------------------------------------------

SKEW_WOR = ('"zzhead zzrare" OR NEAR("zzrare" "zzhead", 3) OR "zzrare" '
            'OR "zzhead"')


def skew_pool(seed: int, ix: str) -> list[dict]:
    """Head-term shapes over the skew index: the block-max adversaries
    plus seeded band terms, a weight and a role."""
    rng = inputs.rng_for(seed, "serve_cold pool")
    bands = {b: [t for t in ts if not t.startswith("zz")]
             for b, ts in inputs.term_bands(ix).items()}
    head = bands["head"][rng.integers(len(bands["head"]))]
    mid = bands["mid"][rng.integers(len(bands["mid"]))]
    role = inputs.ROLES[rng.integers(2)]

    fts = Fts5Oracle.match_string

    def q(kind, text, match=None, **kw):
        return {"kind": kind, "text": text, "match": match or text, **kw}

    return [
        q("single", "zzhead", fts("single", ["zzhead"])),
        q("and", "zzhead AND zzrare", fts("and", ["zzhead", "zzrare"])),
        q("and", f"zzhead AND {mid}", fts("and", ["zzhead", mid])),
        q("phrase", '"zzhead zzrare"'),
        q("near", 'NEAR("zzrare" "zzhead", 3)'),
        q("weighted", '"zzhead zzrare"', boost={"text": 2.0}),
        q("filter", head, fts("single", [head]), role=role),
        q("wor", SKEW_WOR),
    ]


def cold_search(run: Run, handle, q: dict, kind: str = "search"):
    """One SearchIndex.search + collect; the handle's persisted frames are
    dropped afterwards (untimed) so the next call decodes from disk."""
    filters = {"role": q["role"]} if q.get("role") else None
    with run.tracer.span(kind, q["kind"]):
        t0 = time.perf_counter()
        rows = run.attempt(f"search {q['text']!r}", lambda: [
            (r["doc_id"], r["score"]) for r in handle.search(
                q["text"], k=LIMIT, filters=filters,
                weights=q.get("boost")).collect()])
        dt = time.perf_counter() - t0
    handle.close()
    return rows, dt


def serve_cold(run: Run) -> None:
    from yetisearch_spark.query import SearchIndex, configure_serving

    ix, oracle = build_fixture(run, ("text",), block_size=64)
    configure_serving(run.spark)
    handle = SearchIndex(run.spark, ix, cache_postings=False, cache_docs=False)
    handle.term_stats_for(["zzhead", "zzrare"])
    pool = run.excluding(skew_pool, run.seed, ix)
    run.saved_inputs["queries"] = pool
    # untimed warm-up: two passes, because the JVM is still compiling the
    # planner paths of the larger shapes after one (the weighted-OR ran
    # about 20% faster on its third call than on its first)
    for _ in range(2):
        for q in pool:
            cold_search(run, handle, q, kind="warmup")
    expected = run.excluding(lambda: [
        checker.expected_raw(oracle, q, LIMIT) for q in pool])
    run.setup_done()

    outs = closed_loop(run, pool, "serve_cold passes",
                       lambda q: cold_search(run, handle, q))
    check_all(run, pool, outs, expected, checker.check_raw,
              lambda rows: rows, checker.check_raw)
    run.layer["cache.storage_mb"] = box.storage_mb(run.spark)
    if run.traced:
        from yetisearch_spark.engine import Engine

        probe_layers(run, Engine(run.spark, {"main": ix}), ix, oracle)
    oracle.close()


# ---------------------------------------------------------------------------
# per-layer probes (traced runs only)
# ---------------------------------------------------------------------------

def probe_layers(run: Run, eng, ix: str, oracle) -> None:
    """Every traced run measures every layer, after its timed loop. A
    probe that raises counts as one failed operation; its metrics are
    left out and the next probe runs."""
    def warm():
        with run.tracer.span("warm"):
            t0 = time.perf_counter()
            eng.warm("main")
            run.layer["query.warm_s"] = time.perf_counter() - t0

    run.attempt("probe warm", warm)
    run.attempt("probe index", lambda: probe_index(run, eng, ix, oracle))
    run.attempt("probe streaming", lambda: probe_streaming(run, ix, oracle))
    probe_operators(run)


def _median_ms(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return 1000 * statistics.median(ts)


def probe_index(run: Run, eng, ix: str, oracle) -> None:
    """Time single layers on a plain (segment-free) index, one call at a
    time, on a seeded probe pool drawn like the workload pools."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from yetisearch_spark.analyzer import analyze, analyze_batch
    from yetisearch_spark.build import load_manifest
    from yetisearch_spark.postings import decode_posting_batch
    from yetisearch_spark.query import SearchIndex
    from yetisearch_spark.wand import pruned_topk

    spark, tr = run.spark, run.tracer
    tokens = [d["tokens"] for d in oracle.docs.values()]
    pool = inputs.query_pool(run.seed, "probe pool", ix, tokens,
                             PROBE_KINDS)
    run.saved_inputs["probe_queries"] = pool
    si = eng.index("main")
    plan, collect, overhead = [], [], []
    def facade(q, exp):
        with tr.span("probe", "search"):
            t0 = time.perf_counter()
            df = si.search(q["text"], k=LIMIT)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        run.check(f"probe search {q['text']!r}", checker.check_raw(
            [(r["doc_id"], r["score"]) for r in rows], exp))
        plan.append(t1 - t0)
        collect.append(t2 - t1)
        return t2 - t0

    def engine(q):
        with tr.span("probe", "engine"):
            t0 = time.perf_counter()
            eng.search("main", search_query(q))
            return time.perf_counter() - t0

    for q in pool:
        exp = checker.expected_raw(oracle, q, LIMIT)
        for rep in range(2):          # alternate which call goes first
            if rep % 2:
                e = engine(q)
                overhead.append(e - facade(q, exp))
            else:
                f = facade(q, exp)
                overhead.append(engine(q) - f)
    run.layer["query.plan_ms"] = 1000 * statistics.median(plan)
    run.layer["query.collect_ms"] = 1000 * statistics.median(collect)
    run.layer["engine.overhead_ms"] = 1000 * statistics.median(overhead)

    # cold tiers on the head term: no pinned postings or docs, a fresh
    # handle per call so no persisted frame carries over between calls
    head = inputs.term_bands(ix)["head"][0]
    hq = {"kind": "single", "text": head, "match": f'"{head}"'}
    exp = checker.expected_raw(oracle, hq, LIMIT)

    def cold(gate, pruned=False):
        h = SearchIndex(spark, ix, cache_postings=False, cache_docs=False)
        h.pruned_gate_blocks = gate
        with tr.span("probe", "wand"):
            t0 = time.perf_counter()
            df = pruned_topk(h, head, k=LIMIT, gate_blocks=0) if pruned \
                else h.search(head, k=LIMIT)
            rows = df.collect()
            dt = time.perf_counter() - t0
        h.close()
        run.check(f"probe cold {head!r}", checker.check_raw(
            [(r["doc_id"], r["score"]) for r in rows], exp))
        return dt

    args = {"exact": (-1,), "pruned": (None, True), "facade": (None,)}
    times = {name: [] for name in args}
    for _ in range(3):                # interleaved, so no tier runs warmer
        for name, a in args.items():
            times[name].append(cold(*a))
    tiers = {name: 1000 * statistics.median(ts) for name, ts in times.items()}
    run.layer["query.exact_ms"] = tiers["exact"]
    run.layer["wand.pruned_ms"] = tiers["pruned"]
    run.layer["wand.facade_ms"] = tiers["facade"]
    run.layer["wand.route_gap_ms"] = tiers["facade"] - min(tiers["exact"],
                                                          tiers["pruned"])

    # posting decode over the head band's blocks, read with pyarrow
    heads = inputs.term_bands(ix)["head"]
    t = ds.dataset(os.path.join(ix, "postings"), format="parquet").to_table(
        columns=["term", "data"], filter=pc.field("term").isin(heads))
    data = t.column("data").combine_chunks()
    offs = np.frombuffer(data.buffers()[1], dtype=np.int32)[
        data.offset:data.offset + len(data) + 1].astype(np.int64)
    buf = np.frombuffer(data.buffers()[2], dtype=np.uint8)
    nbytes, reps, t0 = int(offs[-1] - offs[0]), 0, time.perf_counter()
    while reps < 3 or time.perf_counter() - t0 < 0.5:
        res = decode_posting_batch(offs, buf, with_positions=True)
        reps += 1
    run.layer["postings.decode_mb_per_s"] = (
        nbytes * reps / (time.perf_counter() - t0) / 1e6)
    want = sum(oracle.fts.count(f'"{h}"') for h in heads)
    run.check("probe decode", "" if int(res[0].sum()) == want else
              f"decoded {int(res[0].sum())} postings, expected {want}")
    per_bucket = load_manifest(ix)["stages"]["postings"]["counters"]["per_bucket"]
    run.layer["postings.bytes_per_posting"] = (
        sum(b["bytes"] for b in per_bucket.values())
        / sum(b["postings"] for b in per_bucket.values()))

    # analyzer over a seeded sample of the corpus texts
    texts = [d["text"] or "" for d in oracle.docs.values()]
    rng = inputs.rng_for(run.seed, "analyzer sample")
    sample = [texts[i] for i in rng.integers(len(texts),
                                             size=run.size["analyzer_texts"])]
    with tr.span("probe", "analyzer"):
        t0 = time.perf_counter()
        ntok = sum(len(x) for x in analyze_batch(sample))
        run.layer["analyzer.tokens_per_s"] = ntok / (time.perf_counter() - t0)

    # typo correction over fuzzy inputs against the engine's vocabulary
    corr = eng.corrector("main")
    frng = inputs.rng_for(run.seed, "fuzzy probe")
    bands = inputs.term_bands(ix)
    typos = [t for _ in range(20) for t in analyze(
        inputs.make_query("fuzzy", frng, bands, tokens)["text"])]
    run.saved_inputs["fuzzy_probe"] = typos
    with tr.span("probe", "correction"):
        run.layer["correction.correct_ms"] = _median_ms(
            lambda: [corr.find_best_correction(t) for t in typos], 5) / len(typos)


def probe_streaming(run: Run, ix: str, oracle) -> None:
    """Two segment appends, each followed by a delete batch, then one
    merge and one Engine.search read checked against the mirrored
    oracle. Runs last: it mutates the index."""
    from yetisearch_spark.engine import Engine
    from yetisearch_spark.streaming import (append_segment, delete_docs,
                                            list_segments, merge_segments,
                                            segment_dir)

    spark, size, tr = run.spark, run.size, run.tracer
    fields = oracle.fields
    append_s, delete_s, appended, deletes = [], [], 0, []
    sums = dict.fromkeys(("build.append_docs_s", "build.append_postings_s",
                          "build.append_term_stats_s"), 0.0)
    for r in range(2):
        seg = run.path(f"segment{r}")
        appended += inputs.write_transcripts(
            seg, size["seg_turns"], run.seed_for(f"segment {r}"),
            f"seg{r:02d}_", title="title" in fields)
        run.text_bytes += inputs.text_bytes(seg, fields)
        with tr.span("append"):
            t0 = time.perf_counter()
            m = append_segment(spark, ix, spark.read.parquet(seg), epoch=r)
            append_s.append(time.perf_counter() - t0)
        for k, v in build_metrics(m, "append_").items():
            sums[k] += v / 2
        oracle.add_index(segment_dir(ix, r))
        rng = inputs.rng_for(run.seed, f"delete {r}")
        ids = sorted(int(d) for d in rng.choice(sorted(oracle.docs),
                                                size["deletes"], replace=False))
        deletes.append(ids)
        with tr.span("delete"):
            t0 = time.perf_counter()
            delete_docs(spark, ix, ids)
            delete_s.append(time.perf_counter() - t0)
        oracle.delete(ids)
    before = set(list_segments(ix))
    with tr.span("merge"):
        t0 = time.perf_counter()
        merge_segments(spark, ix)
        merge_s = time.perf_counter() - t0
    run.check("merge", "" if len(list_segments(ix)) < len(before) else
              f"segments {list_segments(ix)} after merge")
    eng = Engine(spark, {"main": ix}, config={"enable_fuzzy": False})
    tokens = [d["tokens"] for d in oracle.docs.values()]
    q = inputs.query_pool(run.seed, "streaming reads", ix, tokens,
                          ("single",))[0]
    with tr.span("probe", "read after merge"):
        out = run.attempt(f"read after merge {q['text']!r}",
                          lambda: eng.search("main", search_query(q)))
    if out is not None:
        run.check(f"read after merge {q['text']!r}",
                  checker.check_page(out, checker.expected_page(oracle, q, LIMIT)))
    run.saved_inputs["streaming"] = {"deletes": deletes, "read": q}
    run.layer.update(sums)
    run.layer.update({
        "streaming.append_turns_per_s": appended / sum(append_s),
        "streaming.delete_s": statistics.median(delete_s),
        "streaming.merge_s": merge_s,
        "streaming.merge_bytes_written": float(sum(
            dir_bytes(segment_dir(ix, e)) for e in set(list_segments(ix)) - before)),
        "streaming.index_bytes_per_text_byte": dir_bytes(ix) / run.text_bytes,
    })


def probe_operators(run: Run) -> None:
    """The ten headline operators over seeded tables, one timed call
    each, checked on DuckDB. The session is warm from the builds and
    searches before them, so no separate warm-up pass runs."""
    import __spark_entry__ as entry

    tables = run.path("operator_tables")
    inputs.write_operator_tables(tables, run.seed_for("operator tables"))
    qs, sql = entry.queries(), entry.oracle_sql()
    con = checker.duck_connection(tables)

    def collect(df):
        return df.collect(), df.columns

    for name in OPERATORS:
        with run.tracer.span("operator", name):
            t0 = time.perf_counter()
            got = run.attempt(f"operator {name}",
                              lambda: collect(qs[name](run.spark, tables)))
            run.layer[f"operators.{name}_s"] = time.perf_counter() - t0
        if got is not None:
            rows, cols = got
            res = con.execute(sql[name])
            run.check(f"operator {name}", checker.check_rows(
                [tuple(r) for r in rows], cols, res.fetchall(),
                [d[0] for d in res.description]))
    con.close()


WORKLOADS = {"serve_hot": serve_hot, "serve_cold": serve_cold}
