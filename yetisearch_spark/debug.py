"""Diagnostics: `index:verify` and `debug:query` CLI analogs
(reference: bin/yetisearch:112-156 — table/count verification and
SQL + EXPLAIN QUERY PLAN dumps). The Spark equivalents are layout/count
verification over the index directory and the compiled AST + physical
plan of a query."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def verify_index(spark: SparkSession, index_dir: str) -> dict:
    """Verify an index directory: every layout part present, stored
    counters consistent with the data (docs count vs manifest counter vs
    global_stats n_docs; postings/term_stats non-degenerate), segments
    and tombstones enumerated. Returns a JSON-able status dict with
    ``ok`` — the reference's index:verify prints the same shape
    (index, schema, docs, fts_rows, ok)."""
    from .build import load_manifest
    from .streaming import list_segments, load_tombstones

    status: dict = {"index": index_dir, "ok": False}
    try:
        manifest = load_manifest(index_dir)
    except Exception as e:           # missing/corrupt manifest
        status["error"] = f"manifest: {e}"
        return status
    status["epoch"] = int(manifest.get("epoch", 0))
    status["fields"] = manifest.get("config", {}).get("fields", ["text"])

    parts = {}
    for part in ("postings", "docs", "term_stats", "global_stats"):
        parts[part] = os.path.isdir(os.path.join(index_dir, part))
    status["parts"] = parts
    if not all(parts.values()):
        status["error"] = "missing layout parts"
        return status

    # everything below reads data a corrupt index may not have — the
    # verifier's contract is to REPORT (ok:false + error), never crash
    # on exactly the inputs it exists to diagnose
    try:
        manifest_docs = int(manifest["stages"]["docs"]["counters"]["docs"])
    except (KeyError, TypeError, ValueError) as e:
        status["error"] = f"manifest stages/counters: {e!r}"
        return status
    try:
        gs = spark.read.parquet(
            os.path.join(index_dir, "global_stats")).collect()[0]
        docs_rows = spark.read.parquet(
            os.path.join(index_dir, "docs")).count()
        term_rows = spark.read.parquet(
            os.path.join(index_dir, "term_stats")).count()
        posting_blocks = spark.read.parquet(
            os.path.join(index_dir, "postings")).count()
        tomb = load_tombstones(spark, index_dir)
        n_tomb = int(tomb.count()) if tomb is not None else 0
    except Exception as e:           # corrupt/unreadable parquet parts
        status["error"] = f"data read: {e}"
        return status
    status.update({
        "docs": docs_rows,
        "manifest_docs": manifest_docs,
        "global_stats_docs": int(gs["n_docs"]),
        "avgdl": float(gs["avgdl"] or 0.0),
        "terms": term_rows,
        "posting_blocks": posting_blocks,
        "segments": list_segments(index_dir),
        "tombstones": n_tomb,
    })
    # non-degeneracy (terms/blocks/avgdl present) only applies to a
    # non-empty index — a legitimately empty index (0 docs) is ok, not
    # corrupt
    status["ok"] = (docs_rows == manifest_docs == int(gs["n_docs"])
                    and (docs_rows == 0
                         or (term_rows > 0 and posting_blocks > 0
                             and status["avgdl"] > 0)))
    return status


def debug_query(spark: SparkSession, index_dir: str, query: str,
                k: int = 10, pruned: bool = False) -> dict:
    """Compiled AST + executed-plan dump for a query (the Spark analog of
    the reference's SQL + params + EXPLAIN QUERY PLAN). Returns
    {query, ast, decode, plan, pruning} — ``plan`` is the formatted
    physical plan string Catalyst would execute; ``decode`` lists each
    per-term decode the plan made, in order: {term, positions, route
    ("driver" or "executor"), est_bytes, threshold}, the estimate and
    the limit it was compared against (the session's
    spark.sql.autoBroadcastJoinThreshold, capped at
    SearchIndex.DRIVER_DECODE_MAX_BYTES); both are None for a vocabulary
    too big to load, which always decodes on the executor. Terms never
    decoded one by one (prefix expansions, out-of-vocabulary terms, the
    pruned tier's block scans) have no entry."""
    from .query import SearchIndex, decode_scope, parse_query

    idx = SearchIndex(spark, index_dir, cache_postings=False,
                      cache_docs=False)
    node = parse_query(query)
    out: dict = {"query": query, "ast": repr(node)}
    with decode_scope() as scope:
        if pruned:
            from .wand import pruned_topk
            df = pruned_topk(idx, node, k=k)
            out["pruning"] = getattr(df, "_pruning_stats", None)
        else:
            df = idx.search(node, k=k)
    out["decode"] = list(scope.routes.values())
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out["plan"] = buf.getvalue()
    idx.close()
    return out
