"""Independent answers for every call the benchmark times.

Search answers come from SQLite FTS5 (``yetisearch_spark.oracle``), fed the
built docs' own ``tokens`` column read with pyarrow; doc_ids are the
documented dense rank over (conv_id, turn_idx) plus the manifest's
``doc_id_base``. Appends and deletes are mirrored into the same FTS5 table.
Operator answers come from ``__spark_entry__.oracle_sql()`` on DuckDB.

The engine's driver-side result processing is applied to the oracle's
candidates before comparing. R5 (score / max x 100, to 1 dp) is
recomputed here. R2 (field-weight rescoring) and R4 (fuzzy penalty) are
replayed with the engine's own row-level functions, so a defect in those
two functions changes the expected page with the engine's and is not
caught: boosted and fuzzy pages check the candidates, their raw scores and
the R5 step, not the R2 and R4 adjustments.
"""

import json
import math
import os

import pyarrow.dataset as ds

from yetisearch_spark.oracle import Fts5Oracle

SCORE_RTOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SCORE_RTOL, abs_tol=1e-12)


def _rounding_edge(u: float) -> bool:
    """True when u·10 sits on a .5 boundary, where 1-dp rounding of two
    values equal to 1e-9 can legitimately differ by 0.1."""
    return abs((u * 10.0) % 1.0 - 0.5) < 1e-6


class IndexOracle:
    """FTS5 mirror of one index directory (base + segments − deletes)."""

    def __init__(self, fields=("text",)):
        self.fields = list(fields)
        self.fts = Fts5Oracle(columns=self.fields)
        self.docs: dict[int, dict] = {}

    def close(self) -> None:
        self.fts.close()

    def add_index(self, index_dir: str) -> list[int]:
        """Add the docs of a built index or segment; → their doc_ids."""
        with open(os.path.join(index_dir, "manifest.json")) as f:
            base = int(json.load(f).get("doc_id_base", 0))
        cols = ["conv_id", "turn_idx", "role", "tokens"] + [
            f for f in self.fields if f != "text"] + ["text"]
        if len(self.fields) > 1:
            cols.append("field_lens")
        t = ds.dataset(os.path.join(index_dir, "docs"),
                       format="parquet").to_table(columns=cols)
        rows = t.to_pylist()
        rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
        added, batch = [], []
        for rank, r in enumerate(rows):
            doc_id = base + rank
            toks = list(r["tokens"] or [])
            text_toks = toks
            if len(self.fields) > 1:
                parts, at = [], 0
                for n in r["field_lens"]:
                    parts.append(toks[at:at + n])
                    at += n
                toks = parts
                text_toks = parts[self.fields.index("text")]
            batch.append((doc_id, toks))
            self.docs[doc_id] = {f: r.get(f) for f in self.fields + ["role"]}
            self.docs[doc_id]["tokens"] = text_toks
            added.append(doc_id)
        self.fts.add_documents(batch)
        return added

    def delete(self, doc_ids) -> None:
        self.fts.con.executemany("DELETE FROM fts WHERE rowid = ?",
                                 [(int(d),) for d in doc_ids])
        self.fts.con.commit()
        for d in doc_ids:
            self.docs.pop(int(d), None)

    def _weights(self, boost):
        if not boost:
            return None
        return [float(boost.get(f, 1.0)) for f in self.fields]

    def raw(self, match: str, k: int, boost=None, role=None):
        """[(doc_id, raw bm25)] best first, optionally role-filtered."""
        if role is None:
            return self.fts.top_k(match, k, weights=self._weights(boost))
        hits = self.fts.top_k(match, self.fts.count(match),
                              weights=self._weights(boost))
        return [h for h in hits if self.docs[h[0]]["role"] == role][:k]

    def total(self, match: str, role=None) -> int:
        if role is None:
            return self.fts.count(match)
        return len(self.raw(match, 1 << 30, role=role))


def fuzzy_rewrite(corrector, text: str):
    """(FTS5 match, query tokens) of a fuzzy query after the engine's
    corrector rewrites it (correction mode, word merge on)."""
    from yetisearch_spark.analyzer import analyze

    tokens = corrector.merge_tokens(analyze(text))
    corrected = [p for t in tokens
                 for p in corrector.find_best_correction(t).split(" ")]
    match = Fts5Oracle.match_string
    if len(corrected) == 1:
        return match("single", corrected), corrected
    return (f'{match("phrase", corrected)} OR {match("near", corrected)} OR '
            f'{match("or", corrected)}'), corrected


def expected_page(oracle: IndexOracle, q: dict, limit: int, corrector=None):
    """The Engine.search page for query spec ``q`` (offset 0) as
    {"order": [(doc_id, key)], "keys": {doc_id: key}, "display": {doc_id:
    (score, unrounded)}, "total": n}; ``key`` is the value the engine
    sorts by before normalising."""
    from yetisearch_spark.rescoring import (effective_limit,
                                            field_weighted_score,
                                            fuzzy_penalty)

    match, q_tokens = q.get("match"), None
    if q.get("fuzzy"):
        match, q_tokens = fuzzy_rewrite(corrector, q["text"])
    boost, role = q.get("boost"), q.get("role")
    overfetch = bool(boost) or bool(q.get("fuzzy"))
    fetch = max(effective_limit(limit), limit) if overfetch else limit
    cands = oracle.raw(match, fetch + 50, boost=boost, role=role)
    rows = [[d, s] for d, s in cands]
    if boost:
        for r in rows:
            content = {f: oracle.docs[r[0]].get(f) for f in boost
                       if f in oracle.docs[r[0]]}
            r[1] = field_weighted_score(q["text"], content, boost, r[1])
    head = sorted(rows[:fetch], key=lambda r: (-r[1], r[0]))
    w_max = max((r[1] for r in head), default=0.0)
    if q_tokens is not None:
        for r in rows:
            pen = fuzzy_penalty(oracle.docs[r[0]].get("text") or "",
                                q_tokens, {}, 0.25)
            r[1] = r[1] * (1.0 - pen)
        head = sorted(rows[:fetch], key=lambda r: (-r[1], r[0]))
    display = {}
    for d, s in rows:
        u = s / w_max * 100.0 if w_max else s
        display[d] = (round(u, 1) if w_max else s, u)
    return {"order": [(d, s) for d, s in head[:limit]],
            "keys": {d: s for d, s in rows}, "display": display,
            "total": oracle.total(match, role=role)}


def _order_ok(got_ids, exp) -> str:
    if len(got_ids) != len(exp["order"]):
        return f"{len(got_ids)} rows, expected {len(exp['order'])}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate doc_id in page"
    for i, (d, (ed, ek)) in enumerate(zip(got_ids, exp["order"])):
        if d != ed and not (d in exp["keys"] and _close(exp["keys"][d], ek)):
            return f"position {i}: doc {d}, expected {ed}"
    return ""


def page_rows(out: dict) -> list:
    """[(doc_id, score)] of an Engine.search result page."""
    return [(int(r["document"]["doc_id"]), float(r["score"]))
            for r in out["results"]]


def check_page(out: dict, exp: dict) -> str:
    """'' when an Engine.search result matches, else the first difference."""
    if int(out["total"]) != exp["total"]:
        return f"total {out['total']}, expected {exp['total']}"
    return check_page_rows(page_rows(out), exp)


def check_page_rows(got, exp: dict) -> str:
    err = _order_ok([d for d, _ in got], exp)
    if err:
        return err
    for d, s in got:
        want, u = exp["display"][d]
        if s != want and not (abs(s - want) <= 0.1 + 1e-9 and _rounding_edge(u)):
            return f"doc {d}: score {s}, expected {want}"
    return ""


def expected_raw(oracle: IndexOracle, q: dict, k: int) -> dict:
    cands = oracle.raw(q["match"], k + 50, boost=q.get("boost"),
                       role=q.get("role"))
    return {"order": cands[:k], "keys": dict(cands)}


def check_raw(rows, exp: dict) -> str:
    """'' when SearchIndex.search rows [(doc_id, raw score)] match."""
    got = [(int(d), float(s)) for d, s in rows]
    err = _order_ok([d for d, _ in got], exp)
    if err:
        return err
    for d, s in got:
        if not _close(s, exp["keys"][d]):
            return f"doc {d}: score {s!r}, expected {exp['keys'][d]!r}"
    return ""


def self_test(check, got) -> None:
    """``check(rows)`` accepts ``got`` ([(doc_id, score)], non-empty); a
    copy with one score or one doc_id changed must be rejected. Raises
    AssertionError when the check would let either through."""
    if not got or check(got):
        raise ValueError("self-test needs a non-empty page that passes")
    for name, field, delta in (("score", 1, 0.3), ("doc_id", 0, 10 ** 9)):
        bad = [list(r) for r in got]
        bad[-1][field] += delta
        if not check([tuple(r) for r in bad]):
            raise AssertionError(f"checker accepted a perturbed {name}")


# ---------------------------------------------------------------------------
# operators vs DuckDB
# ---------------------------------------------------------------------------

def duck_connection(table_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(table_dir, f)}'")
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 4) if isinstance(r[i], float) else r[i]
                 for i in order) for r in rows]
    return sorted(out, key=repr)


def check_rows(srows, scols, orows, ocols) -> str:
    """'' when Spark rows equal the DuckDB rows (columns by name, rows as
    a set, floats to 1e-9)."""
    if sorted(scols) != sorted(ocols):
        return f"columns {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs {len(orows)}"
    for a, b in zip(_normalize(srows, scols), _normalize(orows, ocols)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9,
                                    abs_tol=1e-8):
                    return f"{a} vs {b}"
            elif x != y:
                return f"{a} vs {b}"
    return ""
