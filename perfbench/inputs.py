"""Seeded inputs: corpora, query mixes, mutation batches, operator tables.

Everything derives from the run's ``--seed``; the program only ever sees
the generated files and query strings. Query terms come from the built
index's own term_stats, split into head, mid and tail document-frequency
bands, so every seed exercises the same mix of posting-list lengths.
"""

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from yetisearch_spark.oracle import Fts5Oracle

ROLES = ("user", "assistant", "system", "tool")
BANDS = ("head", "mid", "tail")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding one stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def write_transcripts(path: str, n_turns: int, seed: int, prefix: str,
                      title: bool = False, skew: bool = False) -> int:
    """One parquet file of ``corpus.generate_transcripts`` turns.

    ``prefix`` replaces ``conv_`` in conv_id so batches never collide;
    ``title`` adds a title field (the text's first four words). ``skew``
    appends the block-max adversaries: head term ``zzhead`` in every
    turn, 32 times in a seeded 0.1% of turns (score spikes), and rare
    term ``zzrare`` in the first 1% of conversations (a clustered doc_id
    range)."""
    from yetisearch_spark.corpus import generate_transcripts

    pdf = generate_transcripts(n_turns, seed=seed)
    if skew:
        rng = rng_for(seed, "skew")
        spike = rng.random(len(pdf)) < 0.001
        conv_no = pdf["conv_id"].str.slice(5).astype(int)
        rare = conv_no < max(2, (conv_no.max() + 1) // 100)
        pdf["text"] = (pdf["text"] + " zzhead"
                       + np.where(spike, " zzhead" * 31, "")
                       + np.where(rare, " zzrare", ""))
    pdf["conv_id"] = pdf["conv_id"].str.replace("conv_", prefix, regex=False)
    if title:
        pdf.insert(3, "title", [" ".join(t.split()[:4]) for t in pdf["text"]])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-00000.parquet"),
                   row_group_size=25_000)
    return len(pdf)


def text_bytes(path: str, fields=("text",)) -> int:
    t = ds.dataset(path, format="parquet").to_table(columns=list(fields))
    return sum(len(v.as_py().encode()) for c in fields for v in t[c]
               if v.as_py() is not None)


# ---------------------------------------------------------------------------
# query mixes
# ---------------------------------------------------------------------------

def _fixed(term: str) -> bool:
    """Query-side analysis maps the term to itself, so the engine and the
    oracle search the same token."""
    from yetisearch_spark.analyzer import analyze

    return analyze(term) == [term]


def term_bands(index_dir: str) -> dict:
    """head / mid / tail terms by df (top 10%, next 40%, rest with df ≥ 2)."""
    ts = ds.dataset(os.path.join(index_dir, "term_stats"),
                    format="parquet").to_table(columns=["term", "df"])
    rows = sorted(zip(ts["term"].to_pylist(), ts["df"].to_pylist()),
                  key=lambda r: (-r[1], r[0]))
    rows = [r for r in rows if r[1] >= 2 and _fixed(r[0])]
    n = len(rows)
    cut1, cut2 = max(1, n // 10), max(2, n // 2)
    return {"head": [t for t, _ in rows[:cut1]],
            "mid": [t for t, _ in rows[cut1:cut2]],
            "tail": [t for t, _ in rows[cut2:]]}


def _band_term(rng, bands, min_len=1, allowed=BANDS):
    band = allowed[rng.integers(len(allowed))]
    pool = [t for t in bands[band] if len(t) >= min_len] or \
        [t for b in allowed for t in bands[b] if len(t) >= min_len]
    return pool[rng.integers(len(pool))]


def _doc_pair(rng, text_tokens, max_gap):
    """Two fixed-point tokens at most ``max_gap`` apart in one document."""
    for _ in range(1000):
        toks = text_tokens[rng.integers(len(text_tokens))]
        if len(toks) < 2:
            continue
        i = int(rng.integers(len(toks) - 1))
        j = min(len(toks) - 1, i + 1 + int(rng.integers(max_gap)))
        a, b = toks[i], toks[j]
        if a != b and _fixed(a) and _fixed(b):
            return a, b
    raise RuntimeError("corpus has no usable token pair")


def _typo(rng, term: str) -> str:
    i = 1 + int(rng.integers(len(term) - 2))
    if rng.integers(2):
        return term[:i] + term[i + 1:]
    return term[:i] + term[i + 1] + term[i] + term[i + 2:]


def make_query(kind: str, rng, bands, text_tokens) -> dict:
    """One query spec: the engine's query text plus what the oracle needs
    to answer it independently (FTS5 match string, filters, weights)."""
    match = Fts5Oracle.match_string
    q = {"kind": kind}
    if kind in ("single", "filter"):
        t = _band_term(rng, bands)
        q.update(text=t, match=match("single", [t]))
        if kind == "filter":
            q["role"] = ROLES[rng.integers(2)]
    elif kind in ("and", "weighted_and"):
        a, b = _doc_pair(rng, text_tokens, 20)
        q.update(text=f"{a} AND {b}", match=match("and", [a, b]))
        if kind == "weighted_and":
            q["boost"] = {"title": 2.5}
    elif kind == "or":
        ts = sorted({_band_term(rng, bands) for _ in range(3)})
        q.update(text=" OR ".join(ts), match=match("or", ts))
    elif kind == "phrase":
        a, b = _doc_pair(rng, text_tokens, 1)
        q.update(text=f'"{a} {b}"', match=match("phrase", [a, b]))
    elif kind == "near":
        a, b = _doc_pair(rng, text_tokens, 8)
        q.update(text=f'NEAR("{a}" "{b}", 10)', match=match("near", [a, b]))
    elif kind == "prefix":
        for _ in range(100):
            t = _band_term(rng, bands, min_len=5)
            p = t[:max(3, len(t) - 2)]
            if _fixed(p):
                break
        q.update(text=f"{p}*", match=match("prefix", [p]))
    elif kind == "fuzzy":
        t = _band_term(rng, bands, min_len=5, allowed=("head", "mid"))
        q.update(text=_typo(rng, t), fuzzy=True)
    else:
        raise ValueError(kind)
    return q


def query_pool(seed: int, stream: str, index_dir: str, text_tokens,
               kinds) -> list[dict]:
    """One seeded query per shape in ``kinds``."""
    rng = rng_for(seed, stream)
    bands = term_bands(index_dir)
    return [make_query(kind, rng, bands, text_tokens) for kind in kinds]


# ---------------------------------------------------------------------------
# operator tables (the schemas __spark_entry__'s operators read)
# ---------------------------------------------------------------------------

_OP_WORDS = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream window "
             "a spark part group big sort query fast the").split()


def write_operator_tables(path: str, seed: int, n_docs: int = 500,
                          n_events: int = 10_000, n_vecs: int = 500,
                          n_lines: int = 60_000) -> None:
    rng = rng_for(seed, "operators")
    os.makedirs(path, exist_ok=True)

    def put(name, table):
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))

    lens = rng.integers(10, 100, n_docs)
    words = np.array(_OP_WORDS)[rng.integers(len(_OP_WORDS), size=int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    dup = rng.random(n_docs) < 0.05
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.integers(n_docs))]
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "de", "fr"])[
            rng.choice(5, n_docs, p=[.44, .14, .14, .14, .14])].tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(20, size=n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    ts = (pd.Timestamp("2024-01-01")
          + pd.to_timedelta(np.sort(rng.random(n_events)) * 30 * 86400, unit="s"))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts.values.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(n_events // 66, size=n_events), pa.int64()),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(5, size=n_events)].tolist(),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(100, size=n_events)]}))

    emb = rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=n_vecs), pa.int32())}))

    ship = (np.datetime64("1995-01-02")
            + rng.integers(0, 2500, n_lines).astype("timedelta64[D]"))
    put("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(n_lines // 4, size=n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(20_000, size=n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1000, size=n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(3, size=n_lines)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(2, size=n_lines)].tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))}))
