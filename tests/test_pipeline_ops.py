"""Training-pipeline operators: dedup families, text stats, similarity
search."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),        # exact dup
        (2, "The  quick brown fox jumps over the lazy dog"),       # ws/case dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different text about spark clusters and parquet"),
        (5, "another unrelated document mentioning gradient descent"),
        (6, "the quick brown fox jumps over the lazy dog today ok"),  # near dup
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup(docs):
    from yetisearch_spark.dedup import exact_dedup
    kept = exact_dedup(docs).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert {3, 4, 5, 6} <= set(ids)


def test_minhash_lsh_dedup(docs):
    from yetisearch_spark.dedup import minhash_lsh_dedup
    groups = minhash_lsh_dedup(docs, num_hashes=64, bands=32,
                               jaccard_threshold=0.5).collect()
    g = {r["doc_id"]: r["group_id"] for r in groups}
    # the three exact/near-identical docs 0,1,2 must group together
    assert g.get(0) == g.get(1) == g.get(2) == 0
    # unrelated docs never appear
    assert 4 not in g and 5 not in g


def test_simhash_pairs(spark, docs):
    from yetisearch_spark.dedup import simhash_pairs
    toks = docs.withColumn("tokens", F.split(F.lower("text"), r"\s+"))
    pairs = simhash_pairs(toks, max_hamming=8).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (0, 1) in got  # identical docs → hamming 0
    assert all(r["hamming"] <= 8 for r in pairs)


def test_ngram_jaccard_pairs(docs):
    from yetisearch_spark.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).collect()
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs}
    assert got.get((0, 1)) == 1.0
    assert (0, 3) in got  # near dup above 0.6
    assert (0, 4) not in got


def test_minhash_long_chain_groups_to_one(spark):
    """20-doc near-duplicate chain (each doc ~= its neighbor) must collapse
    into ONE group — the fixed-3-round union split chains > 2^3 hops."""
    from yetisearch_spark.dedup import minhash_lsh_dedup
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    words = list(base)
    for i in range(20):
        rows.append((i, " ".join(words)))
        words = words[1:] + [f"extra{i}"]  # drift one word per step
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = minhash_lsh_dedup(df, num_hashes=64, bands=32,
                               jaccard_threshold=0.35).collect()
    g = {r["doc_id"]: r["group_id"] for r in groups}
    # neighbors are near-dups; transitive union must reach one root
    assert len(set(g.values())) == 1, g
    assert set(g.values()) == {0}


def test_minhash_exact_verify(docs):
    """verify='exact' computes true shingle Jaccard — identical docs group,
    and estimated-vs-exact agree on this corpus."""
    from yetisearch_spark.dedup import minhash_lsh_dedup
    groups = minhash_lsh_dedup(docs, num_hashes=64, bands=32,
                               jaccard_threshold=0.5,
                               verify="exact").collect()
    g = {r["doc_id"]: r["group_id"] for r in groups}
    assert g.get(0) == g.get(1) == 0
    assert 4 not in g and 5 not in g


def test_ngram_prefix_filter_matches_naive(spark, docs):
    """The prefix-filtered join must return EXACTLY the naive all-pairs
    result (candidate generation is lossless for J >= threshold)."""
    from itertools import combinations
    from yetisearch_spark.dedup import ngram_jaccard_pairs
    rows = docs.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}

    def grams(t, n=3):
        return {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}

    want = {}
    for a, b in combinations(sorted(texts), 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        j = len(ga & gb) / len(ga | gb)
        if j >= 0.4:
            want[(a, b)] = round(j, 6)
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert got == want


def test_chunking_matches_reference_algorithm():
    from yetisearch_spark.chunking import chunk_text, should_chunk
    text = ". ".join(f"sentence number {i} with several words here" for i in range(40)) + "."
    assert should_chunk(text, 300)
    chunks = chunk_text(text, chunk_size=300, overlap=50)
    assert len(chunks) > 2
    # every chunk respects size + one sentence of slack; overlap carries
    # the previous chunk's tail words forward
    for c in chunks:
        assert len(c) <= 300 + 60
    for prev, nxt in zip(chunks, chunks[1:]):
        tail_word = prev.split()[-1]
        assert tail_word in nxt.split()[:12]
    # short text passes through untouched
    assert chunk_text("short.", 300, 50) == ["short."]


def test_chunk_documents_and_rollup(spark, tmp_path):
    """Chunked build feeds the A7 roll-up: chunks of one parent regroup
    under route = parent_id (reference chunk metadata Indexer.php:270-362)."""
    import pandas as pd
    from yetisearch_spark.chunking import chunk_documents
    from yetisearch_spark.build import build_index
    from yetisearch_spark.engine import Engine, SearchQuery

    long_text = ("the searchable marker phrase zumba appears here. " * 60).strip()
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c2"],
        "turn_idx": [0, 0],
        "role": ["user", "user"],
        "text": [long_text, "short zumba doc."],
        "tool": [None, None],
        "ts": pd.Timestamp("2025-01-01"),
    })
    chunked = chunk_documents(spark.createDataFrame(pdf), chunk_size=400,
                              overlap=60)
    rows = chunked.collect()
    c1 = [r for r in rows if r["parent_id"] == "c1#0"]
    assert len(c1) > 2 and all(r["is_chunk"] for r in c1)
    assert [r["chunk_index"] for r in sorted(c1, key=lambda r: r["chunk_index"])] \
        == list(range(len(c1)))
    assert all(r["route"] == "c1#0" for r in c1)
    c2 = [r for r in rows if r["parent_id"] == "c2#0"]
    assert len(c2) == 1 and not c2[0]["is_chunk"] and c2[0]["route"] is None

    # build an index over chunk identity (conv_id=parent, turn_idx=chunk)
    out = str(tmp_path / "chunk_idx")
    transcripts = chunked.select(
        F.col("parent_id").alias("conv_id"),
        F.col("chunk_index").alias("turn_idx"),
        "role", "text", "tool", "ts", "route")
    build_index(spark, transcripts, out, num_buckets=4)
    eng = Engine(spark, {"c": out})
    res = eng.search("c", SearchQuery(query="zumba", limit=20,
                                      unique_by_route=True))
    ids = [r["id"] for r in res["results"]]
    # roll-up: one composite result for the chunked doc + the short doc
    assert len(ids) == 2
    chunked_item = [r for r in res["results"]
                    if r["document"].get("route") == "c1#0"]
    assert chunked_item and chunked_item[0]["document"]["chunk_count"] > 2


def test_explode_prechunked(spark):
    from yetisearch_spark.chunking import explode_prechunked
    df = spark.createDataFrame(
        [("c1", 0, ["part one", "part two", "part three"])],
        "conv_id string, turn_idx int, chunks array<string>")
    out = explode_prechunked(df).collect()
    assert [r["text"] for r in out] == ["part one", "part two", "part three"]
    assert all(r["route"] == "c1#0" for r in out)
    assert [r["chunk_index"] for r in out] == [0, 1, 2]


def test_quality_features(spark):
    from yetisearch_spark.textstats import quality_features
    df = spark.createDataFrame(
        [(0, "This is a well formed sentence with reasonable words."),
         (1, "!!! ??? *** $$$ %%% ^^^ &&&"),
         (2, "x")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert rows[0]["quality_score"] > rows[1]["quality_score"]
    assert rows[0]["punct_ratio"] < 0.1
    assert rows[1]["punct_ratio"] > 0.5
    assert rows[2]["quality_score"] < 1.0  # too short


def test_token_counts(spark):
    from yetisearch_spark.textstats import (bpe_ish_token_count,
                                            whitespace_token_count)
    df = spark.createDataFrame([(0, "one two three"), (1, ""),
                                (2, "internationalization tokens")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", whitespace_token_count().alias("ws"),
        bpe_ish_token_count().alias("bpe")).collect()}
    assert rows[0]["ws"] == 3
    assert rows[1]["ws"] == 0
    assert rows[2]["bpe"] > rows[2]["ws"]  # long word → subword estimate


def test_langid(spark):
    from yetisearch_spark.textstats import make_langid_udf
    df = spark.createDataFrame(
        [(0, "the cat is on the mat and it is happy with this"),
         (1, "le chat est dans la maison avec les enfants pour une heure"),
         (2, "der hund ist nicht in der küche und das ist auch gut"),
         (3, "el perro está en la casa con los niños para una hora"),
         (4, "一只猫在垫子上 它很开心 一只猫在垫子上 它很开心 一只猫在垫子上")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["lang"] for r in
            df.select("doc_id", make_langid_udf()(F.col("text")).alias("lang")).collect()}
    assert rows[0] == "en" and rows[1] == "fr" and rows[2] == "de"
    assert rows[3] == "es" and rows[4] == "zh"


def test_fingerprint(spark):
    from yetisearch_spark.textstats import make_fingerprint_udf
    fp = make_fingerprint_udf()
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog " * 3),
         (1, "the quick brown fox jumps over the lazy dog " * 3),
         (2, "totally different content here about something else entirely")],
        "doc_id long, text string")
    rows = {r["doc_id"]: set(r["fp"]) for r in
            df.select("doc_id", fp(F.col("text")).alias("fp")).collect()}
    assert rows[0] == rows[1]
    overlap = len(rows[0] & rows[2]) / max(1, len(rows[0] | rows[2]))
    assert overlap < 0.2


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[7] = base[0] + rng.standard_normal(16).astype(np.float32) * 0.01
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_cosine_topk_exact(embeddings):
    from yetisearch_spark.similarity import cosine_topk
    df, base = embeddings
    q = base[0]
    rows = cosine_topk(df, q, k=5).collect()
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cos_sim"] - 1.0) < 1e-6
    assert rows[1]["vec_id"] == 7  # the planted near-neighbor
    # matches numpy brute force exactly (order + value)
    sims = (base @ q) / (np.linalg.norm(base, axis=1) * np.linalg.norm(q))
    want = np.argsort(-sims)[:5].tolist()
    assert [r["vec_id"] for r in rows] == want


def test_lsh_recall(embeddings):
    from yetisearch_spark.similarity import lsh_cosine_topk, lsh_index
    df, base = embeddings
    indexed, tables = lsh_index(df, n_planes=6, n_tables=6, dim=16)
    indexed = indexed.persist()
    rows = lsh_cosine_topk(indexed, tables, base[0], k=3).collect()
    assert rows and rows[0]["vec_id"] == 0
    assert any(r["vec_id"] == 7 for r in rows)  # near-dup recalled
    indexed.unpersist()


def test_ivf(embeddings):
    from yetisearch_spark.similarity import ivf_cosine_topk, ivf_index
    df, base = embeddings
    indexed, cents = ivf_index(df, n_cells=4, dim=16)
    indexed = indexed.persist()
    rows = ivf_cosine_topk(indexed, cents, base[0], k=3, nprobe=3).collect()
    assert rows and rows[0]["vec_id"] == 0
    indexed.unpersist()


def test_embedding_cosine_near_dup_lsh_matches_exact(spark):
    """Embedding near-dup: planted duplicates (v' = v + small noise) must
    be found identically by the exact O(n²) tier and the LSH-bucketed
    scale tier; groups collapse each duplicate family to min id."""
    import numpy as np
    import pandas as pd
    from yetisearch_spark.similarity import (cosine_pairs_exact,
                                             cosine_pairs_lsh,
                                             embedding_dup_groups)

    rng = np.random.default_rng(17)
    base = rng.standard_normal((60, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # plant near-dups of the first 12 vectors (cosine ≈ 0.995)
    for i in range(12):
        v = base[i] / np.linalg.norm(base[i])
        dup = v + 0.05 * rng.standard_normal(32) / np.sqrt(32)
        rows.append((1000 + i, (dup / np.linalg.norm(dup)).tolist()))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    exact = {(r["a"], r["b"])
             for r in cosine_pairs_exact(df, 0.9).collect()}
    lsh = {(r["a"], r["b"])
           for r in cosine_pairs_lsh(df, 0.9, n_planes=8,
                                     n_tables=8).collect()}
    assert exact == lsh
    assert len(exact) == 12
    assert all(b == a + 1000 for a, b in exact)

    groups = {r["doc_id"]: r["group_id"]
              for r in embedding_dup_groups(df, 0.9).collect()}
    assert groups == {**{i: i for i in range(12)},
                      **{1000 + i: i for i in range(12)}}


def test_connected_groups_star_with_high_id_hub(spark):
    """Regression: a component whose hub id exceeds its leaves' ids
    (edges 24—200, 45—200, 300—301) — leaf 45's own id is below all its
    neighbors, so pure pointer jumping left it a self-pointing root and
    split the component. Must collapse to min id 24."""
    from yetisearch_spark.dedup import connected_groups

    edges = spark.createDataFrame([(24, 200), (45, 200), (300, 301)],
                                  "a long, b long")
    got = {r["doc_id"]: r["group_id"] for r in connected_groups(edges).collect()}
    assert got == {24: 24, 45: 24, 200: 24, 300: 300, 301: 300}


def test_connected_groups_layered_stars(spark):
    """Two high-id hubs bridged by an even higher node; every leaf id is
    below its hub (the worst case for pointer-only propagation)."""
    from yetisearch_spark.dedup import connected_groups

    edges = [(1, 500), (2, 500), (3, 600), (4, 600), (500, 700), (600, 700)]
    got = {r["doc_id"]: r["group_id"] for r in
           connected_groups(spark.createDataFrame(edges, "a long, b long")).collect()}
    assert set(got.values()) == {1}
    assert got == {k: 1 for k in (1, 2, 3, 4, 500, 600, 700)}


def test_zero_norm_embedding_is_never_a_near_dup(spark):
    """A zero vector has no direction: 0/0 = NaN, and NaN compares
    GREATER than any number in Spark SQL, so an unguarded cosine made an
    all-zero embedding a 'near-dup' of every row and collapsed unrelated
    docs into one group (round-4 advice finding). It must match nothing
    and never reach a top-k page above real vectors."""
    import numpy as np
    from yetisearch_spark.similarity import (cosine_pairs_exact,
                                             cosine_pairs_lsh, cosine_topk,
                                             embedding_dup_groups)

    rng = np.random.default_rng(3)
    base = rng.standard_normal((10, 8))
    rows = [(i, (v / np.linalg.norm(v)).tolist()) for i, v in enumerate(base)]
    dup = base[0] / np.linalg.norm(base[0])
    rows.append((100, (dup + 1e-3 * rng.standard_normal(8)).tolist()))
    rows.append((999, [0.0] * 8))  # the poison row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r["a"], r["b"]) for r in cosine_pairs_exact(df, 0.9).collect()}
    assert exact == {(0, 100)}
    lsh = {(r["a"], r["b"])
           for r in cosine_pairs_lsh(df, 0.9, n_planes=6, n_tables=8).collect()}
    assert 999 not in {x for p in lsh for x in p}

    groups = {r["doc_id"]: r["group_id"]
              for r in embedding_dup_groups(df, 0.9, method="exact").collect()}
    assert groups == {0: 0, 100: 0}

    top = cosine_topk(df, base[0], k=3).collect()
    assert [r["vec_id"] for r in top[:2]] == [0, 100]
    assert 999 not in [r["vec_id"] for r in top]
