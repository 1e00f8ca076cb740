"""Round 7: the vectorized posting-runs kernel must produce an index
whose decoded content is EXACTLY the per-(term, doc) tf/positions/
doc_len mapping of the analyzed corpus — single- and multi-field,
including small blocks and the per-field position offsets."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from yetisearch_spark.build import FIELD_OFFSET, build_index, load_docs
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.postings import decode_posting_block


def _decoded_index(spark, idx_dir):
    """term → {doc_id: (tf, doc_len, positions tuple)} from the blocks."""
    rows = spark.read.parquet(os.path.join(idx_dir, "postings")).collect()
    out: dict = {}
    for r in rows:
        ids, tfs, dls, poss = decode_posting_block(r["data"],
                                                   with_positions=True)
        assert int(r["n_docs"]) == ids.size
        assert int(r["min_doc"]) == int(ids[0])
        assert int(r["max_doc"]) == int(ids[-1])
        assert (np.diff(ids) > 0).all()          # ascending, unique
        term = out.setdefault(r["term"], {})
        for d, tf, dl, ps in zip(ids, tfs, dls, poss):
            assert int(d) not in term, (r["term"], int(d), "dup doc")
            assert tf == ps.size
            term[int(d)] = (int(tf), int(dl), tuple(int(p) for p in ps))
    return out


def _reference(spark, idx_dir, fields):
    docs = load_docs(spark, idx_dir).collect()
    ref: dict = {}
    for row in docs:
        toks = row["tokens"]
        if not toks:
            continue
        seen: dict = {}
        if len(fields) == 1:
            for pos, t in enumerate(toks):
                seen.setdefault(t, []).append(pos)
        else:
            j = 0
            for f, ln in enumerate(row["field_lens"]):
                for jj in range(min(ln, FIELD_OFFSET)):
                    seen.setdefault(toks[j + jj],
                                    []).append(f * FIELD_OFFSET + jj)
                j += ln
        for t, ps in seen.items():
            ref.setdefault(t, {})[int(row["doc_id"])] = \
                (len(ps), int(row["doc_len"]), tuple(ps))
    return ref


@pytest.mark.parametrize("multi", [False, True])
def test_build_kernel_exact_content(spark, tmp_path, multi):
    out = str(tmp_path / f"kidx_{multi}")
    pdf = generate_transcripts(600, seed=31)
    df = spark.createDataFrame(pdf)
    kwargs = {}
    if multi:
        df = df.withColumn(
            "title", F.concat_ws(" ", F.slice(F.split(F.col("text"),
                                                      r"\s+"), 1, 3)))
        kwargs["fields"] = ["title", "text"]
    build_index(spark, df, out, num_buckets=4, block_size=4,
                shuffle_partitions=4, **kwargs)
    got = _decoded_index(spark, out)
    ref = _reference(spark, out, kwargs.get("fields", ["text"]))
    assert set(got) == set(ref)
    for t in ref:
        assert got[t] == ref[t], f"term {t!r} mismatch"


def test_binary_offsets_refuse_2gib_batch():
    """The kernel's data column has int32 offsets: a batch reaching
    2**31 bytes must fail loudly instead of wrapping."""
    from yetisearch_spark.build import _binary_offsets

    ok = _binary_offsets(np.array([0, 5, 2**31 - 1], dtype=np.int64))
    assert ok.dtype == np.int32 and ok.tolist() == [0, 5, 2**31 - 1]
    with pytest.raises(ValueError, match="2 GiB"):
        _binary_offsets(np.array([0, 2**31], dtype=np.int64))
