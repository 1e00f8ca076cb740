"""Real Structured Streaming ingestion: readStream → foreachBatch segment
writer → segment-aware search (§2.15 — the reference has no streaming
subsystem; this is the Spark-native incremental story end-to-end)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType, TimestampType)

from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.build import build_index


TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def test_readstream_foreachbatch_segments(spark, tmp_path):
    from yetisearch_spark.streaming import (GlobalSegmentedIndex,
                                            list_segments, live_docs,
                                            streaming_index_writer)

    # base index
    base = generate_transcripts(200, seed=31)
    idx_dir = str(tmp_path / "stream_idx")
    build_index(spark, spark.createDataFrame(base), idx_dir, num_buckets=4)

    # landing zone with two micro-batch files
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, seed in enumerate((32, 33)):
        pdf = generate_transcripts(40, seed=seed)
        pdf["conv_id"] = pdf["conv_id"].str.replace("conv_", f"live{i}_")
        pdf.loc[pdf.index[0], "text"] = f"streamed pangolin marker {i}"
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            str(landing / f"batch_{i}"))

    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", "4")
              .parquet(str(landing / "*")))
    q = (stream.writeStream
         .foreachBatch(streaming_index_writer(spark, idx_dir))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(300)

    assert list_segments(idx_dir)  # ≥1 committed segment
    seg = GlobalSegmentedIndex(spark, idx_dir, cache_postings=False,
                               cache_docs=False)
    assert seg.n_docs == 200 + 80
    hits = seg.search("pangolin", k=10).collect()
    assert len(hits) == 2
    assert all(r["doc_id"] >= 200 for r in hits)
    # streamed docs join back to their text (id-space consistency under
    # streaming ingestion)
    ids = [r["doc_id"] for r in hits]
    texts = [r["text"] for r in live_docs(spark, idx_dir)
             .where(F.col("doc_id").isin(ids)).collect()]
    assert all("pangolin" in t for t in texts)
