"""Streaming near-dup ingest (streaming/ingest.py): the corpus grows
only by genuinely novel documents, replays are idempotent, and the
band store stays consistent with the accepted corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_pandas_spark.streaming.ingest import (
    make_neardup_ingest_writer,
    read_corpus,
)


@pytest.fixture()
def writer_and_paths(tmp_path):
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    w = make_neardup_ingest_writer(
        corpus,
        bands,
        num_hashes=64,
        bands=32,
        shingle_size=2,
        threshold=0.3,
    )
    return w, corpus, bands


BASE = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown fox leaps over the lazy dog again and again"
OTHER = "completely different content about spark query engines and shuffles"
THIRD = "yet another unrelated document mentioning catalysts and codegen stages"


def test_ingest_dedups_within_and_across_batches(spark, writer_and_paths):
    w, corpus_path, bands_path = writer_and_paths

    b0 = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, OTHER)], "doc_id long, text string"
    )
    w(b0, 0)
    got0 = {r.doc_id for r in read_corpus(spark, corpus_path).collect()}
    assert got0 == {0, 2}  # in-batch exact dup dropped, smallest id kept

    # batch 1: a near-dup of history, a re-delivery, and a novel doc
    b1 = spark.createDataFrame(
        [(10, NEAR), (11, OTHER), (12, THIRD)], "doc_id long, text string"
    )
    w(b1, 1)
    got1 = {r.doc_id for r in read_corpus(spark, corpus_path).collect()}
    assert got1 == {0, 2, 12}  # only the novel doc was accepted

    # band store covers exactly the accepted corpus
    bands = spark.read.parquet(bands_path)
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == got1


def test_ingest_replay_is_idempotent(spark, writer_and_paths):
    w, corpus_path, bands_path = writer_and_paths

    b0 = spark.createDataFrame([(0, BASE), (1, OTHER)], "doc_id long, text string")
    b1 = spark.createDataFrame([(2, THIRD)], "doc_id long, text string")
    w(b0, 0)
    w(b1, 1)
    before = sorted(
        tuple(r) for r in read_corpus(spark, corpus_path).collect()
    )

    # crash-replay of batch 1: foreachBatch re-invokes with the same id;
    # the batch must overwrite its own partition, not duplicate or
    # self-reject against its half-written previous attempt
    w(b1, 1)
    after = sorted(tuple(r) for r in read_corpus(spark, corpus_path).collect())
    assert after == before
    bands = spark.read.parquet(bands_path)
    per_batch = {
        r["__batch_id"]: r["n"]
        for r in bands.groupBy("__batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_batch) == {0, 1}  # no duplicated band partitions


def test_ingest_streaming_end_to_end(spark, tmp_path):
    """Drive the real writeStream path (availableNow file source)."""
    from energy_pandas_spark.streaming.ingest import neardup_ingest

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = neardup_ingest(
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "bands"),
        str(tmp_path / "ckpt"),
        num_hashes=64,
        bands=32,
        shingle_size=2,
        threshold=0.3,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in read_corpus(spark, str(tmp_path / "corpus")).collect()}
    # 0/1 are near-dups of each other: exactly one survives, plus OTHER
    assert 2 in got and len(got) == 2 and (0 in got) != (1 in got)
