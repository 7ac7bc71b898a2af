"""Streaming near-dup corpus ingest: grow a deduplicated corpus from a
document stream, at NEAR-dup (MinHash) level.

``streaming/stateful.py`` already rejects exact re-deliveries by
content digest with bounded operator state. Near-dup state cannot live
in an operator — it is the banded signature set of the ENTIRE accepted
corpus — so this sink keeps it where corpus-sized state belongs: a
persisted band-store table (operators/dedup.py:build_band_store),
joined per micro-batch and appended per accepted batch.

Per micro-batch (foreachBatch):

1. in-batch near-dup dedup (``minhash_dedup``: banded LSH + connected
   components, smallest id survives),
2. cross-corpus rejection against the band store
   (``crosscorpus_neardup_pairs`` with ``store_bands=`` — the accepted
   corpus's TEXT is touched only to verify the tiny candidate set),
3. accepted docs land in the corpus table, their bands in the band
   store — both written ``partitionBy('__batch_id', ...)`` with
   dynamic partition overwrite.

Replay safety: a replayed batch OVERWRITES exactly its own partitions
and both reads exclude the in-flight batch id — the store contract
``streaming/store.py`` states.

Scale shape: per-batch cost is banding the batch (map-side) + one
bucket equi-join against band partitions + verify joins on candidates.
The band store grows as (id, band, bucket) longs — a tiny fraction of
text bytes — and is partitioned by band so the join prunes per band.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.store import (
    land,
    persist_scope,
    read_history,
    start,
)

__all__ = ["make_neardup_ingest_writer", "neardup_ingest", "read_corpus"]


def make_neardup_ingest_writer(
    corpus_path: str,
    bands_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    seed: int = 13,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing of
    dedup/replay behavior). MinHash parameters must stay fixed for the
    lifetime of the store — they define the signature space."""
    from energy_pandas_spark.operators.dedup import (
        _banded_buckets,
        crosscorpus_neardup_pairs,
        minhash_dedup,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with persist_scope() as persist:
            batch = persist(batch)
            # 1. in-batch near-dup dedup (keep smallest id per cluster)
            drops = minhash_dedup(
                batch,
                text_col,
                id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_size=shingle_size,
                threshold=threshold,
                max_bucket=max_bucket,
            )
            fresh = batch.join(drops, id_col, "left_anti")

            # 2. cross-corpus rejection against accepted history
            corpus = read_history(spark, corpus_path, batch_id)
            store_bands = read_history(spark, bands_path, batch_id)
            if corpus is not None and store_bands is not None:
                hits = crosscorpus_neardup_pairs(
                    fresh,
                    corpus,
                    text_col,
                    id_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    shingle_size=shingle_size,
                    threshold=threshold,
                    max_bucket=max_bucket,
                    seed=seed,
                    store_bands=store_bands,
                )
                fresh = fresh.join(
                    hits.select(F.col("id_new").alias(id_col)).distinct(),
                    id_col,
                    "left_anti",
                )
            fresh = persist(fresh)

            # 3. idempotent landing in both tables
            land(fresh, corpus_path, batch_id)
            new_bands = _banded_buckets(
                fresh, text_col, id_col, num_hashes, bands, shingle_size, seed
            )
            land(new_bands, bands_path, batch_id, by=("__batch_id", "band"))

    return write_batch


def neardup_ingest(
    stream: DataFrame,
    corpus_path: str,
    bands_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the ingest query; returns the StreamingQuery."""
    write_batch = make_neardup_ingest_writer(corpus_path, bands_path, **kwargs)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_corpus(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The accepted corpus (without the batch bookkeeping column)."""
    return spark.read.parquet(corpus_path).drop("__batch_id")
