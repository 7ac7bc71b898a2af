"""Streaming IMAGE near-dup ingest: grow a deduplicated media corpus
from an image stream, rejecting pixel-level near-copies of accepted
history — the multimodal twin of the text ingests
(``streaming/ingest.py`` MinHash, ``winnow_ingest.py`` passages).

The detector is the perceptual-hash chain (``operators/multimodal.py``:
decode → aHash signature → banded Hamming LSH): a re-encoded or
uniformly brightness-shifted copy keeps its signature, so "near-copy"
becomes a banded integer equi-join question. Near-dup state is
corpus-sized, so it lives where corpus-sized state belongs — a
persisted (media_id, phash) store of two longs per accepted image, a
vanishing fraction of the image bytes.

Per micro-batch (foreachBatch):

1. decode + signature ONCE per batch (the decode is the batch's
   dominant CPU cost; everything downstream reuses the persisted
   signatures),
2. in-batch dedup: :func:`~energy_pandas_spark.operators.multimodal.
   image_neardup_pairs`'s banding via ``hamming_neardup_pairs`` on the
   precomputed signatures → connected components → smallest id
   survives,
3. cross-store rejection: ``hamming_cross_hits`` against the store's
   signatures, excluding any half-written copy of THIS batch id
   (replay safety),
4. accepted media land in the media table, their signatures in the
   phash store — both ``partitionBy('__batch_id')`` with dynamic
   partition overwrite: a replayed batch overwrites exactly its own
   partitions (the store contract ``streaming/store.py`` states).

Scale shape: image BYTES never shuffle — they are written straight
from the (persisted) batch; every join moves (band, bucket, sig)
longs only.
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

__all__ = ["make_image_ingest_writer", "image_ingest", "read_phash_store"]


def make_image_ingest_writer(
    media_path: str,
    phash_path: str,
    id_col: str = "media_id",
    content_col: str = "content",
    meta_col: str = "meta",
    max_hamming: int = 4,
    max_bucket: int = 1000,
    strict: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing).
    ``max_hamming`` defines the store's dup radius and must stay fixed
    for the store's lifetime."""
    from energy_pandas_spark.operators.dedup import (
        hamming_cross_hits,
        hamming_neardup_pairs,
    )
    from energy_pandas_spark.operators.graph import dedup_clusters
    from energy_pandas_spark.operators.multimodal import (
        decode_features,
        perceptual_hash,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with persist_scope() as persist:
            batch = persist(batch)
            phashed = persist(
                perceptual_hash(
                    decode_features(
                        batch, dim=64, id_col=id_col,
                        content_col=content_col, meta_col=meta_col,
                        strict=strict,
                    ),
                    "features",
                    id_col,
                )
            )
            # strict=False leaves phash NULL for images the decoder cannot
            # handle: those rows are KEPT in the media corpus (an
            # undecodable input is not evidence of duplication — the same
            # posture as url_ingest's NULL-canonical rows) but contribute
            # no signature to the store.
            sigs = phashed.filter(F.col("phash").isNotNull())
            undecodable = phashed.filter(F.col("phash").isNull()).select(id_col)

            # 1. in-batch near-dup clusters, smallest id survives
            pairs = hamming_neardup_pairs(
                sigs, id_col=id_col, sig_col="phash",
                max_hamming=max_hamming, max_bucket=max_bucket,
            )
            drops = (
                dedup_clusters(pairs)
                .filter(~F.col("is_survivor"))
                .select(F.col("doc_id").alias(id_col))
            )
            fresh_sigs = sigs.join(drops, id_col, "left_anti")

            # 2. cross-store rejection against history
            store = read_history(spark, phash_path, batch_id)
            if store is not None:
                hit = hamming_cross_hits(
                    fresh_sigs, store.select("phash"), id_col=id_col,
                    sig_col="phash", max_hamming=max_hamming,
                    max_bucket=max_bucket,
                )
                fresh_sigs = fresh_sigs.join(hit, id_col, "left_anti")
            fresh_sigs = persist(fresh_sigs)

            # 3. idempotent landing: media rows for accepted ids +
            # their signatures
            accepted = batch.join(
                fresh_sigs.select(id_col).unionByName(undecodable),
                id_col,
                "left_semi",
            )
            land(accepted, media_path, batch_id)
            land(fresh_sigs, phash_path, batch_id)

    return write_batch


def image_ingest(
    stream: DataFrame,
    media_path: str,
    phash_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the ingest query; returns the StreamingQuery."""
    write_batch = make_image_ingest_writer(media_path, phash_path, **kwargs)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_phash_store(spark: SparkSession, phash_path: str) -> DataFrame:
    """The accepted corpus's signature store (media_id, phash)."""
    return spark.read.parquet(phash_path).drop("__batch_id")
