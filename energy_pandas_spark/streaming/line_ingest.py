"""Streaming cross-batch LINE dedup ingest: grow a corpus whose
normalized non-blank lines are globally unique — the streaming form of
the C4 "remove repeated lines" step (operators/text.py:line_dedup).

Line-dedup state is corpus-sized (every accepted line's digest), so it
lives where corpus-sized state belongs: a persisted digest table of
(h) longs — 8 bytes per accepted line, a tiny fraction of text bytes —
appended per batch, not in operator state.

Per micro-batch (foreachBatch):

1. explode the batch into (id, idx, line, key, h) rows (blank lines
   carry a NULL key and always survive — they are structure);
2. in-batch winner per digest = lexicographic (id, idx) struct min,
   one map-combined hash aggregate;
3. winners anti-join the digest store (excluding any half-written copy
   of THIS batch — replay safety), so a line ever accepted before
   never re-enters;
4. documents rebuild from surviving lines; docs whose rebuilt text is
   empty are dropped (they carried nothing novel);
5. accepted docs land partitioned by ``__batch_id`` with dynamic
   partition overwrite, and the fresh digests append to the store the
   same way — a replayed batch overwrites exactly its own partitions,
   the store contract ``streaming/store.py`` states.

Scale shape: per-batch cost is the batch explode (map-side), one
digest aggregate, and one anti-join against the store — the store scan
reads (h) longs only, no text. The batch's line rows persist for the
two consumers (winner agg + rebuild join), mirroring the batch
operator's exchange-reuse note.
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

__all__ = [
    "make_line_dedup_ingest_writer",
    "line_dedup_ingest",
    "read_line_corpus",
]


def make_line_dedup_ingest_writer(
    corpus_path: str,
    digests_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    drop_empty: bool = True,
    pre_filter: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing of
    dedup/replay behavior).

    ``pre_filter`` is an optional quality gate applied to each batch
    BEFORE dedup (e.g. ``operators.text.gopher_filter``) — rejected
    documents contribute no digests, so they can never block a later
    good document's lines."""
    from energy_pandas_spark.operators.text import _line_rows

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if pre_filter is not None:
            batch = pre_filter(batch)
        with persist_scope() as persist:
            # persist: the batch source feeds the line explosion AND the
            # final non-text-column join — without this an availableNow
            # file source re-reads the batch's input files per consumer
            batch = persist(batch)
            lines = persist(
                _line_rows(batch, text_col, id_col, sep)
                .withColumn(
                    "pos",
                    F.struct(
                        F.col(id_col).cast("long").alias("i"),
                        F.col("idx").alias("x"),
                    ),
                )
                .withColumn("h", F.xxhash64(F.lit("line-v1"), F.col("key")))
            )
            store = read_history(spark, digests_path, batch_id)
            winners = (
                lines.filter(F.col("key").isNotNull())
                .groupBy("h")
                .agg(F.min("pos").alias("win"))
            )
            if store is not None:
                winners = winners.join(store.select("h"), "h", "left_anti")
            winners = persist(winners)

            kept = (
                lines.join(winners, "h", "left")
                .filter(
                    F.col("key").isNull() | (F.col("pos") == F.col("win"))
                )
                .groupBy(id_col)
                .agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("idx").alias("i"), F.col("line").alias("l")
                            )
                        )
                    ).alias("__il")
                )
                .select(
                    F.col(id_col),
                    F.array_join(
                        F.transform("__il", lambda s: s.getField("l")), sep
                    ).alias(text_col),
                    F.size("__il").cast("long").alias("n_lines_kept"),
                )
            )
            if drop_empty:
                kept = kept.filter(F.trim(F.col(text_col)) != "")
                how = "inner"
            else:
                # batch line_dedup keeps a document whose every line
                # was already in the store (text='', 0 lines); an
                # inner join here would silently drop it — LEFT join
                # + coalesce mirrors the batch contract
                how = "left"
            out = batch.select(
                *[c for c in batch.columns if c != text_col]
            ).join(kept, id_col, how)
            if not drop_empty:
                out = out.withColumn(
                    text_col, F.coalesce(F.col(text_col), F.lit(""))
                ).withColumn(
                    "n_lines_kept",
                    F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")),
                )
            land(out, corpus_path, batch_id)
            land(winners.select("h"), digests_path, batch_id)

    return write_batch


def line_dedup_ingest(
    stream: DataFrame,
    corpus_path: str,
    digests_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the ingest query; returns the StreamingQuery."""
    write_batch = make_line_dedup_ingest_writer(
        corpus_path, digests_path, **kwargs
    )
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_line_corpus(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The accepted line-deduped corpus (without batch bookkeeping)."""
    return spark.read.parquet(corpus_path).drop("__batch_id")
