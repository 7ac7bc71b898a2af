"""On-disk stores that the streaming writers maintain one micro-batch
at a time — the one place their protocol lives.

The store contract
------------------

Corpus-sized state (dedup digests, band and signature stores, accepted
corpora, per-batch partial counts, rollups) lives in parquet tables,
never in operator state. Every ``foreachBatch`` writer in this package
keeps them by these rules:

1. **Landing.** A batch's rows land with :func:`land`: stamped with the
   batch id in a ``__batch_id`` column and written by *dynamic*
   partition overwrite. Stores partitioned by ``__batch_id`` (the
   ingest stores, the Count-Min and template partials) therefore hold
   one partition per batch, and a write replaces exactly the
   partitions it touches. Nothing merges at write time.
2. **Idempotency.** The idempotency unit is the batch id, which
   Structured Streaming keeps deterministic per checkpoint directory
   (the ``foreachBatch`` contract). A replayed batch overwrites its own
   partitions, so at-least-once delivery can neither double-ingest nor
   leave half a batch counted as history. The rollup partitions by
   ``day`` instead and skips days already stamped with the replayed id
   (``streaming/rollup.py``).
3. **History.** A writer reads history with :func:`read_history`: the
   store without the in-flight batch's own partition. A replay never
   rejects its rows against a half-written copy of itself.
4. **Unreadable is not empty.** :func:`read_store` returns ``None``
   only for a path that was never written, or a directory that holds no
   data files yet (a crash after mkdir). Any other failure (a corrupt
   footer, a transient FS error) raises and fails the batch, which is
   retryable. Reading it as "no history" would land the batch without
   dedup against history, or merge a rollup day from the new batch
   alone, and silently lose or duplicate data.
5. **Two tables.** A writer that lands two tables writes them in a
   fixed order. A crash between the writes leaves the first table
   holding the batch and the second not; the replay rewrites both.
   Readers between the crash and the replay see that torn state, so
   the order is chosen to make it harmless (``templates.py`` lands
   ``docs/`` before ``lines/``).
6. **Persists.** Every persist a batch takes is registered on the
   batch's :func:`persist_scope` as it is taken, and released when the
   batch ends, whether the batch returns or raises.

Sketch tables whose merge is a whole-table rewrite (``stats.py``'s HLL
and KLL tables, ``sources/layout.compact``) use the swap protocol
instead: stage the new table, then :func:`swap` it in by renaming the
old one to ``__backup`` first. :func:`read_store` restores a
``__backup`` that an interrupted swap left behind.

:func:`start` wires any writer into a streaming query.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager
from typing import Callable, Iterator, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "land",
    "persist_scope",
    "read_history",
    "read_store",
    "recover_backup",
    "start",
    "swap",
]


def _fs_path(spark: SparkSession, p: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(conf), path


def swap(spark: SparkSession, tmp: str, path: str) -> None:
    """Crash-safe table swap via a backup rename (HDFS rename is atomic;
    a bare delete-then-rename has a window where the table is simply
    gone, which silently discards all history on replay):

    1. drop any stale ``__backup`` left by a crash after a prior step 3,
    2. rename current -> ``__backup`` (old data is never deleted while
       it is the only copy),
    3. rename staging -> current,
    4. drop ``__backup``.

    A crash between 2 and 3 leaves the old table intact under
    ``__backup``; :func:`read_store` restores it before the replayed
    batch re-merges, so the documented all-or-nothing guarantee holds.

    Reader caveat: the guarantee is for reads that LIST the directory
    after a swap completes. A lazy DataFrame whose file listing was
    captured BEFORE a swap races the step-4 backup delete — its action
    can hit missing files. Callers that hold reads across maintenance
    commits must re-read (or collect eagerly); the sketch tables are
    1-file coalesced precisely so eager reads are cheap."""
    fs, dst = _fs_path(spark, path)
    _, src = _fs_path(spark, tmp)
    _, bak = _fs_path(spark, path.rstrip("/") + "__backup")
    fs.delete(bak, True)
    if fs.exists(dst) and not fs.rename(dst, bak):
        raise IOError(f"sketch table backup {path} failed")
    if not fs.rename(src, dst):
        if fs.exists(bak):  # restore so the table is never lost
            fs.rename(bak, dst)
        raise IOError(f"sketch table swap {tmp} -> {path} failed")
    fs.delete(bak, True)


def recover_backup(spark: SparkSession, path: str) -> bool:
    """If ``path`` is missing but a ``__backup`` from an interrupted
    :func:`swap` survives, restore it. Returns True when the table
    exists after the call."""
    fs, dst = _fs_path(spark, path)
    if not fs.exists(dst):
        _, bak = _fs_path(spark, path.rstrip("/") + "__backup")
        if fs.exists(bak):
            fs.rename(bak, dst)
    return bool(fs.exists(dst))


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The store at ``path``, or ``None`` when it holds no data yet
    (contract rule 4). Restores an interrupted swap's ``__backup``
    first. The Hadoop FS probe also keeps a missing first-batch table
    from logging a full WARN stacktrace per read."""
    if not recover_backup(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


def read_history(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """The ``__batch_id``-partitioned store without the in-flight
    batch's own partition and without the bookkeeping column (contract
    rule 3); ``None`` when the store holds no data yet."""
    store = read_store(spark, path)
    if store is None:
        return None
    return store.filter(F.col("__batch_id") != batch_id).drop("__batch_id")


def land(
    df: DataFrame,
    path: str,
    batch_id: int,
    by: Sequence[str] = ("__batch_id",),
) -> None:
    """Stamp ``df`` with ``batch_id`` and overwrite exactly the ``by``
    partitions it touches (contract rule 1). The per-write option
    leaves the session's ``partitionOverwriteMode`` alone, so writers
    sharing a session cannot race on it."""
    (
        df.withColumn("__batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*by)
        .parquet(path)
    )


@contextmanager
def persist_scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """``with persist_scope() as persist:`` — ``persist(df)`` persists
    ``df`` at the default level and registers its release as it is
    taken; every registered persist is released, newest first, when
    the block exits, whether it returns or raises (contract rule 6)."""
    with ExitStack() as stack:

        def persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            stack.callback(df.unpersist)
            return df

        yield persist


def start(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
):
    """Run ``write_batch`` on every micro-batch of ``stream`` under the
    ``checkpoint`` directory; ``available_now=True`` drains the source
    and stops. Returns the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
