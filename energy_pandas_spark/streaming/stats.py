"""Continuous sketch maintenance: keep a per-key HLL distinct-count
table up to date from a stream without ever rescanning history.

Each micro-batch reduces to per-key batch sketches (one map-combined
aggregate over the batch only), unions them with the stored sketches,
and swaps the tiny sketch table atomically (the stage + rename swap
protocol of ``streaming/store.py``, shared with
``sources.layout.compact``). Any rollup level then reads off the table
via ``operators.sketches.merge_cardinality`` — no scan of the
underlying events, ever.

Replay safety comes from the algebra, not bookkeeping: an HLL sketch
is a vector of register maxima and union is element-wise ``max``, so
re-merging the SAME batch sketch is a no-op. At-least-once delivery
therefore cannot inflate estimates — no batch-id stamps needed (unlike
the sum-merge rollup in ``streaming/rollup.py``, where replays would
double-count).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.store import land, read_store, start, swap

__all__ = [
    "make_cardinality_writer",
    "continuous_cardinality",
    "read_cardinality",
    "make_quantile_writer",
    "continuous_quantiles",
    "read_quantiles",
    "make_portable_hll_writer",
    "continuous_portable_hll",
    "read_portable_hll",
]


def make_cardinality_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
) -> Callable[[DataFrame, int], None]:
    """Build the per-micro-batch ``foreachBatch`` writer (exposed for
    direct testing of crash/replay behavior)."""
    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = batch.groupBy(*keys).agg(
            F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("hll")
        )
        existing = read_store(spark, path)  # None on first batch
        if existing is not None:
            merged = (
                existing.unionByName(fresh)
                .groupBy(*keys)
                .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
            )
        else:
            merged = fresh
        tmp = path.rstrip("/") + "__staging"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        swap(spark, tmp, path)

    return write_batch


def continuous_cardinality(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_cardinality_writer(path, key_cols, value_col, lgk)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_cardinality(
    spark: SparkSession,
    path: str,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Estimate distinct counts at any rollup level from the sketch
    table alone."""
    from energy_pandas_spark.operators.sketches import merge_cardinality

    table = read_store(spark, path)
    if table is None:
        raise FileNotFoundError(f"no sketch table at {path}")
    return merge_cardinality(table, by=by)


def make_quantile_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch writer maintaining a per-key KLL quantile sketch
    table. Unlike HLL union (register-max, naturally idempotent), KLL
    merge DUPLICATES weight on replay — so every table version carries
    a ``__batch_id`` high-water column, and because the table swaps
    atomically (all-or-nothing), a replayed batch id <= the stored
    high water is skipped outright. That single stamp is sufficient
    here precisely because there is no partial-partition state to
    reason about (contrast: the rollup sink needs per-partition
    stamps).

    PAIRING CONTRACT: batch ids are monotonic only per CHECKPOINT
    directory. A table must live and die with one checkpoint — restart
    the stream against the same table with a fresh/cleared checkpoint
    and the restarted ids (0, 1, ...) all fall under the stored high
    water, silently skipping every new batch until the old high water
    is passed. To rebuild, drop the table together with its
    checkpoint."""
    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        existing = read_store(spark, path)
        if existing is not None:
            high = existing.agg(F.max("__batch_id")).collect()[0][0]
            if high is not None and batch_id <= high:
                return  # replayed batch: table already contains it
        fresh = batch.groupBy(*keys).agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("kll")
        )
        if existing is not None:
            from energy_pandas_spark.operators.sketches import fold_kll

            both = existing.select(*keys, "kll").unionByName(fresh)
            merged = both.groupBy(*keys).agg(
                fold_kll(F.collect_list("kll")).alias("kll")
            )
        else:
            merged = fresh
        merged = merged.withColumn("__batch_id", F.lit(batch_id).cast("long"))
        tmp = path.rstrip("/") + "__staging"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        swap(spark, tmp, path)

    return write_batch


def continuous_quantiles(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
    trigger_available_now: bool = True,
):
    """Start the KLL quantile-table maintenance query."""
    write_batch = make_quantile_writer(path, key_cols, value_col, k)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_quantiles(
    spark: SparkSession,
    path: str,
    quantiles: Sequence[float],
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Quantile estimates at any rollup level from the sketch table."""
    from energy_pandas_spark.operators.sketches import merge_quantiles

    table = read_store(spark, path)
    if table is None:
        raise FileNotFoundError(f"no sketch table at {path}")
    return merge_quantiles(table, quantiles, by=by, sketch_col="kll")


# ---------------------------------------------------------------------------
# Count-Min frequency table
# ---------------------------------------------------------------------------


def make_cm_writer(
    path: str,
    value_col: str,
    by: Sequence[str] | None = None,
    depth: int = 4,
    width: int = 2048,
    hasher=None,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch Count-Min maintenance. Unlike HLL (whose union
    is idempotent, so replays merge harmlessly) CM counters are SUMS —
    a replayed batch must not double-add. So the table stores PARTIAL
    sparse sketches partitioned by ``__batch_id`` with dynamic
    partition overwrite: a replay rewrites exactly its own partition,
    nothing merges at write time, and no swap protocol is needed
    (the store contract ``streaming/store.py`` states).
    ``read_cm`` merges at read time — one integer (row, col) sum over
    batches * depth * width longs, executor-trivial at any horizon."""
    from energy_pandas_spark.operators.sketches import cm_sketch

    keys = list(by or [])

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        sk = cm_sketch(
            batch, value_col, by=keys, depth=depth, width=width,
            hasher=hasher,
        )
        land(sk, path, batch_id)

    return write_batch


def continuous_cm(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    value_col: str,
    by: Sequence[str] | None = None,
    depth: int = 4,
    width: int = 2048,
    hasher=None,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_cm_writer(path, value_col, by, depth, width, hasher)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_cm(
    spark: SparkSession,
    path: str,
    by: str | Sequence[str] | None = None,
) -> DataFrame:
    """The merged Count-Min table at any rollup level — feed it to
    ``operators.sketches.cm_query`` for point estimates."""
    from energy_pandas_spark.operators.sketches import cm_merge

    table = read_store(spark, path)
    if table is None:
        raise FileNotFoundError(f"no sketch table at {path}")
    return cm_merge(table.drop("__batch_id"), by=by)


# ---------------------------------------------------------------------------
# engine-portable HLL register tables (operators/sketches.py:hll_registers)
# ---------------------------------------------------------------------------


def make_portable_hll_writer(
    path: str,
    key_cols: Sequence[str],
    value_col: str,
    lgm: int = 8,
) -> Callable[[DataFrame, int], None]:
    """The md5-register twin of :func:`make_cardinality_writer`: the
    maintained table is a sparse ``(keys..., bucket, r)`` register
    table any SQL engine can replay (operators/sketches.py module
    notes), instead of an opaque DataSketches blob. Merge is
    element-wise ``max`` — idempotent, so at-least-once replays cannot
    inflate estimates; no batch-id stamps needed (the HLL-union
    argument above)."""
    from energy_pandas_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    keys = list(key_cols)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = hll_registers(batch, value_col, by=keys, lgm=lgm)
        existing = read_store(spark, path)  # None on first batch
        merged = (
            hll_merge(existing.unionByName(fresh), by=keys)
            if existing is not None
            else fresh
        )
        tmp = path.rstrip("/") + "__staging"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        swap(spark, tmp, path)

    return write_batch


def continuous_portable_hll(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    value_col: str,
    lgm: int = 8,
    trigger_available_now: bool = True,
):
    """Start the maintenance query; returns the StreamingQuery."""
    write_batch = make_portable_hll_writer(path, key_cols, value_col, lgm)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_portable_hll(
    spark: SparkSession,
    path: str,
    by: Sequence[str] | str | None = None,
    lgm: int = 8,
) -> DataFrame:
    """Estimates at any rollup level from the stored register table:
    registers merge up to ``by`` (element-wise max) and read out
    through ``hll_estimate`` — never a rescan of the underlying
    stream. ``lgm`` MUST match the writer's."""
    from energy_pandas_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
    )

    # through read_store like every other sketch reader: recovers the
    # __backup left by a writer that crashed between the two swap
    # renames (a bare spark.read.parquet would raise PATH_NOT_FOUND in
    # exactly that window)
    regs = read_store(spark, path)
    if regs is None:
        raise FileNotFoundError(f"no portable-HLL table at {path}")
    return hll_estimate(hll_merge(regs, by=by), by=by, lgm=lgm)
