"""File-layout management: clustered writes give DISJOINT per-file key
ranges (proven from parquet footers, not asserted by faith), and
compaction collapses fragmented directories."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from energy_pandas_spark.sources.layout import (
    compact,
    file_column_stats,
    write_clustered,
)


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_write_clustered_disjoint_ranges(spark, tmp_path):
    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "clustered")
    write_clustered(df, out, "user_id", num_files=8)
    assert len(_parquet_files(out)) == 8
    stats = sorted(
        (lo, hi) for _, lo, hi in file_column_stats(out, "user_id") if lo is not None
    )
    # pairwise disjoint, ordered ranges -> footer stats actually skip
    for (lo1, hi1), (lo2, hi2) in zip(stats, stats[1:]):
        assert hi1 < lo2
    assert stats[0][0] == 0 and stats[-1][1] == 9999


def test_point_scan_reads_one_file(spark, tmp_path):
    """The payoff: a point predicate on the cluster key prunes to the
    single file whose range contains it (footer-level skip)."""
    df = spark.range(0, 10_000).select(F.col("id").alias("user_id"))
    out = str(tmp_path / "clustered2")
    write_clustered(df, out, "user_id", num_files=8)
    got = spark.read.parquet(out).filter(F.col("user_id") == 4242)
    assert got.count() == 1
    # every OTHER file's [min,max] excludes 4242
    containing = [
        f for f, lo, hi in file_column_stats(out, "user_id")
        if lo is not None and lo <= 4242 <= hi
    ]
    assert len(containing) == 1


def test_compact_fragmented_dir(spark, tmp_path):
    out = str(tmp_path / "frag")
    # simulate a streaming sink: 40 tiny unordered files
    spark.range(0, 4_000).select(
        (F.col("id") * 37 % 4000).alias("user_id"), F.col("id").alias("v")
    ).repartition(40).write.parquet(out)
    assert len(_parquet_files(out)) == 40
    before = spark.read.parquet(out)
    before_sum = before.agg(F.sum("v"), F.count("*")).first()
    compact(spark, out, "user_id", num_files=4)
    files = _parquet_files(out)
    assert len(files) == 4
    after = spark.read.parquet(out)
    assert after.agg(F.sum("v"), F.count("*")).first() == before_sum
    stats = sorted(
        (lo, hi) for _, lo, hi in file_column_stats(out, "user_id") if lo is not None
    )
    for (lo1, hi1), (lo2, hi2) in zip(stats, stats[1:]):
        assert hi1 < lo2


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Morton layout: per-file spans shrink in EVERY z-ordered
    dimension, where single-key clustering leaves the trailing
    dimension's span at ~full range."""
    from energy_pandas_spark.sources.layout import write_zordered

    df = spark.range(0, 16_384).select(
        (F.col("id") % 128).alias("x"),
        (F.col("id") / F.lit(128)).cast("long").alias("y"),
    )
    zdir, cdir = str(tmp_path / "zord"), str(tmp_path / "single")
    write_zordered(df, zdir, ["x", "y"], num_files=16, bits=8)
    write_clustered(df, cdir, "x", num_files=16)

    def avg_span(path, col):
        spans = [
            hi - lo
            for _, lo, hi in file_column_stats(path, col)
            if lo is not None
        ]
        return sum(spans) / len(spans)

    # both dims tighten under z-order (global span is 127 each)
    assert avg_span(zdir, "x") < 127 * 0.6
    assert avg_span(zdir, "y") < 127 * 0.6
    # single-key clustering: trailing dim y spans ~everything
    assert avg_span(cdir, "y") > 127 * 0.9
    # content preserved
    assert spark.read.parquet(zdir).count() == 16_384


def test_zorder_key_interleaves_bits(spark):
    from energy_pandas_spark.sources.layout import zorder_key

    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3)], "a long, b long")
    got = [
        r[0]
        for r in df.select(zorder_key(["a", "b"], bits=2)).collect()
    ]
    # a occupies even bit positions, b odd: (1,0)->1, (0,1)->2, (3,3)->15
    assert got == [1, 2, 15]


def test_manifest_pruned_read_touches_few_files(spark, tmp_path):
    from energy_pandas_spark.sources.layout import build_manifest, pruned_read

    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "man")
    write_clustered(df, out, "user_id", num_files=8)
    manifest = build_manifest(spark, out, ["user_id"])
    assert manifest.count() == 8

    got = pruned_read(spark, out, "user_id", 4200, 4300, manifest)
    rows = got.collect()
    assert len(rows) == 101
    # the plan should reference exactly ONE input file (disjoint ranges)
    files = {
        r["file"]
        for r in manifest.collect()
        if not (r["user_id_max"] < 4200 or r["user_id_min"] > 4300)
    }
    assert len(files) == 1
    assert got.select(F.input_file_name()).distinct().count() == 1

    # out-of-range predicate: empty frame, correct schema, no files read
    empty = pruned_read(spark, out, "user_id", 100_000, 200_000, manifest)
    assert empty.count() == 0 and "user_id" in empty.columns


def test_write_training_shards_deterministic(spark, tmp_path):
    """Shard layout: fixed shard count, md5-derived pseudo-random order,
    bit-identical across reruns, no row lost or moved."""
    import os

    from energy_pandas_spark.sources.layout import write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(2000)], "doc_id long, text string"
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(df, p1, "doc_id", n_shards=8)
    write_training_shards(df, p2, "doc_id", n_shards=8)

    dirs = sorted(d for d in os.listdir(p1) if d.startswith("shard="))
    assert len(dirs) == 8

    back = spark.read.parquet(p1)
    assert back.count() == 2000
    assert {r.doc_id for r in back.collect()} == set(range(2000))

    # per-shard content AND order identical across reruns
    for k in range(8):
        a = [r.doc_id for r in spark.read.parquet(f"{p1}/shard={k}").collect()]
        b = [r.doc_id for r in spark.read.parquet(f"{p2}/shard={k}").collect()]
        assert a == b and len(a) > 100  # md5 balance: ~250/shard
        assert a != sorted(a)  # order is shuffled, not by id


def test_compact_survives_crash_window(spark, tmp_path):
    """compact's swap now uses the backup-rename protocol: simulate the
    crash window (table renamed to backup, new table not yet landed) and
    check readers recover the data via streaming.store.read_store."""
    import shutil

    from energy_pandas_spark.sources.layout import compact, write_clustered
    from energy_pandas_spark.streaming.store import read_store

    p = str(tmp_path / "t")
    df = spark.range(1000).withColumnRenamed("id", "k")
    write_clustered(df, p, "k", num_files=4)
    compact(spark, p, "k", num_files=2)
    assert spark.read.parquet(p).count() == 1000

    shutil.move(p, p + "__backup")  # crash between the two renames
    recovered = read_store(spark, p)
    assert recovered is not None and recovered.count() == 1000


def test_write_training_shards_epoch_salt(spark, tmp_path):
    from energy_pandas_spark.sources.layout import write_training_shards

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    p1, p2, p3 = (str(tmp_path / n) for n in ("e0", "e1", "e0b"))
    write_training_shards(df, p1, "doc_id", n_shards=4, salt="epoch-0")
    write_training_shards(df, p2, "doc_id", n_shards=4, salt="epoch-1")
    write_training_shards(df, p3, "doc_id", n_shards=4, salt="epoch-0")

    def order(p):
        out = []
        for r in spark.read.parquet(p).select("doc_id", "shard").collect():
            out.append((r.shard, r.doc_id))
        return out

    def per_shard(p):
        rows = spark.read.parquet(p)
        return {
            r.shard: r.n
            for r in rows.groupBy("shard").agg(F.count("*").alias("n")).collect()
        }

    # same salt -> identical assignment; different salt -> a genuinely
    # different permutation of the same 200 rows
    assert sorted(order(p1)) == sorted(order(p3))
    assert {d for _, d in order(p1)} == set(range(200))
    assert {d for _, d in order(p2)} == set(range(200))
    assert sorted(order(p1)) != sorted(order(p2))
    assert sum(per_shard(p2).values()) == 200


def test_write_training_shards_curriculum(spark, tmp_path):
    from energy_pandas_spark.sources.layout import write_training_shards

    df = (
        spark.range(120)
        .withColumnRenamed("id", "doc_id")
        .withColumn("difficulty", (F.col("doc_id") % 3).cast("int"))
    )
    p = str(tmp_path / "cur")
    write_training_shards(df, p, "doc_id", n_shards=3, curriculum="difficulty")
    import pyarrow.parquet as pq
    import glob
    import os

    for shard_dir in sorted(glob.glob(os.path.join(p, "shard=*"))):
        rows = []
        for f in sorted(glob.glob(os.path.join(shard_dir, "*.parquet"))):
            t = pq.read_table(f)
            rows.extend(t.column("difficulty").to_pylist())
        # file order within a shard is the written row order: ascending
        # difficulty bands
        assert rows == sorted(rows)
