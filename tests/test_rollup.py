"""Continuous rollup sink: streaming maintenance == batch recompute."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_pandas_spark.streaming.events import windowed_aggregate
from energy_pandas_spark.streaming.rollup import continuous_rollup


def _write_batchfile(spark, rows, dest):
    spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).coalesce(1).write.parquet(dest)


def test_rollup_matches_batch_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "rollup")
    chk = str(tmp_path / "chk")
    # batch 1 covers part of hour 10; batch 2 adds more of hour 10 + hour 11
    _write_batchfile(
        spark,
        [
            (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (1, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
            (2, "2024-01-01 10:20:00", 2, "view", 3.0, "{}"),
        ],
        src + "/b1",
    )
    _write_batchfile(
        spark,
        [
            (3, "2024-01-01 10:40:00", 1, "click", 4.0, "{}"),
            (4, "2024-01-01 11:05:00", 2, "view", 5.0, "{}"),
        ],
        src + "/b2",
    )
    from energy_pandas_spark.streaming.events import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = continuous_rollup(stream, out, chk)
    assert q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in windowed_aggregate(spark.read.parquet(src + "/*")).collect()
    }
    assert got == want and len(got) == 3

    # replay with the same checkpoint: no new files -> table unchanged
    q2 = continuous_rollup(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*"),
        out,
        chk,
    )
    assert q2.awaitTermination(120)
    again = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_replayed_batch_never_double_merges(spark, tmp_path):
    """At-least-once crash simulation: the SAME micro-batch is applied
    twice with the marker file missing (as if the driver died between
    the data write and the marker write) — the per-partition
    ``__batch_id`` stamp must make the replay a no-op."""
    import shutil

    from energy_pandas_spark.streaming.rollup import make_rollup_writer

    out = str(tmp_path / "rollup")
    src = str(tmp_path / "src")
    _write_batchfile(
        spark,
        [
            (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (1, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
        ],
        src,
    )
    batch = spark.read.parquet(src)
    write_batch = make_rollup_writer(out)

    write_batch(batch, 0)
    first = sorted(
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    # crash window: data committed, marker lost
    shutil.rmtree(out.rstrip("/") + "__high_water")
    write_batch(batch, 0)  # replay of batch 0
    again = sorted(
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    assert again == first  # sums NOT doubled

    # a genuinely new batch still merges
    write_batch(batch, 1)
    merged = sorted(
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    assert merged == [(w, t, n * 2, s * 2) for (w, t, n, s) in first]


def test_pre_stamp_table_upgrades_cleanly(spark, tmp_path):
    """A rollup table written before the __batch_id stamp existed must
    merge normally (treated as batch -1) and come out stamped."""
    from pyspark.sql import functions as F

    from energy_pandas_spark.streaming.rollup import make_rollup_writer, rollup_batch

    out = str(tmp_path / "rollup")
    src = str(tmp_path / "src")
    _write_batchfile(
        spark,
        [(0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")],
        src,
    )
    batch = spark.read.parquet(src)
    # legacy layout: no __batch_id column
    rollup_batch(batch).write.partitionBy("day").parquet(out)

    write_batch = make_rollup_writer(out)
    write_batch(batch, 7)
    rows = spark.read.parquet(out).collect()
    assert all(r["__batch_id"] == 7 for r in rows)
    assert rows[0].n_events == 2  # legacy content merged once
    # replay of the same batch is still a no-op
    import shutil

    shutil.rmtree(out.rstrip("/") + "__high_water")
    write_batch(batch, 7)
    again = spark.read.parquet(out).collect()
    assert again[0].n_events == 2


# ---------------------------------------------------------------------------
# continuous cardinality sketches (streaming/stats.py)
# ---------------------------------------------------------------------------


def test_continuous_cardinality_merges_and_survives_replay(spark, tmp_path):
    from pyspark.sql import functions as F

    from energy_pandas_spark.streaming.stats import (
        make_cardinality_writer,
        read_cardinality,
    )

    path = str(tmp_path / "card_sketches")
    w = make_cardinality_writer(path, ["event_type"], "user_id")

    b1 = spark.createDataFrame(
        [("click", i % 50) for i in range(500)], "event_type string, user_id long"
    )
    b2 = spark.createDataFrame(
        [("click", 25 + i % 50) for i in range(500)]
        + [("view", i) for i in range(30)],
        "event_type string, user_id long",
    )
    w(b1, 0)
    w(b2, 1)
    got = {r["event_type"]: r["approx_distinct"] for r in
           read_cardinality(spark, path, by="event_type").collect()}
    # true distincts: click = |0..74| = 75, view = 30 (HLL at lgk=12 is
    # exact-ish at this cardinality)
    assert abs(got["click"] - 75) <= 2
    assert abs(got["view"] - 30) <= 1

    # replay batch 1: union is register-max, estimates must not move
    w(b2, 1)
    again = {r["event_type"]: r["approx_distinct"] for r in
             read_cardinality(spark, path, by="event_type").collect()}
    assert again == got

    # global level rolls up from the same table, no rescan; view's
    # users (0..29) are a subset of click's (0..74) -> 75 overall
    total = read_cardinality(spark, path, by=None).first()["approx_distinct"]
    assert abs(total - 75) <= 2


def test_continuous_quantiles_merge_and_replay_guard(spark, tmp_path):
    from pyspark.sql import functions as F

    from energy_pandas_spark.streaming.stats import (
        make_quantile_writer,
        read_quantiles,
    )

    path = str(tmp_path / "q_sketches")
    w = make_quantile_writer(path, ["event_type"], "value")

    b1 = spark.createDataFrame(
        [("click", float(v)) for v in range(0, 500)],
        "event_type string, value double",
    )
    b2 = spark.createDataFrame(
        [("click", float(v)) for v in range(500, 1000)],
        "event_type string, value double",
    )
    w(b1, 0)
    w(b2, 1)
    got = read_quantiles(spark, path, [0.5], by="event_type").first()
    # merged stream covers 0..999 -> median ~ 500 (KLL k=200 is tight)
    assert abs(got["q_50"] - 500.0) <= 25

    # replaying batch 1 must be a no-op (batch-id high water)
    w(b2, 1)
    again = read_quantiles(spark, path, [0.5], by="event_type").first()
    assert again["q_50"] == got["q_50"]
    # without the guard the replay would re-weight 500..999 and drag
    # the median toward 750 — assert it stayed put
    assert abs(again["q_50"] - 500.0) <= 25


def test_sketch_swap_crash_recovery(spark, tmp_path):
    """Simulate a crash between swap's backup-rename and staging-rename:
    the table dir is gone but __backup holds the old data. The next read
    (replayed batch or user query) must restore it — history is never lost."""
    import shutil

    from energy_pandas_spark.streaming.stats import (
        make_quantile_writer,
        read_quantiles,
    )

    path = str(tmp_path / "q_sketches")
    w = make_quantile_writer(path, ["event_type"], "value")
    b1 = spark.createDataFrame(
        [("click", float(v)) for v in range(0, 500)],
        "event_type string, value double",
    )
    b2 = spark.createDataFrame(
        [("click", float(v)) for v in range(500, 1000)],
        "event_type string, value double",
    )
    w(b1, 0)

    # crash window: current renamed to backup, new table never landed
    shutil.move(path, path + "__backup")

    # foreachBatch replays batch 1 after restart; recovery must see the
    # restored table (high water 0) and merge, not rebuild from b2 alone
    w(b2, 1)
    got = read_quantiles(spark, path, [0.5], by="event_type").first()
    assert abs(got["q_50"] - 500.0) <= 25  # both halves present

    # crash AFTER the swap completed (stale backup left behind): a stale
    # __backup must not shadow or corrupt the newer table
    shutil.copytree(path, path + "__backup")
    again = read_quantiles(spark, path, [0.5], by="event_type").first()
    assert again["q_50"] == got["q_50"]
    w(b2, 1)  # replay with stale backup present: still a no-op
    final = read_quantiles(spark, path, [0.5], by="event_type").first()
    assert final["q_50"] == got["q_50"]


def test_quantile_labels_never_collide(spark):
    """0.999 and 1.0 must not both emit q_100 (the old int(round(q*100))
    label): sub-percent quantiles spell their decimals."""
    from energy_pandas_spark.operators.sketches import (
        merge_quantiles,
        quantile_sketches,
    )

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1000)], "g string, v double"
    )
    sk = quantile_sketches(df, "v", by="g")
    out = merge_quantiles(sk, [0.5, 0.999, 1.0], by="g")
    assert out.columns == ["g", "q_50", "q_99_9", "q_100"]
    row = out.collect()[0]
    assert row["q_99_9"] <= row["q_100"] == 999.0


def test_unreadable_rollup_day_fails_the_batch(spark, tmp_path):
    """A rollup day whose parquet cannot be read must FAIL the batch.
    Read as 'first batch', the dynamic overwrite would replace the day
    with the new batch's aggregate alone and lose its history."""
    import glob
    import shutil

    import pytest

    from energy_pandas_spark.streaming.rollup import make_rollup_writer

    out = str(tmp_path / "rollup")
    src0, src1 = str(tmp_path / "src0"), str(tmp_path / "src1")
    _write_batchfile(
        spark,
        [
            (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (1, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
        ],
        src0,
    )
    _write_batchfile(
        spark, [(2, "2024-01-01 10:20:00", 1, "click", 4.0, "{}")], src1
    )
    write_batch = make_rollup_writer(out)
    write_batch(spark.read.parquet(src0), 0)
    row = spark.read.parquet(out).collect()[0]
    assert (row.n_events, row.sum_value) == (2, 3.0)

    (day_file,) = glob.glob(f"{out}/day=2024-01-01/*.parquet")
    with open(day_file, "wb") as f:
        f.write(b"not parquet at all")
    shutil.rmtree(out + "__high_water")
    with pytest.raises(Exception):
        write_batch(spark.read.parquet(src1), 1)
    # the day was left alone, not overwritten by batch 1's aggregate
    assert glob.glob(f"{out}/day=2024-01-01/*.parquet") == [day_file]
    with open(day_file, "rb") as f:
        assert f.read() == b"not parquet at all"


class TestCountMin:
    def _docsish(self, spark):
        # skewed term stream: term_i appears ~ 600/i times
        rows = []
        for i in range(1, 30):
            rows += [(f"term{i:02d}",)] * (600 // i)
        return spark.createDataFrame(rows, "term string")

    def test_overestimate_and_exact_on_heavy(self, spark):
        from collections import Counter

        from energy_pandas_spark.operators.sketches import cm_query, cm_sketch

        df = self._docsish(spark)
        sk = cm_sketch(df, "term", depth=4, width=2048)
        qs = spark.createDataFrame(
            [(f"term{i:02d}",) for i in range(1, 30)], "term string"
        )
        est = {r.term: r.cm_est for r in cm_query(sk, qs, "term").collect()}
        exact = Counter(r.term for r in df.collect())
        n = sum(exact.values())
        for t, c in exact.items():
            assert est[t] >= c  # CM never underestimates
            assert est[t] <= c + (2.0 * n) / 2048  # eps*N slack
        # with width >> distinct terms, heavy terms are exact
        assert est["term01"] == exact["term01"] == 600

    def test_merge_bit_equal_to_single_shot(self, spark):
        from energy_pandas_spark.operators.sketches import cm_merge, cm_sketch

        df = self._docsish(spark)
        a, b = df.randomSplit([0.5, 0.5], seed=7)
        merged = sorted(
            map(tuple, cm_merge(cm_sketch(a, "term").unionByName(
                cm_sketch(b, "term"))).collect())
        )
        single = sorted(map(tuple, cm_sketch(df, "term").collect()))
        assert merged == single

    def test_grouped_sketch_and_absent_query(self, spark):
        from energy_pandas_spark.operators.sketches import cm_query, cm_sketch

        df = spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("b", "y")], "grp string, term string"
        )
        sk = cm_sketch(df, "term", by="grp")
        assert {r.grp for r in sk.select("grp").distinct().collect()} == {"a", "b"}
        only_a = sk.filter("grp = 'a'")
        qs = spark.createDataFrame([("x",), ("zz",)], "term string")
        est = {r.term: r.cm_est for r in cm_query(only_a, qs, "term").collect()}
        assert est["x"] == 2
        # a value the sketch never saw can estimate 0 (absent counters)
        assert est["zz"] >= 0

    def test_sparse_bound(self, spark):
        from energy_pandas_spark.operators.sketches import cm_sketch

        df = self._docsish(spark)
        assert cm_sketch(df, "term", depth=4, width=64).count() <= 4 * 64


def test_continuous_cm_partials_and_replay(spark, tmp_path):
    from collections import Counter

    from energy_pandas_spark.operators.sketches import cm_query
    from energy_pandas_spark.streaming.stats import make_cm_writer, read_cm

    path = str(tmp_path / "cm_sketches")
    w = make_cm_writer(path, "term", depth=4, width=1024)
    b1 = spark.createDataFrame(
        [(f"t{i % 20:02d}",) for i in range(400)], "term string"
    )
    b2 = spark.createDataFrame(
        [(f"t{i % 10:02d}",) for i in range(300)], "term string"
    )
    w(b1, 0)
    w(b2, 1)
    qs = spark.createDataFrame([(f"t{i:02d}",) for i in range(20)], "term string")
    merged = read_cm(spark, path)
    est = {r.term: r.cm_est for r in cm_query(
        merged, qs, "term", depth=4, width=1024).collect()}
    exact = Counter([f"t{i % 20:02d}" for i in range(400)]
                    + [f"t{i % 10:02d}" for i in range(300)])
    for t, c in exact.items():
        assert est[t] >= c
    # width 1024 >> 20 distinct terms: every estimate is exact here
    assert est == dict(exact)

    # CM sums are NOT idempotent — replay safety comes from the
    # batch-id partition overwrite, so a replayed batch changes nothing
    w(b2, 1)
    again = {r.term: r.cm_est for r in cm_query(
        read_cm(spark, path), qs, "term", depth=4, width=1024).collect()}
    assert again == est


class TestPortableHLL:
    def _df(self, spark, n=5000, dups=3):
        # n distinct values, each appearing `dups` times
        return (
            spark.range(n * dups)
            .select((F.col("id") % n).alias("v"))
            .select(F.concat(F.lit("user-"), F.col("v")).alias("v"))
        )

    def test_estimate_within_rse_bound(self, spark):
        from energy_pandas_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        n = 5000
        regs = hll_registers(self._df(spark, n), "v", lgm=8)
        row = hll_estimate(regs, lgm=8).collect()[0]
        assert row.m == 256
        # raw HLL rse ~ 1.04/sqrt(256) = 6.5%; allow 4 sigma
        assert abs(row.est_distinct - n) / n < 0.26
        # duplicates must not move the registers at all
        regs2 = hll_registers(self._df(spark, n, dups=1), "v", lgm=8)
        assert sorted(map(tuple, regs.collect())) == sorted(
            map(tuple, regs2.collect())
        )

    def test_merge_bit_equal_to_single_shot(self, spark):
        from energy_pandas_spark.operators.sketches import (
            hll_estimate,
            hll_merge,
            hll_registers,
        )

        df = self._df(spark, 2000, dups=1)
        a = df.filter(F.col("v") < "user-3")
        b = df.filter(F.col("v") >= "user-3")
        merged = hll_merge(
            hll_registers(a, "v").unionByName(hll_registers(b, "v"))
        )
        single = hll_registers(df, "v")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, single.collect())
        )
        e1 = hll_estimate(merged).collect()[0]
        e2 = hll_estimate(single).collect()[0]
        assert (e1.z_scaled, e1.n_zero, e1.est_distinct) == (
            e2.z_scaled,
            e2.n_zero,
            e2.est_distinct,
        )

    def test_registers_match_python_replay(self, spark):
        import hashlib

        from energy_pandas_spark.operators.sketches import hll_registers

        vals = [f"k{i}" for i in range(300)]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        regs = {}
        for v in vals:
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            bucket, w = h % 256, h >> 8
            # leftmost-1 position in the 52-bit word (53 when w == 0)
            rho = 53 - w.bit_length() if w else 53
            regs[bucket] = max(regs.get(bucket, 0), rho)
        spark_regs = {
            r.bucket: r.r for r in hll_registers(df, "v", lgm=8).collect()
        }
        assert spark_regs == regs

    def test_grouped_registers_and_lgm_validation(self, spark):
        import pytest as _pytest

        from energy_pandas_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        df = spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "x")], "g string, v string"
        )
        est = {
            r.g: r
            for r in hll_estimate(
                hll_registers(df, "v", by="g"), by="g"
            ).collect()
        }
        assert set(est) == {"a", "b"}
        assert est["a"].n_zero == 254 and est["b"].n_zero == 255
        with _pytest.raises(ValueError):
            hll_registers(df, "v", lgm=3)

    def test_small_range_linear_counting(self, spark):
        from energy_pandas_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        n = 20
        regs = hll_registers(self._df(spark, n), "v", lgm=8)
        # runtime-ln branch: small cardinalities come back near-exact
        row = hll_estimate(regs, lgm=8).collect()[0]
        assert abs(row.est_distinct - n) / n < 0.15
        # quantized branch: integer output, same accuracy, and the
        # lookup value equals the Python replay of m*ln(m/V)
        rq = hll_estimate(regs, lgm=8, quantize=1024).collect()[0]
        import math

        from energy_pandas_spark.util import round_half_away

        expect = round_half_away(1024 * 256 * math.log(256 / rq.n_zero))
        assert rq.est_distinct_q == expect
        assert abs(rq.est_distinct_q / 1024 - n) / n < 0.15

    def test_quantized_raw_branch_and_lgm_guard(self, spark):
        import pytest as _pytest

        from energy_pandas_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        n = 5000  # raw branch (est > 2.5 m)
        regs = hll_registers(self._df(spark, n), "v", lgm=8)
        r = hll_estimate(regs, lgm=8).collect()[0]
        rq = hll_estimate(regs, lgm=8, quantize=1024).collect()[0]
        from energy_pandas_spark.util import round_half_away

        assert rq.est_distinct_q == round_half_away(1024 * r.est_distinct)
        with _pytest.raises(ValueError):
            hll_estimate(regs, lgm=12, quantize=1024)


def test_continuous_portable_hll_merges_and_survives_replay(spark, tmp_path):
    from energy_pandas_spark.streaming.stats import (
        make_portable_hll_writer,
        read_portable_hll,
    )

    path = str(tmp_path / "phll")
    w = make_portable_hll_writer(path, ["event_type"], "user_id")
    b1 = spark.createDataFrame(
        [("click", i % 50) for i in range(500)],
        "event_type string, user_id long",
    )
    b2 = spark.createDataFrame(
        [("click", 25 + i % 50) for i in range(500)]
        + [("view", i) for i in range(30)],
        "event_type string, user_id long",
    )
    w(b1, 0)
    w(b2, 1)
    got = {
        r.event_type: r.est_distinct
        for r in read_portable_hll(spark, path, by="event_type").collect()
    }
    # true: click 75 (0..74), view 30 — linear-counting regime
    assert abs(got["click"] - 75) / 75 < 0.15
    assert abs(got["view"] - 30) / 30 < 0.15

    # replay batch 1: register max is idempotent, estimates frozen
    w(b2, 1)
    again = {
        r.event_type: r.est_distinct
        for r in read_portable_hll(spark, path, by="event_type").collect()
    }
    assert again == got

    # the maintained table equals a single-shot batch build
    from energy_pandas_spark.operators.sketches import hll_registers

    direct = hll_registers(b1.unionByName(b2), "user_id", by=["event_type"])
    stored = spark.read.parquet(path)
    assert sorted(map(tuple, stored.select("event_type", "bucket", "r").collect())) == sorted(
        map(tuple, direct.collect())
    )

    # global rollup reads off the same table (view ⊂ click -> 75)
    total = read_portable_hll(spark, path).collect()[0]
    assert abs(total.est_distinct - 75) / 75 < 0.15


def test_rollup_merge_null_values_avg_matches_backfill(spark, tmp_path):
    """A merged partition's avg_value must use the null-skipping
    denominator: nulls in `value` arriving across two batches for one
    window previously deflated the merged avg (sum / n_events) vs a
    batch backfill (F.avg skips nulls)."""
    src = str(tmp_path / "srcn")
    out = str(tmp_path / "rollupn")
    chk = str(tmp_path / "chkn")
    _write_batchfile(
        spark,
        [
            (0, "2024-01-01 10:00:00", 1, "click", 2.0, "{}"),
            (1, "2024-01-01 10:10:00", 1, "click", None, "{}"),
        ],
        src + "/b1",
    )
    _write_batchfile(
        spark,
        [
            (2, "2024-01-01 10:40:00", 1, "click", 4.0, "{}"),
            (3, "2024-01-01 10:50:00", 1, "click", None, "{}"),
        ],
        src + "/b2",
    )
    from energy_pandas_spark.streaming.events import EVENTS_SCHEMA
    from energy_pandas_spark.streaming.rollup import rollup_batch

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = continuous_rollup(stream, out, chk)
    assert q.awaitTermination(120)

    [row] = spark.read.parquet(out).collect()
    assert row.n_events == 4 and row.n_values == 2
    assert row.sum_value == 6.0 and row.avg_value == 3.0  # null-skipping

    [back] = rollup_batch(spark.read.parquet(src + "/*")).collect()
    assert (row.n_events, row.n_values, row.sum_value, row.avg_value) == (
        back.n_events, back.n_values, back.sum_value, back.avg_value
    )


def _max_accumulate(batch):
    """Custom accumulate emitting a measure OUTSIDE the built-in set."""
    return (
        batch.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "max_value",
        )
        .withColumn("day", F.to_date("window_start"))
    )


def test_undeclared_custom_measure_raises_not_duplicates(spark, tmp_path):
    """An accumulate emitting a fractional measure (max_value) that is
    NOT declared via ``measures`` must raise on merge instead of
    silently grouping by the measure and emitting duplicate rows per
    window (ADVICE r4)."""
    import pytest

    from energy_pandas_spark.streaming.rollup import make_rollup_writer

    src = str(tmp_path / "srcu")
    out = str(tmp_path / "rollupu")
    _write_batchfile(
        spark, [(0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")], src + "/b1"
    )
    _write_batchfile(
        spark, [(1, "2024-01-01 10:30:00", 1, "click", 9.0, "{}")], src + "/b2"
    )
    writer = make_rollup_writer(out, accumulate=_max_accumulate)
    # fails on the very first batch — before any mis-grouped rows land
    with pytest.raises(ValueError, match="max_value"):
        writer(spark.read.parquet(src + "/b1"), 0)
    # bogus merge fn rejected up front
    with pytest.raises(ValueError, match="merge function"):
        make_rollup_writer(out, measures={"max_value": "median"})


def test_declared_custom_measure_merges_exactly(spark, tmp_path):
    """With ``measures={'max_value': 'max'}`` the custom measure merges
    across micro-batches to the batch-recompute value, one row per
    window, and survives replay."""
    from energy_pandas_spark.streaming.rollup import make_rollup_writer

    src = str(tmp_path / "srcd")
    out = str(tmp_path / "rollupd")
    _write_batchfile(
        spark,
        [
            (0, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (1, "2024-01-01 10:10:00", 2, "view", 7.0, "{}"),
        ],
        src + "/b1",
    )
    _write_batchfile(
        spark,
        [
            (2, "2024-01-01 10:30:00", 1, "click", 9.0, "{}"),
            (3, "2024-01-01 10:40:00", 2, "view", 2.0, "{}"),
        ],
        src + "/b2",
    )
    writer = make_rollup_writer(
        out, accumulate=_max_accumulate, measures={"max_value": "max"}
    )
    writer(spark.read.parquet(src + "/b1"), 0)
    writer(spark.read.parquet(src + "/b2"), 1)
    got = {
        r.event_type: (r.n_events, r.max_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {"click": (2, 9.0), "view": (2, 7.0)}
    # replayed batch (marker wiped): per-partition stamp still guards
    import shutil

    shutil.rmtree(out.rstrip("/") + "__high_water", ignore_errors=True)
    writer(spark.read.parquet(src + "/b2"), 1)
    again = {
        r.event_type: (r.n_events, r.max_value)
        for r in spark.read.parquet(out).collect()
    }
    assert again == got


def test_read_portable_hll_recovers_interrupted_swap(spark, tmp_path):
    """Crash window between swap's backup rename and the staging
    rename: the table exists only as ``__backup``. Every sketch reader
    must restore it — read_portable_hll used to bypass the store reader
    and raise PATH_NOT_FOUND here."""
    import os

    from energy_pandas_spark.streaming.stats import (
        make_portable_hll_writer,
        read_portable_hll,
    )

    path = str(tmp_path / "phll_crash")
    w = make_portable_hll_writer(path, ["event_type"], "user_id")
    w(
        spark.createDataFrame(
            [("click", i) for i in range(40)],
            "event_type string, user_id long",
        ),
        0,
    )
    before = {
        r.event_type: r.est_distinct
        for r in read_portable_hll(spark, path, by="event_type").collect()
    }
    # simulate the crash window: table renamed to __backup, no staging
    os.rename(path, path + "__backup")
    after = {
        r.event_type: r.est_distinct
        for r in read_portable_hll(spark, path, by="event_type").collect()
    }
    assert after == before
