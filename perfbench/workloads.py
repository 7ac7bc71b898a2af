"""The workloads: closed-loop, single client, one op at a time.
BENCHMARK.json declares energy_ts and store_ingest; corpus_dedup runs the
same way by hand.

- energy_ts: energy-pandas time-series queries over the sf1 events
  replica (1M rows): units, the time index, a rolling window, an
  interval join and a pivot. Each op builds a query and runs it
  through the noop sink.
- corpus_dedup: corpus dedup/retrieval queries over sf0.01 documents and
  embeddings. Same op shape; most of the time goes to eager jobs inside
  the build, Python workers and persists.
- store_ingest: seeded batches of documents through the near-dup ingest
  writer and seeded batches of events through the rollup writer, into a
  fresh store per run. Each op is one batch.

A pass runs every op of a workload once, in a seeded order. The first
pass runs in a fresh session; steady passes follow until the time budget
is spent (store_ingest: a fixed number, so every run measures the same
store sizes). Caches are drained and leaked persists released after every op,
outside its timer, so no op is served warm by an earlier one.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

ENERGY_QUERIES = (
    "with_timeindex",
    "to_units_degr_mixed",
    "rolling_1h_avg",
    "interval_join_windows",
    "unstack_periods",
)
CORPUS_QUERIES = (
    "containment_pairs_docs",
    "semdedup_pairs",
    "simhash_pairs",
)

INGEST_DOCS = 500  # documents per ingest batch
ROLLUP_EVENTS = 10_000  # events per rollup batch


@dataclass
class Op:
    op_id: str
    kind: str  # query name, "ingest" or "rollup"
    latency: float = 0.0
    sink_s: float = 0.0
    ok: bool = True
    error: str = ""
    drained: int = 0
    leaked: int = 0
    drain_s: float = 0.0
    jobs: dict[str, list[int]] = field(default_factory=dict)  # phase -> job ids


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)  # every timed op, in order
    passes: list[list[Op]] = field(default_factory=list)
    roles: list[str] = field(default_factory=list)  # per pass: first, steady
    traced: list[bool] = field(default_factory=list)  # per pass
    failures: list[str] = field(default_factory=list)
    checks: int = 0  # output checks made (each counts as attempted)
    details: dict = field(default_factory=dict)

    def steady(self, traced: bool) -> list[list[Op]]:
        return [
            p for p, r, t in zip(self.passes, self.roles, self.traced) if r == "steady" and t == traced
        ]


class Harness:
    """Runs ops with per-phase job groups and cache hygiene."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.tracing = False

    def trace(self, on: bool) -> None:
        if self.tracer is None or on == self.tracing:
            return
        (self.tracer.install if on else self.tracer.uninstall)()
        self.tracing = on

    def _span(self, name: str):
        return self.tracer.span(name, "bench") if self.tracing else contextlib.nullcontext()

    def _phase(self, op: Op, phase: str, fn):
        group = f"{op.op_id}:{phase}"
        self.sc.setJobGroup(group, group)
        try:
            with self._span(f"bench.{phase}"):
                return fn()
        finally:
            op.jobs[phase] = list(self.sc.statusTracker().getJobIdsForGroup(group))

    def run(self, op: Op, build, sink=None) -> Op:
        """Time build (and sink, given the build's result); a raise marks
        the op failed and is kept, never dropped."""
        if self.tracer is not None:
            self.tracer.op = op.op_id
        t0 = time.perf_counter()
        try:
            with self._span(f"bench.op.{op.kind}"):
                out = self._phase(op, "build", build)
                t1 = time.perf_counter()
                if sink is not None:
                    self._phase(op, "sink", lambda: sink(out))
            t2 = time.perf_counter()
            op.latency, op.sink_s = t2 - t0, t2 - t1
        except Exception as exc:  # the loop goes on; the failure is counted
            op.latency = time.perf_counter() - t0
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:300]
        finally:
            self.sc.setJobGroup("bench:hygiene", "bench:hygiene")
            self.hygiene(op)
        return op

    def hygiene(self, op: Op) -> None:
        """Drain tracked caches, then count and release persisted RDDs
        the drain missed (bare persist and localCheckpoint are untracked)."""
        from energy_pandas_spark.util import drain_tracked_caches

        t = time.perf_counter()
        op.drained = drain_tracked_caches()
        rdds = self.sc._jsc.getPersistentRDDs()
        op.leaked = int(rdds.size())
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        op.drain_s = time.perf_counter() - t


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_passes(
    h: Harness, res: Result, make_pass, seconds: float, trace: bool, min_steady: int, fixed: bool = False
) -> None:
    """The first pass (fresh session), then steady passes for `seconds`,
    at least `min_steady`; exactly `min_steady` if `fixed`. There is no
    untimed warm-up pass: the first steady pass still runs while the JIT
    compiles the driver's planning code, and with three or more passes
    the median skips it. Traced runs trace the first pass and alternate
    traced and untraced steady passes, so the tracing overhead is
    measured in the same run."""

    def one(role: str, traced: bool) -> None:
        h.trace(traced)
        res.passes.append(make_pass(len(res.passes)))
        res.roles.append(role)
        res.traced.append(traced)

    one("first", trace)
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_steady or (not fixed and time.perf_counter() < t_end):
        one("steady", trace and n % 2 == 0)
        n += 1
    h.trace(False)
    res.ops = [op for p in res.passes for op in p]


# -- query workloads ----------------------------------------------------------


def query_workload(h: Harness, names, data_dir, seed, seconds, trace, min_steady, pins) -> Result:
    """Each op builds one query and runs it through the noop sink. The
    output check rides in-band on the first pass: `DataFrame.observe`
    computes the order-insensitive digest during the sink's own job (no
    extra job, no second execution), and it is compared with the pin
    after the timer."""
    import __spark_entry__ as entry
    from pyspark.sql import Observation

    import digest as dg

    qs = entry.queries()
    rng = np.random.default_rng(seed)
    res = Result()
    observed: dict[str, Observation] = {}

    def checked_sink(name):
        def sink(df):
            obs = Observation(f"perfbench_digest_{name}")
            noop_sink(df.observe(obs, *dg.digest_exprs(df)))
            observed[name] = obs  # only once the sink has run: get() waits

        return sink

    def make_pass(p: int) -> list[Op]:
        ops = []
        for i in rng.permutation(len(names)):
            name = names[i]
            op = Op(f"p{p}.{name}", name)
            sink = checked_sink(name) if p == 0 else noop_sink
            ops.append(h.run(op, lambda: qs[name](h.spark, data_dir), sink))
        return ops

    run_passes(h, res, make_pass, seconds, trace, min_steady)
    digests = res.details["digests"] = {}
    for name in names:
        if name not in observed:
            continue  # the op failed before its sink; already counted
        res.checks += 1
        got = digests[name] = dg.render(observed[name].get)
        if pins and pins.get(name) != got:
            res.failures.append(f"{name}: digest {got} != pinned {pins.get(name)}")
    return res


# -- store ingest ---------------------------------------------------------------


def store_workload(h: Harness, data_dir, store_dir, seed, trace, rounds, small) -> Result:
    """`rounds` steady delivery rounds after the first round, whatever
    the time budget: the store grows by one batch of each kind a round,
    so every run measures the same store sizes."""
    from pyspark.sql import functions as F

    from energy_pandas_spark.sources.readers import load_table
    from energy_pandas_spark.streaming import ingest as ingest_mod, rollup as rollup_mod
    from energy_pandas_spark.streaming.rollup import rollup_batch

    import digest as dg

    spark = h.spark
    corpus, bands, rollup = (os.path.join(store_dir, d) for d in ("corpus", "bands", "rollup"))

    def deliver(kind: str, batch, batch_id: int) -> None:
        """Hand one batch to a writer built inside the op: the ingest
        factory imports its dedup operators when called, so only a writer
        built after the tracer is installed calls the wrapped ones. The
        writers are closures, with no module name to rebind."""
        if kind == "ingest":
            fn = ingest_mod.make_neardup_ingest_writer(corpus, bands)
        else:
            fn = rollup_mod.make_rollup_writer(rollup)
        if h.tracer is not None:
            fn = h.tracer.wrap(fn, f"streaming.{kind}.write_batch", "streaming")
        fn(batch, batch_id)

    docs = load_table(spark, data_dir, "documents")
    events = load_table(spark, data_dir, "events")
    n_docs, n_events = docs.count(), events.count()
    per_doc = INGEST_DOCS if not small else 10
    per_ev = ROLLUP_EVENTS if not small else 200
    n_doc_b, n_ev_b = n_docs // per_doc, n_events // per_ev
    # the seed assigns rows to batches and orders the batches: documents
    # in contiguous doc_id ranges (arrival order) from a seeded offset,
    # events by a salted hash
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(per_doc))
    docs = docs.withColumn("__b", F.pmod(F.floor((F.col("doc_id") + offset) / per_doc), F.lit(n_doc_b)))
    events = events.withColumn("__b", F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(n_ev_b)))
    doc_order = [int(b) for b in rng.permutation(n_doc_b)]
    ev_order = [int(b) for b in rng.permutation(n_ev_b)]
    res = Result()
    delivered: list[int] = []

    def doc_batch(p):
        return docs.filter(F.col("__b") == doc_order[p]).drop("__b")

    def ev_batch(p):
        return events.filter(F.col("__b") == ev_order[p]).drop("__b")

    def make_pass(p: int) -> list[Op]:
        if p >= min(n_doc_b, n_ev_b):
            raise RuntimeError("store_ingest ran out of input batches")
        delivered.append(p)
        a = h.run(Op(f"b{p}.ingest", "ingest"), lambda: deliver("ingest", doc_batch(p), p))
        b = h.run(Op(f"b{p}.rollup", "rollup"), lambda: deliver("rollup", ev_batch(p), p))
        return [a, b]

    def store_digests():
        return (
            dg.frame_digest(spark.read.parquet(corpus)),
            dg.frame_digest(spark.read.parquet(bands)),
            dg.frame_digest(spark.read.parquet(rollup)),
        )

    def replay(p: int) -> None:
        """Re-deliver batch p under the same id after later batches have
        landed: the stores must keep their row digests."""
        before = store_digests()
        a = h.run(Op(f"b{p}.ingest.replay", "ingest"), lambda: deliver("ingest", doc_batch(p), p))
        b = h.run(Op(f"b{p}.rollup.replay", "rollup"), lambda: deliver("rollup", ev_batch(p), p))
        res.details["replay"] = {"batch": p, "ingest_s": a.latency, "rollup_s": b.latency}
        for op in (a, b):
            if not op.ok:
                res.failures.append(f"{op.op_id}: {op.error}")
        if store_digests() != before:
            res.failures.append(f"replay of batch {p} changed the stores")

    run_passes(h, res, make_pass, 0, trace, rounds, fixed=True)
    h.sc.setJobGroup("bench:check", "bench:check")

    # invariants, outside every timer
    fed_docs = docs.filter(F.col("__b").isin([doc_order[p] for p in delivered])).drop("__b")
    fed_events = events.filter(F.col("__b").isin([ev_order[p] for p in delivered])).drop("__b")
    res.checks += 4  # replay, unique ids, accepted within input, rollup equals backfill
    try:
        replay(delivered[int(rng.integers(len(delivered)))])  # after the timed rounds
        stored = spark.read.parquet(corpus)
        n_rows, n_ids = stored.count(), stored.select("doc_id").distinct().count()
        if n_rows != n_ids:
            res.failures.append(f"corpus holds {n_rows - n_ids} repeated doc_id")
        strays = stored.select("doc_id", "text").exceptAll(fed_docs.select("doc_id", "text")).count()
        if strays:
            res.failures.append(f"{strays} accepted docs are not input docs")
        if dg.rollup_digest(spark.read.parquet(rollup)) != dg.rollup_digest(rollup_batch(fed_events)):
            res.failures.append("streaming rollup differs from a rollup_batch backfill")
    except Exception as exc:  # a check that cannot run is a failed check
        res.failures.append(f"store checks raised {type(exc).__name__}: {exc}"[:300])
        n_rows = 0
    h.hygiene(Op("check", "store"))

    input_bytes = _share_bytes(data_dir, "documents", len(delivered) / n_doc_b) + _share_bytes(
        data_dir, "events", len(delivered) / n_ev_b
    )
    n_fed = fed_docs.count()
    res.details.update(
        batches=len(delivered),
        docs_in=n_fed,
        docs_accepted=n_rows,
        accept_ratio=n_rows / max(n_fed, 1),
        store_bytes={d: _dir_bytes(os.path.join(store_dir, d)) for d in ("corpus", "bands", "rollup")},
        files_written=sum(_dir_files(os.path.join(store_dir, d)) for d in ("corpus", "bands", "rollup")),
        input_bytes=input_bytes,
        docs_per_batch=per_doc,
        events_per_batch=per_ev,
    )
    res.details["stored_bytes_per_input_byte"] = sum(res.details["store_bytes"].values()) / input_bytes
    return res


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def _dir_files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _share_bytes(data_dir: str, table: str, share: float) -> float:
    return _dir_bytes(os.path.join(data_dir, f"{table}.parquet")) * share
