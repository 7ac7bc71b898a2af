"""Spans around calls into the engine's layers, and per-layer numbers from
Spark's event log.

`Tracer.install()` replaces every public function (and every public
method of a public class) defined in the engine's modules with a wrapper
that records a span, rebinding each name wherever it was imported
(`__spark_entry__.load_table` included). It also wraps the DataFrame
calls that make work happen outside a sink: `persist`,
`localCheckpoint`, `collect`, `count` and `DataFrameWriter.parquet`.
`uninstall()` puts the originals back, so untraced passes run the
unmodified program. Spans stay in memory until the run ends.

Layers are the package's top-level modules (`session`, `sources`,
`units`, `core`, `operators`, `functions`, `util`, `streaming`) plus
`spark`, the engine calls under them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "energy_pandas_spark"
SKIP = ("plotting", "plans")  # matplotlib glue and plan-printing helpers

# DataFrame calls that run or pin work before the sink, and parquet I/O
# (the classic, non-Connect DataFrame overrides the base class methods)
DF_CALLS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "persist", "persist"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint", "local_checkpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "count"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "parquet_write"),
    ("pyspark.sql.readwriter", "DataFrameReader", "parquet", "parquet_read"),
)


@dataclass
class Span:
    name: str  # "<layer>.<module>.<function>" or "spark.<call>"
    layer: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: int  # index into Tracer.spans, -1 at the top
    op: str  # query or batch id


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: str = ""
    active: bool = False
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # -- recording --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around the enclosed block (the benchmark opens these
        around its ops and phases; the wrappers below around engine calls)."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, layer, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str, layer: str):
        """`fn` with a span around each call while the tracer is installed
        (also used for callables the engine hands out, such as a
        foreachBatch writer, which have no module name to rebind)."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        self.active = True
        mods = _engine_modules()
        targets: dict[int, tuple[object, object]] = {}
        for mod in mods:
            layer = mod.__name__.split(".")[1]
            short = mod.__name__.split(".", 1)[1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    targets[id(obj)] = (obj, self.wrap(obj, f"{short}.{attr}", layer))
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._set(obj, m, self.wrap(fn, f"{short}.{attr}.{m}", layer))
        # rebind every module-level name bound to a wrapped function
        holders = mods + [sys.modules[n] for n in ("__spark_entry__",) if n in sys.modules]
        for mod in holders:
            for attr, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, attr, hit[1])
        for modname, cls, meth, label in DF_CALLS:
            owner = getattr(importlib.import_module(modname), cls)
            self._set(owner, meth, self.wrap(getattr(owner, meth), f"spark.{label}", "spark"))

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _set(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)


def summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total and self seconds, over all spans."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
    for s, own in zip(spans, self_times(spans)):
        row = out[s.name]
        row["calls"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += own
    return dict(sorted(out.items(), key=lambda kv: -kv[1]["total_s"]))


def _engine_modules() -> list:
    import energy_pandas_spark as pkg

    mods = []
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        if info.name.split(".")[1] in SKIP:
            continue
        mods.append(importlib.import_module(info.name))
    return mods


# -- span arithmetic --------------------------------------------------------


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            kids[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(kids.get(i, ())) for i, s in enumerate(spans)
    ]


def innermost_span(spans: list[Span], t: float) -> int:
    """Index of the deepest span open at time t (-1 if none)."""
    best, best_start = -1, -1.0
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and s.start >= best_start:
            best, best_start = i, s.start
    return best


# -- event log ---------------------------------------------------------------

PY_METRICS = {
    "time to run Python workers": "python_worker",
    "time to initialize Python workers": "python_init",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
}


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float = 0.0


def read_event_log(path: str):
    """Jobs by id, and per-job task sums from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                # event-log times are whole ms: take the middle of the ms
                jobs[ev["Job ID"]] = Job((ev["Submission Time"] + 0.5) / 1e3)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = (ev["Completion Time"] + 0.5) / 1e3
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    sums[stage_job[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                s = sums[jid]
                m = ev.get("Task Metrics") or {}
                s["tasks"] += 1
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev["Task Info"].get("Accumulables") or ():
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        s[key] += float(acc.get("Update") or 0)
    return jobs, sums
