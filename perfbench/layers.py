"""Per-layer metrics of a traced run: spans from `spans.Tracer`, job ids
from per-phase job groups, task sums from the event log.

Every pass-level number is the median over the run's traced steady
passes. Times are seconds, sizes bytes; counts are per pass.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import innermost_span, read_event_log, self_times, union_length

OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "graph",
    "retrieval",
    "text",
    "analytics",
    "windows",
    "joins",
    "reshape",
)
TASK_SUMS = {
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.spill_bytes": "spill_bytes",
    "functions.python_worker_s": "python_worker",
    "functions.python_init_s": "python_init",
    "functions.arrow_sent_bytes": "arrow_sent_bytes",
    "functions.arrow_returned_bytes": "arrow_returned_bytes",
}
MS_SUMS = {"python_worker", "python_init"}  # SQL timing metrics arrive in ms


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _pass_metrics(ops, spans, selfs, ancestors, jobs, sums) -> dict[str, float]:
    ids = {op.op_id for op in ops}
    idx = [i for i, s in enumerate(spans) if s.op in ids]

    def union(pred) -> float:
        return union_length((spans[i].start, spans[i].end) for i in idx if pred(spans[i]))

    def under(i, layer) -> bool:
        return any(spans[a].layer == layer for a in ancestors[i])

    m: dict[str, float] = {
        "sources.load_table_s": union(lambda s: s.name == "sources.readers.load_table"),
        "units.conversion_s": union(lambda s: s.layer == "units"),
        "core.frame_s": union(lambda s: s.layer == "core"),
        "operators.build_s": union(lambda s: s.layer == "operators"),
        "streaming.writer_s": union(lambda s: s.layer == "streaming"),
        "streaming.parquet_write_s": union(lambda s: s.name == "spark.parquet_write"),
        "trace.spans": float(len(idx)),
    }
    m["streaming.store_read_s"] = union_length(
        (spans[i].start, spans[i].end)
        for i in idx
        if spans[i].name == "spark.parquet_read" and under(i, "streaming")
    )
    for mod in OPERATOR_MODULES:
        pre = f"operators.{mod}."
        m[f"operators.{mod}.self_s"] = sum(selfs[i] for i in idx if spans[i].name.startswith(pre))
    for key, names in (
        ("operators.collects", ("spark.collect", "spark.count")),
        ("operators.persists", ("spark.persist",)),
        ("operators.local_checkpoints", ("spark.local_checkpoint",)),
    ):
        m[key] = float(sum(1 for i in idx if spans[i].name in names and under(i, "operators")))

    # jobs: build-phase jobs are attributed to the deepest span open at
    # their submission; sink-phase jobs are the sink's own
    by_op: dict[str, list[int]] = defaultdict(list)
    for i in idx:
        by_op[spans[i].op].append(i)
    counts = defaultdict(float)
    task = defaultdict(float)
    gap = 0.0
    for op in ops:
        op_jobs = [j for phase in op.jobs.values() for j in phase if j in jobs]
        for j in op.jobs.get("build", ()):
            if j not in jobs:
                continue
            op_spans = [spans[i] for i in by_op[op.op_id]]
            k = innermost_span(op_spans, jobs[j].submit)
            chain = [] if k < 0 else [by_op[op.op_id][k], *ancestors[by_op[op.op_id][k]]]
            names = {spans[a].name for a in chain}
            layers = {spans[a].layer for a in chain}
            counts["sources.load_table_jobs"] += "sources.readers.load_table" in names
            counts["operators.eager_jobs"] += "operators" in layers
        counts["spark.sink_jobs"] += len(op.jobs.get("sink", ()))
        counts["spark.jobs"] += len(op_jobs)
        for j in op_jobs:
            for k, v in sums.get(j, {}).items():
                task[k] += v / 1e3 if k in MS_SUMS else v
        gap += op.latency - union_length((jobs[j].submit, jobs[j].end) for j in op_jobs)
    m.update(counts)
    m.update({name: task.get(key, 0.0) for name, key in TASK_SUMS.items()})
    m["spark.driver_gap_s"] = gap
    m["spark.sink_s"] = sum(op.sink_s for op in ops)
    batch_ops = [op for op in ops if op.kind in ("ingest", "rollup")]
    m["streaming.jobs_per_batch"] = (
        sum(len(j) for op in batch_ops for j in op.jobs.values()) / len(batch_ops) if batch_ops else 0.0
    )
    m["util.caches_drained"] = float(sum(op.drained for op in ops))
    m["util.leaked_persists"] = float(sum(op.leaked for op in ops))
    m["util.drain_s"] = sum(op.drain_s for op in ops)
    total = sum(op.latency for op in ops)
    m["operators.build_share"] = m["operators.build_s"] / total if total else 0.0
    m["spark.sink_share"] = m["spark.sink_s"] / total if total else 0.0
    return m


def per_layer(res, setups, tracer, event_log: str) -> dict[str, float]:
    jobs, sums = read_event_log(event_log)
    spans = tracer.spans
    selfs = self_times(spans)
    ancestors = []
    for s in spans:
        chain, p = [], s.parent
        while p >= 0:
            chain.append(p)
            p = spans[p].parent
        ancestors.append(chain)

    traced, untraced = res.steady(True), res.steady(False)
    per_pass = [_pass_metrics(p, spans, selfs, ancestors, jobs, sums) for p in traced]
    out = {k: _median(m[k] for m in per_pass) for k in per_pass[0]}

    def pass_s(p):
        return sum(op.latency for op in p)

    traced_s = _median(pass_s(p) for p in traced)
    out["session.start_s"] = _median(a for a, _ in setups)
    out["session.warmup_s"] = _median(b for _, b in setups)
    out["spark.cold_minus_steady_s"] = pass_s(res.passes[0]) - traced_s
    out["trace.overhead_s"] = traced_s - _median(pass_s(p) for p in untraced)

    d = res.details
    kinds = defaultdict(list)
    for p in untraced:
        for op in p:
            kinds[op.kind].append(op.latency)
    ingest_p50 = _median(kinds.get("ingest", ()))
    rollup_p50 = _median(kinds.get("rollup", ()))
    out.update(
        {
            "streaming.ingest_batch_p50_s": ingest_p50,
            "streaming.rollup_batch_p50_s": rollup_p50,
            "streaming.ingest_docs_per_s": d.get("docs_per_batch", 0) / ingest_p50 if ingest_p50 else 0.0,
            "streaming.rollup_events_per_s": d.get("events_per_batch", 0) / rollup_p50 if rollup_p50 else 0.0,
            "streaming.files_written": float(d.get("files_written", 0)),
            "streaming.store_bytes": float(sum(d.get("store_bytes", {}).values())),
            "streaming.accept_ratio": float(d.get("accept_ratio", 0.0)),
            "streaming.stored_bytes_per_input_byte": float(d.get("stored_bytes_per_input_byte", 0.0)),
        }
    )
    return out
