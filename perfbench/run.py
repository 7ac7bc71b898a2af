"""Benchmark for energy_pandas_spark: closed-loop, single-client workloads
on local[4], with output checks, end-to-end metrics from untraced runs and
per-layer metrics from traced runs.

    python3 perfbench/run.py --workload energy_ts --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
holds the environment record, per-op details and any failures. The same
record is written to perfbench/.work/results/. See perfbench/README.md
for the workloads, the metrics and the layer each metric should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
DRIVER_MEMORY = "3g"
SETUPS = 3

# workload -> (dataset, tables its warm-up reads, least steady passes;
# store_ingest runs exactly that many delivery rounds)
WORKLOADS = {
    "energy_ts": ("sf1", ("events",), 3),
    "corpus_dedup": ("sf0.01", ("documents", "embeddings"), 3),
    "store_ingest": ("sf0.1", ("documents", "events"), 2),
}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, (0, 0) where absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def source_digest() -> str:
    """sha256 of the engine's Python sources (the checkout may not be a
    git repository, so this identifies the code under test)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for r, dirs, fs in os.walk(os.path.join(ROOT, "energy_pandas_spark")):
        dirs.sort()
        files += [os.path.join(r, f) for f in sorted(fs) if f.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 20 samples
    (the rule would then land at or below the median)."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # statusTracker() answers job-group queries from the retained jobs
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a heap committed at full size, a fixed young generation and a
        # fixed old-generation marking threshold: G1's heap resizing,
        # adaptive young sizing and adaptive IHOP made the driver's peak
        # RSS and the pass times swing run to run (see README)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-Xms{DRIVER_MEMORY} -XX:NewSize=512m -XX:MaxNewSize=512m "
            "-XX:-G1UseAdaptiveIHOP -XX:InitiatingHeapOccupancyPercent=15"
        ),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_and_warm(conf: dict, data_dir: str, tables) -> tuple[object, float, float]:
    """One set-up: session start, then a warm-up that reads the first row
    of each of the workload's tables. Python workers are not forked here:
    their start-up is part of the first pass, as for any fresh session."""
    from energy_pandas_spark.session import make_session
    from energy_pandas_spark.sources.readers import load_table

    t0 = time.perf_counter()
    spark = make_session(
        master=f"local[{CORES}]",
        app_name="energy-pandas-spark-perfbench",
        shuffle_partitions=CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for t in tables:
        load_table(spark, data_dir, t).limit(1).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_jvm() -> None:
    """End the py4j gateway JVM (and the Python workers it forked) and
    wait for it, instead of leaving it to notice this process's exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(args, run_dir: str) -> dict:
    import datagen
    import workloads as wl

    sf, tables, min_steady = WORKLOADS[args.workload]
    if args.smoke:
        sf, min_steady = "sf0.001", 2
    data_dir = datagen.data_dir(sf, WORK)  # sf1 is built once, outside setup_s
    data_sha, data_bytes = datagen.digest(data_dir)

    for d in ("tmp", "local", "eventlog", "store"):
        os.makedirs(os.path.join(run_dir, d))
    import tempfile

    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir

    steal0 = cpu_ticks()
    conf = session_conf(run_dir, bool(args.trace))
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, start_s, warm_s = start_and_warm(conf, data_dir, tables)
        setups.append((start_s, warm_s))

    import spans

    tracer = spans.Tracer() if args.trace else None
    h = wl.Harness(spark, tracer)
    pins = {}
    if not args.smoke:
        with open(os.path.join(HERE, "pins.json")) as fh:
            pins = json.load(fh).get(f"{args.workload}@{sf}", {})
    try:
        if args.workload == "energy_ts":
            res = wl.query_workload(h, wl.ENERGY_QUERIES, data_dir, args.seed, args.seconds, args.trace, min_steady, pins)
        elif args.workload == "corpus_dedup":
            res = wl.query_workload(h, wl.CORPUS_QUERIES, data_dir, args.seed, args.seconds, args.trace, min_steady, pins)
        else:
            res = wl.store_workload(
                h, data_dir, os.path.join(run_dir, "store"), args.seed, args.trace, min_steady, args.smoke
            )
        if not pins and not args.smoke and args.workload != "store_ingest":
            res.failures.append(f"no pinned digests for {args.workload}@{sf}")
        rss = {"jvm_hwm_mb": jvm_hwm_mb(spark), "python_max_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
        app_id = spark.sparkContext.applicationId
        versions = {"spark": spark.version, "pyspark": __import__("pyspark").__version__}
    finally:
        h.trace(False)
        spark.stop()
        stop_jvm()
    steal1 = cpu_ticks()

    out = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": {
            "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
            "master": f"local[{CORES}]",
            "driver_memory": DRIVER_MEMORY,
            "driver_java_options": session_conf(run_dir, False)["spark.driver.extraJavaOptions"],
            "python": platform.python_version(),
            **versions,
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            "worker_pythonpath": os.environ["PYTHONPATH"],
            "dataset": {"path": os.path.relpath(data_dir, ROOT), "bytes": data_bytes, "sha256": data_sha},
            "cpu_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        },
    }
    out.update(summarize(res, setups, args))
    out["e2e"]["driver_peak_rss_mb"] = sum(rss.values())
    out["rss"] = rss
    if args.trace:
        import layers

        out["layers"] = layers.per_layer(res, setups, tracer, os.path.join(run_dir, "eventlog", app_id))
        out["spans"] = spans.summary(tracer.spans)
    return out


def summarize(res, setups, args) -> dict:
    untraced = res.steady(False)
    pass_s = [sum(op.latency for op in p) for p in untraced]
    # an op is one query, or on store_ingest one ingest batch (the
    # workload's unit of work; rollup batches are in pass_s and per layer)
    samples = [op.latency for p in untraced for op in p if op.kind != "rollup"]
    tail_v, tail_p = tail(samples)
    failed_ops = [f"{op.op_id}: {op.error}" for op in res.ops if not op.ok]
    return {
        "passes": [
            {
                "role": r,
                "traced": t,
                "s": sum(op.latency for op in p),
                "ops": {op.kind: round(op.latency, 4) for op in p},
                "jobs": {op.kind: sum(len(j) for j in op.jobs.values()) for op in p},
            }
            for p, r, t in zip(res.passes, res.roles, res.traced)
        ],
        "setups": [{"start_s": a, "warmup_s": b} for a, b in setups],
        "attempted": len(res.ops) + res.checks,
        "failed": len(failed_ops) + len(res.failures),
        "failures": failed_ops + res.failures,
        "details": res.details,
        "e2e": {
            "setup_s": statistics.median(a + b for a, b in setups),
            "first_pass_s": sum(op.latency for op in res.passes[0]),
            "pass_s": statistics.median(pass_s),
        },
        # recorded, not gated metrics: the median of a run's few ops moves
        # with box load far more than pass_s, and the tail of so few ops
        # sits at the maximum (see README)
        "op_p50": {"s": statistics.median(samples), "samples": len(samples)},
        "op_tail": {"s": tail_v, "percentile": tail_p, "samples": len(samples)},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one steady pass, no pins")
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "energy_pandas_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the repository (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    try:
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    metrics = out["layers"] if args.trace else out["e2e"]
    if set(metrics) != set(units):
        raise SystemExit(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump(out, fh, indent=1, default=str)
    print(json.dumps(out, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
