"""Pin the output digests the query workloads check, and verify each
pinned output against its DuckDB oracle.

    python3 perfbench/pin.py [--no-oracle]

Run from the repository root, at a commit whose outputs are known good.
For every query of energy_ts and corpus_dedup it computes the Spark
digest (perfbench/digest.py) on the workload's dataset and, unless
--no-oracle, compares the full Spark output with the query's DuckDB
oracle the way tests/oracle_compare.py does. It writes perfbench/pins.json
with the digests and, per query, the oracle verdict ("match", "no oracle"
or the mismatch), plus the source digest of the code that produced them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--no-oracle", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT

    import datagen
    import digest as dg
    import run
    import workloads as wl

    import __spark_entry__ as entry
    from energy_pandas_spark.session import make_session

    scratch = os.path.join(run.WORK, f"pin-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    spark = make_session(
        master=f"local[{run.CORES}]",
        shuffle_partitions=run.CORES,
        driver_memory=run.DRIVER_MEMORY,
        extra_conf=run.session_conf(scratch, trace=False),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()
    out = {"source_sha256": run.source_digest(), "oracle": {}}
    try:
        for workload, names in (("energy_ts", wl.ENERGY_QUERIES), ("corpus_dedup", wl.CORPUS_QUERIES)):
            sf = run.WORKLOADS[workload][0]
            data_dir = datagen.data_dir(sf, run.WORK)
            pins = out[f"{workload}@{sf}"] = {}
            con = None if args.no_oracle else _duckdb(data_dir)
            for name in names:
                pins[name] = dg.frame_digest(qs[name](spark, data_dir))
                verdict = "not run"
                if con is not None:
                    verdict = _oracle_verdict(name, qs[name](spark, data_dir), oracles.get(name), con)
                out["oracle"][f"{workload}@{sf}:{name}"] = verdict
                print(f"{workload} {name} {pins[name]} oracle={verdict}", flush=True)
                from energy_pandas_spark.util import drain_tracked_caches

                drain_tracked_caches()
                spark.catalog.clearCache()
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        path = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue  # each dataset holds only the tables its workload reads
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle_verdict(name, df, sql, con) -> str:
    if sql is None:
        return "no oracle"
    from tests.oracle_compare import compare_to_oracle

    t = time.perf_counter()
    try:
        compare_to_oracle(name, df.toPandas(), con.execute(sql))
    except AssertionError as exc:
        return f"MISMATCH: {exc}"[:500]
    return f"match ({time.perf_counter() - t:.1f}s)"


if __name__ == "__main__":
    sys.exit(main())
