"""The benchmark's inputs.

`perfbench/data/<sf>/` holds byte-for-byte copies of the repository's
testdata tables the workloads read (TESTDATA.md: deterministic
synthetic tables, seed 42): `documents` and `events` at sf0.1, `documents` and
`embeddings` at sf0.01, and all three at sf0.001 for the smoke mode.
They are committed so a checkout holds its own inputs.

The sf1 events replica of the energy workload is derived from the sf0.1
events by the replication rule of `scripts/make_scale_probe.py`: copy k
of 10 offsets event_id by k*10^9 and user_id by k*10^7 and keeps
ts/value/props, one file per copy. It is built with pyarrow (no Spark,
so building it never warms the benchmark's own session) under
`perfbench/.work/data/sf1-<source sha256 prefix>/` on the first run and
reused after that.

The benchmark's --seed picks query order, batch assignment and replay,
never the table contents, so output digests can be pinned.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
COPIES = 10
KEYSPACE = {"event_id": 10**9, "user_id": 10**7}


def data_dir(sf: str, work: str) -> str:
    """The directory holding the tables of `sf`, building it if derived."""
    if sf != "sf1":
        return os.path.join(DATA, sf)
    src = os.path.join(DATA, "sf0.1", "events.parquet")
    # named after its source, so a changed source never reuses a stale copy
    dest = os.path.join(work, "data", f"sf1-{digest(src)[0][:12]}")
    build_sf1(src, dest)
    return dest


def build_sf1(src: str, dest: str) -> None:
    """Write the 10-copy events replica under `dest` (atomically: a
    finished directory always holds every copy)."""
    if os.path.isdir(dest):
        return
    tmp = dest + f".tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "events.parquet"))
    ev = pq.read_table(src)
    for k in range(COPIES):
        c = ev
        for col, space in KEYSPACE.items() if k else ():
            i = c.schema.get_field_index(col)
            c = c.set_column(i, col, pc.add(c[col], pa.scalar(k * space)))
        pq.write_table(c, os.path.join(tmp, "events.parquet", f"part-{k:05d}.parquet"))
    os.rename(tmp, dest)


def digest(path: str) -> tuple[str, int]:
    """sha256 over the file `path`, or every file under it (sorted), and
    their byte total."""
    h = hashlib.sha256()
    total = 0
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            data = fh.read()
        return hashlib.sha256(data).hexdigest(), len(data)
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(data)
            total += len(data)
    return h.hexdigest(), total
