"""The store protocol the streaming writers share (streaming/store.py):
the one store reader, and what every two-table writer does when a
write fails mid-batch."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from energy_pandas_spark.streaming.store import read_store


def _never_written(spark, p):
    pass


def _empty_dir(spark, p):
    os.makedirs(p)  # a crash after mkdir, before any data file


def _corrupt_file(spark, p):
    os.makedirs(p)
    with open(os.path.join(p, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet at all")


def _interrupted_swap(spark, p):
    spark.range(5).write.parquet(p)
    shutil.move(p, p + "__backup")  # crash between the swap's renames


@pytest.mark.parametrize(
    "make, want",
    [
        (_never_written, None),
        (_empty_dir, None),
        (_corrupt_file, Exception),
        (_interrupted_swap, 5),
    ],
    ids=["never_written", "empty_dir", "corrupt_file", "interrupted_swap"],
)
def test_read_store(spark, tmp_path, make, want):
    """Only a store that holds no data yet reads as None. An unreadable
    one raises: read as 'no history', the batch would land without
    dedup (double-ingest) or swap the accumulated sketches away. An
    interrupted swap's ``__backup`` is restored, never lost."""
    p = str(tmp_path / "store")
    make(spark, p)
    if want is Exception:
        with pytest.raises(Exception):
            read_store(spark, p)
    elif want is None:
        assert read_store(spark, p) is None
    else:
        assert read_store(spark, p).count() == want
        assert not os.path.exists(p + "__backup")


# ---------------------------------------------------------------------------
# fault injection: the second parquet write of a batch raises
# ---------------------------------------------------------------------------


def _ingest(spark, d):
    from energy_pandas_spark.streaming.ingest import make_neardup_ingest_writer

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox leaps over the lazy dog again and again"
    other = "completely different content about spark query engines and shuffles"
    third = "yet another unrelated document mentioning catalysts and codegen stages"
    tables = [f"{d}/corpus", f"{d}/bands"]
    w = make_neardup_ingest_writer(
        *tables, num_hashes=64, bands=32, shingle_size=2, threshold=0.3
    )
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(0, base), (1, other)], schema)
    b1 = spark.createDataFrame([(10, near), (11, third), (12, third)], schema)
    return w, tables, b0, b1


def _url(spark, d):
    from energy_pandas_spark.streaming.url_ingest import (
        make_url_dedup_ingest_writer,
    )

    tables = [f"{d}/corpus", f"{d}/urls"]
    schema = "doc_id long, url string, text string"
    b0 = spark.createDataFrame(
        [(1, "https://a.io/x", "t"), (2, "junk", "no url")], schema
    )
    b1 = spark.createDataFrame(
        [
            (3, "https://a.io/x#f", "dup of 1"),
            (4, "https://a.io/y?utm_source=m", "new"),
            (5, "https://a.io/y", "in-batch dup of 4"),
            (6, "junk", "another no-url row"),
        ],
        schema,
    )
    return make_url_dedup_ingest_writer(*tables), tables, b0, b1


def _line(spark, d):
    from energy_pandas_spark.streaming.line_ingest import (
        make_line_dedup_ingest_writer,
    )

    tables = [f"{d}/corpus", f"{d}/digests"]
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(0, "header\nalpha body")], schema)
    b1 = spark.createDataFrame(
        [(10, "header\nbeta body"), (11, "beta body\ngamma")], schema
    )
    return make_line_dedup_ingest_writer(*tables), tables, b0, b1


def _image(spark, d):
    from energy_pandas_spark.operators.codecs import (
        encode_png,
        register_default_decoders,
    )
    from energy_pandas_spark.streaming.image_ingest import (
        make_image_ingest_writer,
    )

    register_default_decoders()
    rng = np.random.default_rng(21)
    a, b, c = (rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in "abc")
    a_near = a.copy()
    a_near[2, 2] = 255 - a_near[2, 2]

    def media(rows):
        return spark.createDataFrame(
            [
                (i, bytearray(encode_png(img)), ("image/png", 16, 16, None))
                for i, img in rows
            ],
            "media_id long, content binary, "
            "meta struct<mime:string,width:int,height:int,duration_ms:bigint>",
        )

    tables = [f"{d}/media", f"{d}/phash"]
    w = make_image_ingest_writer(*tables, max_hamming=4)
    return w, tables, media([(0, a), (1, b)]), media([(10, a_near), (11, c)])


def _winnow(spark, d):
    from energy_pandas_spark.streaming.winnow_ingest import (
        make_winnow_ingest_writer,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tables = [f"{d}/corpus", f"{d}/fps"]
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(0, f"opening words {passage} closing words here")], schema
    )
    b1 = spark.createDataFrame(
        [
            (10, f"fresh frame {passage} different ending"),
            (11, "streams watermark state store checkpoints replay semantics"),
        ],
        schema,
    )
    return make_winnow_ingest_writer(*tables, min_shared=2), tables, b0, b1


def _frontier(spark, d):
    from energy_pandas_spark.streaming.frontier import (
        make_frontier_ingest_writer,
    )

    tables = [f"{d}/frontier", f"{d}/seen"]
    schema = "doc_id long, url string, text string"
    b0 = spark.createDataFrame(
        [(1, "https://a.io/1", '<a href="https://b.io/x">l</a>')], schema
    )
    b1 = spark.createDataFrame(
        [
            (2, "https://b.io/x",
             '<a href="https://b.io/x">self</a><a href="https://c.io/n">n</a>'),
            (3, "https://a.io/3", '<a href="/local">r</a>'),
        ],
        schema,
    )
    return make_frontier_ingest_writer(*tables), tables, b0, b1


def _templates(spark, d):
    from energy_pandas_spark.streaming.templates import make_template_writer

    schema = "doc_id long, domain string, text string"
    b0 = spark.createDataFrame(
        [(0, "a.com", "FOOT\nbody zero"), (1, "a.com", "body one")], schema
    )
    b1 = spark.createDataFrame(
        [(2, "a.com", "FOOT\nbody two"), (3, "b.net", "other")], schema
    )
    tables = [f"{d}/docs", f"{d}/lines"]
    return make_template_writer(d, "domain"), tables, b0, b1


def _table_rows(spark, path):
    return sorted(map(repr, spark.read.parquet(path).collect()))


@pytest.mark.parametrize(
    "setup",
    [_ingest, _url, _line, _image, _winnow, _frontier, _templates],
    ids=["ingest", "url", "line", "image", "winnow", "frontier", "templates"],
)
def test_failed_second_write_releases_persists_and_replays(
    spark, tmp_path, monkeypatch, setup
):
    """Batch 1's second table write raises after its first table has
    landed. The batch must release every persist it took, and the
    replay of batch 1 must leave both tables equal to a clean
    delivery of batches 0 and 1."""
    w, tables, b0, b1 = setup(spark, str(tmp_path / "clean"))
    w(b0, 0)
    w(b1, 1)
    want = [_table_rows(spark, t) for t in tables]
    assert all(want)

    w, tables, b0, b1 = setup(spark, str(tmp_path / "faulted"))
    w(b0, 0)
    spark.catalog.clearCache()
    real = DataFrameWriter.parquet
    calls = []

    def second_write_fails(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise IOError(f"injected failure writing {path}")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(IOError, match="injected failure"):
        w(b1, 1)
    monkeypatch.undo()
    assert calls == tables
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    w(b1, 1)  # the replay, same batch id
    assert [_table_rows(spark, t) for t in tables] == want
