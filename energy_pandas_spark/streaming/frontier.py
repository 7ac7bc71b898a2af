"""Streaming crawl-frontier maintenance: pages in, NEW links out.

The discovery half of the crawl loop (``streaming/url_ingest.py`` is
the admission half): each micro-batch of fetched pages has its
outlinks harvested (``operators/urls.py:extract_links`` — map-only
regex explode), resolved against the page URL, canonicalized, and
reduced to one candidate per canonical target with a reference count.
Candidates that were ever seen before — emitted to the frontier by an
earlier batch, OR fetched as a page themselves — are dropped by one
anti-join against the persisted seen-store of 8-byte URL hashes
(``xxhash64('url-v1', canonical)``, the exact salt the URL-dedup
ingest uses, so the two stores speak the same key space and a crawler
can point both paths at ONE store).

Per batch (foreachBatch):

1. links  = extract + resolve + canonicalize           (map-only);
2. cand   = one row per canonical target, n_refs       (one hash agg);
3. pages' own canonical URLs are ALSO "seen" this batch — a page
   fetched now must never be re-enqueued, and an in-batch link to an
   in-batch page is satisfied, not frontier work;
4. fresh  = cand anti-join (store ∪ batch pages), store read
   excluding THIS batch's partition (replay safety);
5. fresh frontier rows land partitioned by ``__batch_id`` with
   dynamic partition overwrite; (fresh ∪ page) hashes append to the
   seen store the same way — a replayed batch overwrites exactly its
   own partitions and the frontier/store end state is unchanged.

Scale shape: page text is scanned once for hrefs and never shuffled;
only (hash, url, n_refs) strings/longs enter the aggregate and
anti-join; the seen store ships 8-byte hashes. Hash collisions
suppress a frontier URL at ~2^-64 per pair — the same accepted trade
as every digest store in this package.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from energy_pandas_spark.streaming.store import (
    land,
    persist_scope,
    read_history,
    start,
)

__all__ = [
    "make_frontier_ingest_writer",
    "frontier_ingest",
    "read_frontier",
]


def make_frontier_ingest_writer(
    frontier_path: str,
    seen_path: str,
    url_col: str = "url",
    html_col: str = "text",
    id_col: str = "doc_id",
    link_filter: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` writer (exposed for direct testing).
    ``link_filter`` is an optional scope gate over the resolved link
    rows (columns ``(id, href, url)``) BEFORE canonicalization — e.g.
    keep only in-scope domains; out-of-scope links leave no store
    entry, so widening the scope later re-discovers them."""
    from energy_pandas_spark.operators.urls import canonical_url, extract_links

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        links = extract_links(
            batch.select(F.col(id_col), F.col(url_col), F.col(html_col)),
            html_col=html_col,
            id_col=id_col,
            base_url_col=url_col,
        ).filter(F.col("url").isNotNull())
        if link_filter is not None:
            links = link_filter(links)
        cand = (
            links.select(canonical_url(F.col("url")).alias("__curl"))
            .filter(F.col("__curl").isNotNull())
            .groupBy("__curl")
            .agg(F.count(F.lit(1)).alias("n_refs"))
            .withColumn("__h", F.xxhash64(F.lit("url-v1"), F.col("__curl")))
        )
        store = read_history(spark, seen_path, batch_id)
        store_prev = (
            store.select(F.col("h").alias("__h")) if store is not None else None
        )

        with persist_scope() as persist:
            # the batch's own pages count as seen from this batch on
            page_hashes = persist(
                batch.select(canonical_url(F.col(url_col)).alias("__curl"))
                .filter(F.col("__curl").isNotNull())
                .select(
                    F.xxhash64(F.lit("url-v1"), F.col("__curl")).alias("__h")
                )
                .distinct()
            )
            seen = page_hashes
            if store_prev is not None:
                seen = seen.unionByName(store_prev)
            fresh = persist(cand.join(seen, "__h", "left_anti"))
            land(
                fresh.select(F.col("__curl").alias("url"), "n_refs"),
                frontier_path,
                batch_id,
            )
            # store additions are de-duped against history too: a
            # fetched page was usually frontier-emitted earlier, and
            # re-appending its hash every batch would grow the store
            # by one corpus per crawl cycle
            new_hashes = fresh.select("__h").unionByName(page_hashes).distinct()
            if store_prev is not None:
                new_hashes = new_hashes.join(store_prev, "__h", "left_anti")
            land(new_hashes.select(F.col("__h").alias("h")), seen_path, batch_id)

    return write_batch


def frontier_ingest(
    stream: DataFrame,
    frontier_path: str,
    seen_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Start the frontier query; returns the StreamingQuery."""
    write_batch = make_frontier_ingest_writer(frontier_path, seen_path, **kwargs)
    return start(stream, write_batch, checkpoint, trigger_available_now)


def read_frontier(
    spark: SparkSession,
    frontier_path: str,
    fetched: DataFrame | None = None,
    url_col: str = "url",
) -> DataFrame:
    """Frontier entries (without batch bookkeeping). A row persists
    after its URL is fetched — the seen store prevents RE-EMISSION but
    cannot mark fetch completion (emitted and fetched hashes share one
    key space by design) — so a crawler driving itself off this table
    must subtract its own fetch log or it re-enqueues forever. Pass
    ``fetched`` (any frame with a ``url_col`` of fetched page URLs,
    e.g. the crawled-pages table) and the rows anti-join out here, on
    the same canonical-hash key the writer uses."""
    from energy_pandas_spark.operators.urls import canonical_url

    out = spark.read.parquet(frontier_path).drop("__batch_id")
    if fetched is not None:
        done = (
            fetched.select(canonical_url(F.col(url_col)).alias("__curl"))
            .filter(F.col("__curl").isNotNull())
            .select(F.xxhash64(F.lit("url-v1"), F.col("__curl")).alias("__h"))
            .distinct()
        )
        # the stored url IS canonical (the writer emits __curl), so the
        # key hashes it directly — no re-canonicalization round-trip
        out = out.withColumn(
            "__h", F.xxhash64(F.lit("url-v1"), F.col("url"))
        ).join(done, "__h", "left_anti").drop("__h")
    return out
