"""The sustained crawl loop: live discovery stream → crawl epochs.

Reference analog: ``Maga.run``'s unbounded asyncio loop
(maga/crawler.py:100-117) — bind the endpoint, then forever: receive
datagrams, decode, absorb the discoveries, re-announce on the clock. The
Spark twin drives the SAME absorb → schedule → fetch → commit epoch
(plans/frontier.CrawlEngine) from a Structured Streaming ``foreachBatch``
over the datagram landing zone: each micro-batch of discovered URLs
becomes one crawl epoch, so the batch engine and the streaming loop share
every operator, bit for bit — the only difference is WHO hands the epoch
its discovery batch.

Why foreachBatch and not a fully-streaming plan: a crawl epoch is
iterative global state (seen set, frontier, per-host token buckets) with
a global top-K — none of which Structured Streaming's bounded-state
operators express. ``foreachBatch`` is the documented escape hatch for
exactly this shape: the stream provides exactly-once micro-batch delivery
(file-offset checkpointing), the batch engine provides the crawl
semantics, and state lives where it already lives (the engine's
checkpointed tables + optional snapstore snapshots for resume).

Scale shape: the landing zone is the only unbounded input; micro-batch
size is bounded by ``maxFilesPerTrigger`` (backpressure), engine state is
localCheckpoint-truncated per epoch, and superseded checkpoints are
released deterministically (frontier._commit_state) — block-manager
footprint is O(state size), flat in the number of epochs. Verified by
test_streaming's 10-micro-batch loop: persistent-RDD count stays flat
and the final seen digests equal the batch engine's on the same
discovery batches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from maga_spark.streaming.ingest import (
    datagram_stream,
    decode_datagrams,
    discovery_urls,
    dispatch,
)


def absorb_discoveries(engine, urls: DataFrame) -> None:
    """Union one batch of discovered URLs (single ``url`` column) into the
    engine's pending absorb input, which starts as the seed list, so the
    streaming loop's epoch-0 input is the batch engine's plus the batch.
    Absorb canonicalizes + dedups, so unions are idempotent."""
    engine._pending = engine._pending.unionByName(urls.select("url"))


def streaming_crawl(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    engine,
    max_files_per_trigger: int | None = 1,
    collect_ordering: bool = False,
    on_epoch: Callable[[int, object], None] | None = None,
    query_name: str = "streaming_crawl",
):
    """Start the live loop: landing zone → decode → dispatch → full
    discovery fan-in (announce peers ∪ response compact-nodes) →
    one crawl epoch per micro-batch. Returns the started StreamingQuery;
    the caller owns its lifecycle (``processAllAvailable``/``stop`` in
    tests, ``awaitTermination`` in a service).

    ``on_epoch(batch_id, EngineResult)`` observes each epoch (metrics,
    ordering when ``collect_ordering``) without the loop collecting
    anything itself."""
    stream = datagram_stream(spark, landing_dir, max_files_per_trigger)
    disc = discovery_urls(dispatch(decode_datagrams(stream)))

    def _epoch(batch_df: DataFrame, batch_id: int) -> None:
        absorb_discoveries(engine, batch_df)
        res = engine.run(epochs=1, collect_ordering=collect_ordering)
        if on_epoch is not None:
            on_epoch(batch_id, res)

    return (
        disc.writeStream.outputMode("append")
        .foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
