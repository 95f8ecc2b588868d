"""Continuous crawl: Structured Streaming wrapper around the round function.

The reference is a batch crawler (SURVEY.md §2.10) and the engine's primary
mode is iterated batch rounds over snapshot tables. This module provides the
optional continuous variant the survey calls for: a ``readStream`` over
newly-discovered frontier files, with ``foreachBatch`` running the SAME
round (``CrawlDriver.run_round``) per micro-batch — no separate streaming
implementation to keep in sync.

Semantics mapping:

- micro-batch = drained backlog: each non-empty batch is seeded into the
  frontier table (canonicalized like any seed) and the driver then runs
  committed rounds until one admits nothing, so rows that per-host budgets
  held back are crawled before the next batch rather than waiting for it.
- the seen-set lives in the same snapshot tables as batch mode, so a crawl
  can switch between batch and streaming modes between rounds.
- ordering: within a micro-batch, admission order is the engine's canonical
  (priority, discovery_time, url) — identical to batch mode; across batches
  it is arrival order, which mirrors the reference's pagination order.
- no watermarks/event-time windows are needed: the URL-seen set (exact +
  bloom) subsumes late-data dedup, and politeness budgets are per-batch.

The module holds no streaming state of its own: the engine's state store is
the snapshot tables, so a restart needs only the streaming checkpoint (source
offsets) next to them. ``examples/continuous_crawl_job.py`` runs it end to
end.
"""

from __future__ import annotations

import sys
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from fess_ds_s3_spark.plans.crawl import CrawlDriver


def stream_frontier(spark: SparkSession, frontier_dir: str,
                    schema) -> DataFrame:
    """readStream over a directory that receives frontier parquet files
    (e.g. the listing stage's output at production scale)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 64)
            .parquet(frontier_dir))


def continuous_crawl(spark: SparkSession, frontier_stream: DataFrame,
                     driver: CrawlDriver, *,
                     payloads: DataFrame | None = None,
                     checkpoint_dir: str,
                     host_budgets: DataFrame | None = None,
                     on_batch: Callable[[int, int], None] | None = None,
                     ) -> StreamingQuery:
    """Run the engine rounds per micro-batch via foreachBatch.

    Each micro-batch is seeded into the driver's frontier table and drained
    with ``CrawlDriver.run``: committed rounds until one admits nothing.
    ``on_batch(round_id, admitted)`` is called once per round. Restart
    recovery comes from BOTH the streaming checkpoint (source offsets) and
    the snapshot tables (engine state), which commit in that order; a
    replayed batch is deduplicated by the seen-set, keeping the sink
    exactly-once at the URL level.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        driver.seed(batch_df)
        # no round bound: run() stops at the first round that admits 0
        for summary in driver.run(sys.maxsize, payloads=payloads,
                                  host_budgets=host_budgets):
            if on_batch is not None:
                on_batch(summary.round_id, summary.admitted)

    return (frontier_stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(_process)
            .start())
