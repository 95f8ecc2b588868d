"""Continuous crawl: Structured Streaming wrapper around the round function.

The reference is a batch crawler (SURVEY.md §2.10) and the engine's primary
mode is iterated batch rounds over snapshot tables. This module provides the
optional continuous variant the survey calls for: a ``readStream`` over
newly-discovered frontier files, with ``foreachBatch`` running the SAME
round (``CrawlDriver.run_round``) per micro-batch — no separate streaming
implementation to keep in sync.

Semantics mapping:

- micro-batch = scheduling round: each non-empty batch is appended to the
  frontier table and run as the driver's next committed round.
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
    """Run the engine round per micro-batch via foreachBatch.

    Each micro-batch is seeded into the driver's frontier table and run as
    the next committed round — restart recovery comes from BOTH the
    streaming checkpoint (source offsets) and the snapshot tables (engine
    state), which commit in that order; a replayed batch is deduplicated by
    the seen-set, keeping the sink exactly-once at the URL level.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        driver.frontier.append(batch_df, {"kind": "stream-batch",
                                          "batch_id": batch_id})
        round_id = driver.last_round() + 1
        summary = driver.run_round(round_id, payloads=payloads,
                                   host_budgets=host_budgets)
        if on_batch is not None:
            on_batch(round_id, summary.admitted)

    return (frontier_stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(_process)
            .start())
