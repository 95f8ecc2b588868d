"""Structured Streaming variant: foreachBatch rounds == batch rounds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources import synthetic
from fess_ds_s3_spark.streaming.rounds import (continuous_crawl,
                                               stream_frontier)


@pytest.fixture()
def cfg():
    return CrawlConfig(region="us-east-1", default_host_budget=100,
                       bloom_expected=10_000, seen_partitions=8)


class TestStreamingRounds:
    def test_stream_equals_batch(self, spark, cfg, tmp_path):
        """Feeding the frontier through readStream+foreachBatch must commit
        the same seen-set as batch mode over the same rows."""
        frontier = synthetic.synth_frontier(spark, 120, n_hosts=6, seed=21)
        src = str(tmp_path / "incoming")
        # two files → at most maxFilesPerTrigger-grouped micro-batches
        frontier.filter(F.col("priority") < 5).write.parquet(
            src, mode="append")
        frontier.filter(F.col("priority") >= 5).write.parquet(
            src, mode="append")

        batch_driver = CrawlDriver(spark, str(tmp_path / "batch"), cfg)
        batch_driver.seed(frontier)
        batch_driver.run(n_rounds=10)

        stream_driver = CrawlDriver(spark, str(tmp_path / "stream"), cfg)
        stream = stream_frontier(spark, src, frontier.schema)
        rounds_seen = []
        query = continuous_crawl(
            spark, stream, stream_driver,
            checkpoint_dir=str(tmp_path / "ckpt"),
            on_batch=lambda rid, n: rounds_seen.append((rid, n)))
        query.awaitTermination(180)

        batch_urls = {r.canonical_url
                      for r in batch_driver.committed_seen().collect()}
        stream_urls = {r.canonical_url
                       for r in stream_driver.committed_seen().collect()}
        assert stream_urls == batch_urls
        assert len(rounds_seen) >= 1

    def test_stream_restart_no_duplicates(self, spark, cfg, tmp_path):
        """availableNow restart over the same checkpoint must not re-admit
        (streaming offsets + seen-set double protection)."""
        frontier = synthetic.synth_frontier(spark, 40, n_hosts=3, seed=5)
        src = str(tmp_path / "incoming")
        frontier.write.parquet(src, mode="append")
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        ckpt = str(tmp_path / "ckpt")
        q1 = continuous_crawl(spark, stream_frontier(spark, src,
                                                     frontier.schema),
                              driver, checkpoint_dir=ckpt)
        q1.awaitTermination(120)
        n_after_first = driver.read_committed("indexed").count()
        # restart with same checkpoint: no new files → no new rounds
        q2 = continuous_crawl(spark, stream_frontier(spark, src,
                                                     frontier.schema),
                              driver, checkpoint_dir=ckpt)
        q2.awaitTermination(120)
        assert driver.read_committed("indexed").count() == n_after_first


class TestStreamStoreMode:
    def test_streaming_crawl_fetches_from_store(self, spark, tmp_path):
        """Streaming micro-batches drive the SAME round logic, so a driver
        in object-store mode fetches content through the production stage
        per micro-batch — contents land in the committed indexed sink."""
        from fess_ds_s3_spark.sources.object_store import (FsObjectStore,
                                                           list_objects_df)
        cfg = CrawlConfig(region="us-east-1", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=4)
        store = FsObjectStore(str(tmp_path / "store"))
        for i in range(6):
            store.put_object("sb", f"k{i}.txt", f"text-{i}".encode(),
                             content_type="text/plain")
        listing = list_objects_df(spark, store.root, cfg)
        frontier = (listing
                    .withColumn("priority", F.lit(0))
                    .withColumn("discovery_time",
                                F.to_timestamp(F.lit("2020-01-01")))
                    .withColumn("round", F.lit(0)))
        src = str(tmp_path / "incoming")
        frontier.write.parquet(src, mode="append")

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=store.root)
        stream = stream_frontier(spark, src, frontier.schema)
        q = continuous_crawl(spark, stream, driver,
                             checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(180)
        rows = {r.url: r.contents
                for r in driver.read_committed("indexed").collect()}
        assert len(rows) == 6
        assert any(v == "text-0" for v in rows.values())
