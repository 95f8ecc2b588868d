"""Example spark-submit job: a continuous crawl over a landing directory.

    scripts/make_pyfiles.sh
    spark-submit --py-files dist/fess_ds_s3_spark.zip \
        examples/continuous_crawl_job.py --rows 100000 --files 3 \
        --warehouse /tmp/stream-wh

The streaming twin of ``crawl_job.py``. Seed frontier files land one at a
time in ``<warehouse>/_incoming`` (the stand-in for a listing stage that
writes parquet), and after each landing the job drains the directory with
an ``availableNow`` stream (streaming/rounds.py): each micro-batch is
seeded into the frontier table and drained, committed rounds running until
one admits nothing. The streaming checkpoint in ``<warehouse>/_checkpoint``
holds the source offsets, so every drain reads only files it has not read
before and the job can be re-run on a schedule against the same
directories.

On a cluster, drop the --master local default via spark-submit's own
--master/--num-executors flags; the job code is identical.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources.synthetic import synth_frontier
from fess_ds_s3_spark.streaming.rounds import (continuous_crawl,
                                               stream_frontier)


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--rows", type=int, default=100_000)
    parser.add_argument("--files", type=int, default=3)
    parser.add_argument("--hosts", type=int, default=500)
    parser.add_argument("--budget", type=int, default=100)
    parser.add_argument("--warehouse", default="/tmp/stream-wh")
    args = parser.parse_args()

    spark = (SparkSession.builder
             .appName("fess-ds-s3-spark-continuous-crawl")
             .config("spark.sql.shuffle.partitions", "32")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    cfg = CrawlConfig(region="us-east-1",
                      default_host_budget=args.budget,
                      bloom_expected=max(args.rows // 64, 1000))
    driver = CrawlDriver(spark, args.warehouse, cfg)
    incoming = os.path.join(args.warehouse, "_incoming")
    checkpoint = os.path.join(args.warehouse, "_checkpoint")
    per_file = max(args.rows // args.files, 1)
    for i in range(args.files):
        # one landing = one seed file; a fresh seed per file draws
        # distinct URLs from the keyspace
        (synth_frontier(spark, per_file, n_hosts=args.hosts, seed=42 + i)
         .coalesce(1).write.mode("append").parquet(incoming))
        before = driver.last_round()
        stream = stream_frontier(spark, incoming,
                                 synth_frontier(spark, 0).schema)
        continuous_crawl(spark, stream, driver,
                         checkpoint_dir=checkpoint).awaitTermination()
        new_rounds = [r for r in driver.rounds.rows() if r["round"] > before]
        for r in sorted(new_rounds, key=lambda r: r["round"]):
            print(json.dumps({"file": i, "round": r["round"],
                              "admitted": r["admitted"],
                              "stored": r["stored"],
                              "discarded": r["discarded"],
                              "failed": r["failed"]}))
    spark.stop()


if __name__ == "__main__":
    main()
