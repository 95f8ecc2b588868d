"""Example spark-submit job: crawl a REAL object store (S3 / MinIO).

    scripts/make_pyfiles.sh
    spark-submit --py-files dist/fess_ds_s3_spark.zip \
        examples/s3_crawl_job.py --region us-east-1 \
        --buckets my-bucket-a,my-bucket-b --rounds 10 \
        --warehouse s3-crawl-wh
    # MinIO / S3-compatible:
    #   --endpoint http://minio.local:9000 --access-key ... --secret-key ...

The production path end to end: distributed keyset-paginated listing seeds
the frontier, each round admits per-host budget slices, content is fetched
through the boto3 client inside ``mapInPandas`` with a bounded per-task GET
pool (``--threads``, the reference's ``number_of_threads``), robots.txt
objects are honored when ``--respect-robots`` is set, and every O(25)
rounds the frontier + seen-set are compacted and their old snapshots
expired, so a long crawl's per-round reads stay O(1) directories and its
disk use stays bounded. Prefer instance-profile/env credentials and
omit the key flags; explicit keys ride the task pickle like any Spark
closure variable.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources.object_store import S3StoreSpec, list_objects_df

COMPACT_EVERY = 25


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--region", required=True)
    parser.add_argument("--endpoint", default=None)
    parser.add_argument("--access-key", default=None)
    parser.add_argument("--secret-key", default=None)
    parser.add_argument("--buckets", default="")
    parser.add_argument("--rounds", type=int, default=10)
    parser.add_argument("--budget", type=int, default=10_000)
    parser.add_argument("--threads", type=int, default=16,
                        help="per-task GET pool bound (number_of_threads)")
    parser.add_argument("--include", default=None)
    parser.add_argument("--exclude", default=None)
    parser.add_argument("--respect-robots", action="store_true")
    parser.add_argument("--warehouse", default="/tmp/s3-crawl-wh")
    args = parser.parse_args()

    spark = SparkSession.builder.appName("fess-ds-s3-spark-s3").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = CrawlConfig(
        region=args.region, endpoint=args.endpoint,
        access_key_id=args.access_key, secret_key=args.secret_key,
        buckets=tuple(b.strip() for b in args.buckets.split(",") if b.strip()),
        include_pattern=args.include, exclude_pattern=args.exclude,
        number_of_threads=args.threads, default_host_budget=args.budget,
        respect_robots=args.respect_robots)
    store = S3StoreSpec.from_config(cfg)

    driver = CrawlDriver(spark, args.warehouse, cfg,
                         object_store_root=store)
    if driver.last_round() < 0:
        listing = list_objects_df(spark, store, cfg)
        driver.seed(listing
                    .withColumn("priority", F.lit(0))
                    .withColumn("discovery_time",
                                F.current_timestamp()))
    for _ in range(args.rounds):
        batch = driver.run(1)
        if not batch:
            break
        s = batch[0]
        print(json.dumps({"round": s.round_id, "admitted": s.admitted,
                          "stored": s.stored, "discarded": s.discarded,
                          "failed": s.failed}))
        if s.admitted == 0:
            break
        if s.round_id > 0 and s.round_id % COMPACT_EVERY == 0:
            driver.compact_frontier()
            driver.compact_seen()
            # compaction only unreferences the old files; expiring the
            # snapshots deletes them
            driver.vacuum()


if __name__ == "__main__":
    main()
