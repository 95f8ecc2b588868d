"""Deterministic synthetic scale generators (seeded, no wall-clock).

A hash-sparse frontier drawn from a 10^10-URL keyspace at any feasible row
count (BASELINE.md), built entirely from ``spark.range`` + JVM-side hash
columns (no Python in generation, no RNG — xxhash64(seed, id) is the entropy
source, so any (rows, seed) pair is reproducible on any cluster size), plus
an interleaved text+media ``docs`` table in the exact ``input_hint`` shape
``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``. The schemas
below also shape the reference-exact fixture (the MinIO testcontainer
analog, LocalAmazonS3.java:52-64), which lives with the crawl oracle in
``tests/oracle.py``.

Skew: host assignment is deliberately Zipf-like (cubing a uniform hash)
so politeness salting has real hot hosts to handle.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

KEYSPACE = 10_000_000_000  # 10^10-URL keyspace (north rule)

FIXTURE_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)

FRONTIER_SCHEMA = StructType([
    StructField("bucket", StringType(), False),
    StructField("key", StringType(), False),
    StructField("url", StringType(), True),
    StructField("host", StringType(), True),
    StructField("size", LongType(), False),
    StructField("etag", StringType(), False),
    StructField("last_modified", TimestampType(), False),
    StructField("owner_id", StringType(), True),
    StructField("owner_display_name", StringType(), True),
    StructField("storage_class", StringType(), True),
    StructField("priority", IntegerType(), False),
    StructField("discovery_time", TimestampType(), False),
    StructField("round", IntegerType(), False),
])

PAYLOAD_SCHEMA = StructType([
    StructField("bucket", StringType(), False),
    StructField("key", StringType(), False),
    StructField("content", BinaryType(), False),
    StructField("resp_content_type", StringType(), False),
    StructField("content_length", LongType(), False),
])

SPAN_TYPE = StructType([
    StructField("kind", StringType(), False),
    StructField("text", StringType(), True),
    StructField("media_ref", StringType(), True),
    StructField("offset", IntegerType(), False),
])

DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE), False),
])


# ---------------------------------------------------------------------------
# Scale generators (pure JVM-side expressions)
# ---------------------------------------------------------------------------

def _u(seed: int, *cols) -> F.Column:
    """Deterministic uniform in [0,1) from xxhash64(seed, cols...)."""
    return (F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(1_000_000))
            / F.lit(1_000_000.0))


def synth_frontier(spark: SparkSession, n_rows: int, *, n_hosts: int = 1000,
                   n_buckets: int = 100, seed: int = 42,
                   keyspace: int = KEYSPACE, round_id: int = 0,
                   partitions: int | None = None) -> DataFrame:
    """Hash-sparse frontier: ``n_rows`` URLs drawn from a ``keyspace``-sized
    id space so per-URL cost (hashing, canonicalization, dedup) matches the
    full-scale workload. ~0.5% of rows are deliberate duplicates of earlier
    ids so dedup has real work. Host distribution ~ u³ (Zipf-ish skew).
    """
    df = spark.range(0, n_rows, numPartitions=partitions)
    uid = F.when(
        _u(seed + 7, F.col("id")) < 0.005,
        F.pmod(F.xxhash64(F.lit(seed), F.floor(F.col("id") / 2)),
               F.lit(keyspace)),
    ).otherwise(F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(keyspace)))
    host_idx = F.floor(F.pow(_u(seed + 1, F.col("id")), F.lit(3.0))
                       * F.lit(float(n_hosts))).cast("long")
    bucket_idx = F.pmod(host_idx, F.lit(n_buckets))
    return (
        df.withColumn("uid", uid)
        .withColumn("bucket", F.format_string("bucket-%04d", bucket_idx))
        .withColumn("host", F.format_string("host-%05d.example.com", host_idx))
        .withColumn("key", F.format_string(
            "data/%02d/%010d.bin", F.pmod(F.col("uid"), F.lit(97)), F.col("uid")))
        .withColumn("url", F.format_string(
            "https://host-%05d.example.com/data/%02d/%010d.bin",
            host_idx, F.pmod(F.col("uid"), F.lit(97)), F.col("uid")))
        .withColumn("size", (F.pmod(F.xxhash64(F.lit(seed + 2), F.col("id")),
                                    F.lit(20_000_000))).cast("long"))
        .withColumn("etag", F.md5(F.col("url")))
        .withColumn("last_modified",
                    F.timestamp_seconds(F.lit(1577836800)
                                        + F.pmod(F.col("uid"), F.lit(86400 * 365))))
        .withColumn("owner_id", F.lit("owner-id"))
        .withColumn("owner_display_name", F.lit("owner-name"))
        .withColumn("storage_class", F.lit("STANDARD"))
        .withColumn("priority",
                    F.pmod(F.xxhash64(F.lit(seed + 3), F.col("id")),
                           F.lit(10)).cast("int"))
        .withColumn("discovery_time",
                    F.timestamp_seconds(F.lit(1577836800) + F.col("id")))
        .withColumn("round", F.lit(round_id))
        # synthetic URLs are canonical by construction (lowercase host, no
        # default port/dot-segments/query) — store the canonical column the
        # way a real ingest stage would (see CrawlDriver.seed)
        .withColumn("canonical_url", F.col("url"))
        .drop("id", "uid")
    )


def synth_docs(spark: SparkSession, n_docs: int, *, seed: int = 42,
               max_spans: int = 16, n_hosts: int = 1000,
               partitions: int | None = None) -> DataFrame:
    """Interleaved text+media documents in the exact ``input_hint`` shape.

    Per doc: 1..max_spans spans; even offsets are text spans, odd offsets are
    media spans whose ``media_ref`` URLs point back into the synthetic host
    space (closing the link-extraction loop into the frontier). Element order
    of ``spans`` == ``offset`` order — the span-sequence invariant.
    """
    df = spark.range(0, n_docs, numPartitions=partitions)
    n_spans = (F.pmod(F.xxhash64(F.lit(seed + 11), F.col("id")),
                      F.lit(max_spans)) + 1).cast("int")
    return (
        df.withColumn("n_spans", n_spans)
        .withColumn("spans", F.transform(
            F.sequence(F.lit(0), F.col("n_spans") - 1),
            lambda i: _span_struct(seed, n_hosts, i)))
        .select(
            F.format_string("doc-%010d", F.col("id")).alias("doc_id"),
            F.col("spans"))
    )


def _span_struct(seed: int, n_hosts: int, i: F.Column) -> F.Column:
    doc = F.xxhash64(F.col("id"))
    host_of = F.pmod(F.xxhash64(F.lit(seed + 13), doc, i), F.lit(n_hosts))
    ref_of = F.format_string(
        "https://host-%05d.example.com/media/%012d.jpg",
        host_of, F.pmod(F.xxhash64(F.lit(seed + 17), doc, i), F.lit(KEYSPACE)))
    return F.struct(
        F.when(i % 2 == 0, F.lit("text")).otherwise(F.lit("media"))
        .alias("kind"),
        F.when(i % 2 == 0,
               F.format_string("text span %d of doc %d", i, F.col("id")))
        .alias("text"),
        F.when(i % 2 == 1, ref_of).alias("media_ref"),
        i.cast("int").alias("offset"),
    )
