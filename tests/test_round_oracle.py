"""Round pipeline ≡ pure-Python oracle (SURVEY.md §5.2.2).

Compares (a) admission order, (b) URL-seen set, (c) the stored/discarded/
failed partition, (d) golden objectMap fields on the reference-exact fixture
(2 buckets × 2 objects — LocalAmazonS3.java:52-64)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.sources import synthetic
from tests.oracle import (OracleCrawler, reference_frontier,
                          reference_payloads)

REGION = "us-east-1"


def _frontier_rows(df):
    return [r.asDict() for r in df.collect()]


def _payload_map(df):
    return {(r.bucket, r.key): {"content": bytes(r.content),
                                "resp_content_type": r.resp_content_type}
            for r in df.collect()}


def _run_both(spark, cfg, frontier_df, payloads_df, host_budgets=None):
    oracle = OracleCrawler(cfg, _payload_map(payloads_df),
                           host_budgets=host_budgets)
    expected = oracle.crawl_engine_order(_frontier_rows(
        round_plan.prepare_frontier(frontier_df, cfg)
        .select("bucket", "key", "url", "host", "size", "priority",
                "discovery_time")))
    budgets_df = None
    if host_budgets:
        budgets_df = spark.createDataFrame(
            list(host_budgets.items()), "host string, budget_per_round int")
    result = round_plan.run_round(frontier_df, cfg, payloads=payloads_df,
                                  host_budgets=budgets_df)
    return expected, result


def _admissions(result):
    rows = result.admitted.select("host", "host_rank", "url").collect()
    return [r.url for r in sorted(rows, key=lambda r: (r.host, r.host_rank))]


class TestReferenceFixture:
    @pytest.fixture()
    def fixture(self, spark):
        return reference_frontier(spark), reference_payloads(spark)

    def test_default_config_all_stored(self, spark, fixture):
        frontier, payloads = fixture
        cfg = CrawlConfig(region=REGION)
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert _admissions(result) == [u for _, _, u in expected.admissions]
        stored = result.stored.orderBy("url").collect()
        assert [r.url for r in stored] == sorted(expected.stored_urls)
        assert result.discarded.count() == 0
        assert result.failed.count() == 0

    def test_golden_object_map(self, spark, fixture):
        """Exact objectMap goldens (AmazonS3DataStoreTest.java:83-104)."""
        frontier, payloads = fixture
        cfg = CrawlConfig(region=REGION)
        _, result = _run_both(spark, cfg, frontier, payloads)
        row = (result.stored
               .filter((F.col("bucket_name") == "fess-0")
                       & (F.col("key") == "files/sample-0.txt"))
               .collect()[0])
        assert row.url == ("https://fess-0.s3.us-east-1.amazonaws.com/"
                           "files/sample-0.txt")
        assert row.management_url == (
            "https://s3.console.aws.amazon.com/s3/object/fess-0/"
            "files/sample-0.txt?region=us-east-1")
        assert row.filename == "sample-0.txt"
        assert row.contents == "hogehoge"  # byte-exact extraction
        assert row.mimetype == "text/plain"  # sniffed, not response type
        assert row.resp_content_type == "application/octet-stream"
        assert row.filetype == "txt"
        assert row.size == 8

    def test_include_pattern(self, spark, fixture):
        frontier, payloads = fixture
        cfg = CrawlConfig(region=REGION, include_pattern=".*sample-0.*")
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert sorted(r.url for r in result.stored.collect()) == \
            sorted(expected.stored_urls)
        assert result.stored.count() == 2
        assert result.discarded.count() == 2
        got_disc = {(r.url, r.discard_reason)
                    for r in result.discarded.collect()}
        assert got_disc == set(expected.discarded)

    def test_exclude_pattern(self, spark, fixture):
        frontier, payloads = fixture
        cfg = CrawlConfig(region=REGION, exclude_pattern=".*sample-1.*")
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert sorted(r.url for r in result.stored.collect()) == \
            sorted(expected.stored_urls)

    def test_max_size_all_fail(self, spark, fixture):
        # AmazonS3DataStoreTest.java:211-233
        frontier, payloads = fixture
        cfg = CrawlConfig(region=REGION, max_size=1)
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert result.stored.count() == 0
        assert result.failed.count() == 4
        assert {(r.url, r.error_name) for r in result.failed.collect()} == \
            set(expected.failed)

    def test_mime_allowlist_discards(self, spark, fixture):
        frontier, payloads = fixture
        cfg = CrawlConfig.from_params(
            {"region": REGION, "supported_mimetypes": "text/plain"})
        expected, result = _run_both(spark, cfg, frontier, payloads)
        # fixture uploads as application/octet-stream → all discarded (F2
        # uses the *response* type, not the sniffed text/plain)
        assert result.stored.count() == 0
        assert result.discarded.count() == 4
        assert {r.discard_reason for r in result.discarded.collect()} == \
            {"mimetype"}
        assert set(expected.discarded) == {
            (u, "mimetype") for _, _, u in expected.admissions}

    def test_mime_checked_before_size(self, spark, fixture):
        """Reference order (AmazonS3DataStore.java:215-226): an object that
        is both MIME-unsupported and oversize is a DISCARD (contentType is
        checked first) — never a MaxLengthExceeded failure row."""
        frontier, payloads = fixture
        cfg = CrawlConfig.from_params(
            {"region": REGION, "supported_mimetypes": "text/plain",
             "max_size": "1"})
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert result.failed.count() == 0
        assert result.discarded.count() == 4
        assert {r.discard_reason for r in result.discarded.collect()} == \
            {"mimetype"}
        assert set(expected.failed) == set()
        assert len(expected.discarded) == 4

    def test_number_of_threads_sets_processing_fanout(self, spark, fixture):
        """X1: number_of_threads (the reference's fixedThreadPool size,
        AmazonS3DataStore.java:150) is the processing-stage partition FLOOR
        — a live knob, not dead config, but never a cap: a value above the
        cluster's natural parallelism widens the extraction stage; a small
        reference-style value must NOT force a content shuffle down to it
        (ADVICE r2)."""
        frontier, payloads = fixture
        base = round_plan.run_round(frontier, CrawlConfig(region=REGION),
                                    payloads=payloads)
        natural = spark.sparkContext.defaultParallelism  # local[4] → 4
        wide_cfg = CrawlConfig.from_params(
            {"region": REGION, "number_of_threads": str(natural * 2)})
        wide = round_plan.run_round(frontier, wide_cfg, payloads=payloads)
        assert wide.processed.rdd.getNumPartitions() == natural * 2
        # below natural parallelism: no forced narrow repartition
        small_cfg = CrawlConfig.from_params(
            {"region": REGION, "number_of_threads": "2"})
        small = round_plan.run_round(frontier, small_cfg, payloads=payloads)
        assert small.processed.rdd.getNumPartitions() \
            == base.processed.rdd.getNumPartitions()
        # results unchanged either way
        assert sorted(r.url for r in wide.stored.collect()) == \
            sorted(r.url for r in small.stored.collect()) == \
            sorted(r.url for r in base.stored.collect())

    def test_bucket_subset(self, spark, fixture):
        frontier, payloads = fixture
        cfg = CrawlConfig.from_params({"region": REGION, "buckets": "fess-0"})
        expected, result = _run_both(spark, cfg, frontier, payloads)
        assert result.stored.count() == 2
        assert all(r.bucket_name == "fess-0"
                   for r in result.stored.collect())
        assert sorted(r.url for r in result.stored.collect()) == \
            sorted(expected.stored_urls)


class TestSyntheticEquivalence:
    def test_engine_matches_oracle_with_budgets_and_dups(self, spark):
        cfg = CrawlConfig(region=REGION, default_host_budget=4,
                          salt_threshold=20, salt_buckets=4, max_size=15_000_000)
        frontier = synthetic.synth_frontier(spark, 400, n_hosts=25,
                                            n_buckets=5, seed=3)
        budgets = {f"host-{i:05d}.example.com": (i % 3) + 1
                   for i in range(25)}
        oracle = OracleCrawler(cfg, None, host_budgets=budgets)
        prepared = round_plan.prepare_frontier(frontier, cfg)
        expected = oracle.crawl_engine_order(_frontier_rows(
            prepared.select("bucket", "key", "url", "host", "size",
                            "priority", "discovery_time")))
        budgets_df = spark.createDataFrame(
            list(budgets.items()), "host string, budget_per_round int")
        result = round_plan.run_round(frontier, cfg, payloads=None,
                                      host_budgets=budgets_df)
        assert _admissions(result) == [u for _, _, u in expected.admissions]
        # seen set equality
        got_seen = {r.canonical_url for r in result.seen_delta.collect()}
        assert got_seen == expected.seen
        # status partition: metadata-only mode on both sides
        got_failed = {(r.url, r.error_name) for r in result.failed.collect()}
        assert got_failed == set(expected.failed)
        assert sorted(r.url for r in result.stored.collect()) == \
            sorted(expected.stored_urls)
