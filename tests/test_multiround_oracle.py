"""Multi-round CrawlDriver ≡ pure-Python oracle (engine mode).

The deepest correctness gate: N rounds over a skewed synthetic frontier with
per-host budgets must produce, round by round, the oracle's admission
partition (per-round URL sets), final seen set, and failure routing —
through the full driver stack (snapshot tables, bloom filter, salting,
narrow scheduling + late materialization)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources import synthetic
from tests.oracle import OracleCrawler

N_ROUNDS = 4


@pytest.fixture()
def cfg():
    return CrawlConfig(region="us-east-1", default_host_budget=3,
                       max_size=15_000_000,
                       salt_threshold=15, salt_buckets=4,
                       bloom_expected=10_000, seen_partitions=8)


class TestMultiRoundOracle:
    def test_rounds_match_oracle(self, spark, cfg, tmp_path):
        frontier = synthetic.synth_frontier(spark, 250, n_hosts=12,
                                            n_buckets=4, seed=17)
        budgets = {f"host-{i:05d}.example.com": (i % 4) + 1
                   for i in range(12)}
        budgets_df = spark.createDataFrame(
            list(budgets.items()), "host string, budget_per_round int")

        # oracle over the same prepared rows
        prepared = round_plan.prepare_frontier(frontier, cfg)
        rows = [r.asDict() for r in prepared.select(
            "bucket", "key", "url", "host", "size", "priority",
            "discovery_time").collect()]
        # payloads=None → metadata-only mode on both sides (engine stores
        # listing rows without fetch; oracle mirrors)
        oracle = OracleCrawler(cfg, None, host_budgets=budgets)
        expected = oracle.crawl_engine_order(rows, n_rounds=N_ROUNDS)
        exp_per_round: dict[int, set] = {}
        for rnd, _seq, url in expected.admissions:
            exp_per_round.setdefault(rnd, set()).add(url)

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(frontier)
        driver.run(N_ROUNDS, host_budgets=budgets_df,
                   stop_when_empty=False)

        indexed = driver.read_committed("indexed")
        failures = driver.read_committed("failures")
        # stored sets must match exactly (metadata-only on both sides)
        assert ({r.url for r in indexed.collect()}
                == set(expected.stored_urls))
        # engine admissions per round = stored ∪ failed
        for rnd in range(N_ROUNDS):
            got = ({r.url for r in
                    indexed.filter(F.col("round") == rnd).collect()}
                   | {r.url for r in
                      failures.filter(F.col("round") == rnd).collect()})
            assert got == exp_per_round.get(rnd, set()), \
                f"round {rnd} admission mismatch"

        # size-guard failure routing matches exactly
        got_failed = {(r.url, r.error_name) for r in failures.collect()}
        exp_failed = {(u, e) for u, e in expected.failed
                      if e == "MaxLengthExceededException"}
        assert got_failed == exp_failed

        got_seen = {r.canonical_url for r in driver.committed_seen().collect()}
        assert got_seen == expected.seen

    def test_per_round_cap_pages_like_pagination(self, spark, tmp_path):
        """O2: the opt-in per_round_cap bounds every round's admissions yet
        the crawl still converges to the full frontier (pagination
        invariance, AmazonS3ClientTest.java:187-201), and the per-round
        partition matches the oracle with the same global cap. (The cap is
        a driver parameter, NOT cfg.max_keys: the reference's max_keys is
        only a listing page size and its crawl loops pages to exhaustion —
        the default uncapped driver is the outcome-equivalent mode, tested
        by every other multiround case.)"""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=50,
                          max_keys=13, max_size=15_000_000,
                          bloom_expected=10_000, seen_partitions=8)
        frontier = synthetic.synth_frontier(spark, 90, n_hosts=6,
                                            n_buckets=3, seed=29)
        prepared = round_plan.prepare_frontier(frontier, cfg)
        rows = [r.asDict() for r in prepared.select(
            "bucket", "key", "url", "host", "size", "priority",
            "discovery_time").collect()]
        oracle = OracleCrawler(cfg, None)
        expected = oracle.crawl_engine_order(rows, n_rounds=12,
                                             global_cap=13)
        exp_per_round: dict[int, set] = {}
        for rnd, _seq, url in expected.admissions:
            exp_per_round.setdefault(rnd, set()).add(url)

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             per_round_cap=13)
        driver.seed(frontier)
        summaries = driver.run(12)
        for s in summaries:
            assert s.admitted <= 13
        indexed = driver.read_committed("indexed")
        failures = driver.read_committed("failures")
        for rnd in range(len(summaries)):
            got = ({r.url for r in
                    indexed.filter(F.col("round") == rnd).collect()}
                   | {r.url for r in
                      failures.filter(F.col("round") == rnd).collect()})
            assert got == exp_per_round.get(rnd, set()), f"round {rnd}"
        # pagination invariance: the whole frontier is eventually crawled
        assert indexed.select("url").distinct().count() + \
            failures.select("url").distinct().count() == \
            frontier.select("url").distinct().count()

    def test_multiround_with_payloads_matches_oracle(self, spark, tmp_path):
        """Full driver rounds in FETCHED mode: payload join, fetch-miss E2,
        MIME E1 before size E2 (reference order), extraction — per-round
        stored/discarded/failed partitions must match the oracle."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=4,
                          max_size=12_000_000,
                          supported_mimetypes=("text/plain",),
                          bloom_expected=10_000, seen_partitions=8)
        frontier = synthetic.synth_frontier(spark, 120, n_hosts=6,
                                            n_buckets=3, seed=43)
        # payloads for 2/3 of keys: alternate supported/unsupported MIME
        rows = frontier.select("bucket", "key").distinct().collect()
        payload_rows = [
            (r.bucket, r.key, bytearray(f"body of {r.key}", "utf-8"),
             "text/plain" if i % 2 == 0 else "application/octet-stream")
            for i, r in enumerate(sorted(rows, key=lambda x: (x.bucket,
                                                              x.key)))
            if i % 3 != 0]
        payloads_df = spark.createDataFrame(
            payload_rows,
            "bucket string, key string, content binary, "
            "resp_content_type string")
        payload_map = {(b, k): {"content": bytes(c),
                                "resp_content_type": m}
                       for b, k, c, m in payload_rows}

        prepared = round_plan.prepare_frontier(frontier, cfg)
        oracle_rows = [r.asDict() for r in prepared.select(
            "bucket", "key", "url", "host", "size", "priority",
            "discovery_time").collect()]
        oracle = OracleCrawler(cfg, payload_map)
        expected = oracle.crawl_engine_order(oracle_rows, n_rounds=6)

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(frontier)
        driver.run(6, payloads=payloads_df, stop_when_empty=False)

        indexed = driver.read_committed("indexed")
        failures = driver.read_committed("failures")
        assert {r.url for r in indexed.collect()} == set(expected.stored_urls)
        assert {(r.url, r.error_name) for r in failures.collect()} == \
            set(expected.failed)
        # discards: mimetype-rejected rows (E1) — one stats row per doc
        stats = driver.read_committed("stats")
        assert (stats.filter(F.col("action") == "discard").count()
                == len(expected.discarded))


class TestRobotsMultiRoundOracle:
    def test_respect_robots_rounds_match_oracle(self, spark, tmp_path):
        """Full driver rounds with respect_robots=true ≡ the pure-Python
        oracle given the same robots bodies: per-round admission partition,
        robots E1 discards, Crawl-delay-tightened budgets, stored/failed
        routing, final seen set."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=4,
                          max_size=15_000_000, respect_robots=True,
                          bloom_expected=10_000, seen_partitions=8)
        frontier = synthetic.synth_frontier(spark, 150, n_hosts=6,
                                            n_buckets=3, seed=41)
        # even hosts: disallow one shard + crawl-delay 30s (→ budget 2);
        # odd hosts: allow-all, no delay (→ default budget 4)
        hosts = sorted(r.host for r in
                       frontier.select("host").distinct().collect())
        bodies = {}
        for h in hosts:
            idx = int(h.split("-")[1].split(".")[0])
            bodies[h] = ("User-agent: *\nDisallow: /data/0\nCrawl-delay: 30\n"
                         if idx % 2 == 0 else "User-agent: *\nDisallow:\n")

        prepared = round_plan.prepare_frontier(frontier, cfg)
        rows = [r.asDict() for r in prepared.select(
            "bucket", "key", "url", "host", "size", "priority",
            "discovery_time").collect()]
        oracle = OracleCrawler(cfg, None, robots_bodies=bodies)
        expected = oracle.crawl_engine_order(rows, n_rounds=8)
        exp_per_round: dict[int, set] = {}
        for rnd, _seq, url in expected.admissions:
            exp_per_round.setdefault(rnd, set()).add(url)

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(frontier)
        bodies_df = spark.createDataFrame(list(bodies.items()),
                                          "host string, body string")
        driver.install_robots(bodies_df)
        summaries = driver.run(8)

        seen_rounds = {(r.canonical_url, r.round)
                       for r in driver.committed_seen().collect()}
        got_per_round: dict[int, set] = {}
        for url, rnd in seen_rounds:
            got_per_round.setdefault(rnd, set()).add(url)
        for rnd in exp_per_round:
            assert got_per_round.get(rnd, set()) == exp_per_round[rnd], \
                f"round {rnd}"

        got_stored = {r.url for r in
                      driver.read_committed("indexed").collect()}
        assert got_stored == set(expected.stored_urls)
        exp_discarded = {u for u, reason in expected.discarded
                         if reason == "robots"}
        assert exp_discarded, "fixture must exercise robots discards"
        assert sum(s.discarded for s in summaries) == len(expected.discarded)
        assert {r.canonical_url for r in driver.committed_seen().collect()} \
            == expected.seen
