"""robots.txt parsing, longest-match semantics, filter routing, budgets."""

from __future__ import annotations

import urllib.robotparser

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import robots
from fess_ds_s3_spark.operators.filters import with_status_columns
from tests.oracle import crawl_delay_of

ROBOTS_A = """
# comments are ignored
User-agent: *
Disallow: /private/
Allow: /private/public/
Crawl-delay: 2

User-agent: fess-ds-s3-spark
Disallow: /internal/
"""

ROBOTS_B = """
User-agent: *
Disallow:
"""


class TestParser:
    def test_rules_shape(self):
        rules = robots.parse_robots_txt(ROBOTS_A)
        kinds = {(r["agent"], r["rule_kind"], r["path_prefix"])
                 for r in rules if r["rule_kind"] != "delay"}
        assert ("*", "disallow", "/private/") in kinds
        assert ("*", "allow", "/private/public/") in kinds
        assert ("fess-ds-s3-spark", "disallow", "/internal/") in kinds
        assert crawl_delay_of(rules, "other-bot") == 2.0

    def test_empty_disallow_allows_all(self):
        rules = robots.parse_robots_txt(ROBOTS_B)
        assert robots.robots_allowed(rules, "any", "/anything")

    @pytest.mark.parametrize("path,agent,expected", [
        ("/private/x", "other-bot", False),
        # RFC 9309 longest match: Allow /private/public/ overrides the
        # shorter Disallow /private/ (stdlib robotparser would disagree —
        # it uses legacy first-match order)
        ("/private/public/x", "other-bot", True),
        ("/open/x", "other-bot", True),
        ("/internal/x", "fess-ds-s3-spark", False),
        # agent-specific group exists → '*' group ignored for this agent
        ("/private/x", "fess-ds-s3-spark", True),
    ])
    def test_rfc9309_longest_match(self, path, agent, expected):
        assert robots.robots_allowed(
            robots.parse_robots_txt(ROBOTS_A), agent, path) is expected

    @pytest.mark.parametrize("path,expected", [
        ("/doc/file.pdf", False),      # /*.pdf$ wildcard + anchor
        ("/doc/file.pdfx", True),      # $ anchors: trailing chars escape
        ("/tmp123/x", False),          # /tmp*/ mid-pattern wildcard
        ("/tmp-keep/x", True),         # longer Allow beats /tmp*/
        ("/a%20b/doc", False),         # encoded path vs encoded rule
        ("/a b/doc", False),           # decoded path vs encoded rule
        ("/open/x", True),
    ])
    def test_rfc9309_wildcards_and_encoding(self, path, expected):
        body = ("User-agent: *\n"
                "Disallow: /*.pdf$\n"
                "Disallow: /tmp*/\n"
                "Disallow: /a%20b/\n"
                "Allow: /tmp-keep/\n")
        rules = robots.parse_robots_txt(body)
        assert robots.robots_allowed(rules, "any", path) is expected

    def test_plain_disallow_matches_robotparser(self):
        # where no Allow/Disallow conflict exists, stdlib agrees
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(ROBOTS_A.splitlines())
        for path, expected in [("/private/x", False), ("/open/x", True)]:
            assert rp.can_fetch("other-bot", f"https://h{path}") is expected
            assert robots.robots_allowed(
                robots.parse_robots_txt(ROBOTS_A), "other-bot",
                path) is expected


class TestDataFrameOps:
    @pytest.fixture()
    def rules_df(self, spark):
        bodies = spark.createDataFrame(
            [("a.com", ROBOTS_A), ("b.com", ROBOTS_B)],
            "host string, body string")
        return robots.robots_rules_table(bodies)

    def test_rules_table(self, spark, rules_df):
        rows = rules_df.collect()
        assert {r.host for r in rows} == {"a.com", "b.com"}
        assert any(r.rule_kind == "delay" and r.crawl_delay == 2.0
                   for r in rows)

    def test_filter_routing(self, spark, rules_df):
        cfg = CrawlConfig(region="r")  # agent fess-ds-s3-spark
        frontier = spark.createDataFrame(
            [("a.com", "https://a.com/internal/doc"),
             ("a.com", "https://a.com/private/doc"),
             ("b.com", "https://b.com/whatever"),
             ("c.com", "https://c.com/no-robots")],
            "host string, url string")
        out = robots.apply_robots_filter(
            with_status_columns(frontier), rules_df, cfg)
        got = {r.url: (r.status, r.discard_reason) for r in out.collect()}
        assert got["https://a.com/internal/doc"] == ("discarded", "robots")
        # agent-specific group: '*' Disallow /private/ does not apply
        assert got["https://a.com/private/doc"][0] == "pending"
        assert got["https://b.com/whatever"][0] == "pending"
        assert got["https://c.com/no-robots"][0] == "pending"

    def test_crawl_delay_budgets(self, spark, rules_df):
        cfg = CrawlConfig(region="r")
        budgets = robots.crawl_delay_budgets(rules_df, cfg,
                                             round_seconds=60.0)
        rows = {r.host: r for r in budgets.collect()}
        assert rows["a.com"].budget_per_round == 30
        assert rows["a.com"].crawl_delay_ms == 2000


class TestRoundIntegration:
    """F6 wired into the actual crawl pipeline (round-2 verdict item #1):
    respect_robots must route E1 discards inside process() and tighten the
    politeness budgets via Crawl-delay — a live knob end to end."""

    @pytest.fixture()
    def rules_df(self, spark):
        bodies = spark.createDataFrame(
            [("a.com", ROBOTS_A), ("b.com", ROBOTS_B)],
            "host string, body string")
        return robots.robots_rules_table(bodies)

    def test_process_routes_robots_discards(self, spark, rules_df):
        from fess_ds_s3_spark.plans import round as round_plan
        cfg = CrawlConfig(region="r")
        frontier = spark.createDataFrame(
            [("b0", "internal/doc", "a.com", "https://a.com/internal/doc",
              10, 0),
             ("b0", "public/doc", "a.com", "https://a.com/public/doc",
              10, 0),
             ("b0", "whatever", "c.com", "https://c.com/whatever", 10, 0)],
            "bucket string, key string, host string, url string, "
            "size long, priority int") \
            .withColumn("discovery_time", F.to_timestamp(F.lit("2020-01-01")))
        result = round_plan.run_round(frontier, cfg, robots_rules=rules_df)
        got = {r.url: (r.status, r.discard_reason)
               for r in result.processed.select(
                   "url", "status", "discard_reason").collect()}
        assert got["https://a.com/internal/doc"] == ("discarded", "robots")
        assert got["https://a.com/public/doc"][0] == "stored"
        assert got["https://c.com/whatever"][0] == "stored"
        assert result.discarded.count() == 1

    def test_driver_respect_robots_live(self, spark, tmp_path):
        """CrawlDriver with respect_robots=true: robots discards land in
        the committed stats, Crawl-delay caps per-host admissions, and the
        disallowed URLs are burned into the seen set (E1 semantics: a
        discard is still consumed, AmazonS3DataStore.java:203-210)."""
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        from fess_ds_s3_spark.sources import synthetic
        cfg = CrawlConfig(region="us-east-1", respect_robots=True,
                          default_host_budget=100,
                          bloom_expected=10_000, seen_partitions=4)
        frontier = synthetic.synth_frontier(spark, 80, n_hosts=4, seed=11)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(frontier)
        slow_host = "host-00000.example.com"
        bodies = (frontier.select("host").distinct()
                  .withColumn("body", F.when(
                      F.col("host") == slow_host,
                      F.lit("User-agent: *\nDisallow: /data/0\n"
                            "Crawl-delay: 30\n"))
                      .otherwise(F.lit("User-agent: *\nDisallow: /data/1\n"))))
        driver.install_robots(bodies)
        summary = driver.run_round(0)
        # Crawl-delay 30s at 60s rounds → budget 2 for the slow host only
        seen_hosts = (driver.committed_seen()
                      .select(F.lower(F.parse_url(
                          "canonical_url", F.lit("HOST"))).alias("h"))
                      .groupBy("h").count().collect())
        per_host = {r.h: r["count"] for r in seen_hosts}
        assert per_host[slow_host] <= 2
        assert any(n > 2 for h, n in per_host.items() if h != slow_host)
        # robots discards exist and are E1 (seen, not retried): stats says
        # discard, and a second round admits none of them again
        assert summary.discarded > 0
        driver.run_round(1)
        # no URL admitted twice across rounds
        dup = (driver.committed_seen().groupBy("canonical_url").count()
               .filter(F.col("count") > 1).count())
        assert dup == 0

    def test_driver_fail_fast_without_bodies(self, spark, tmp_path):
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        from fess_ds_s3_spark.sources import synthetic
        import pytest as _pytest
        cfg = CrawlConfig(region="us-east-1", respect_robots=True,
                          bloom_expected=1000, seen_partitions=4)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 10, n_hosts=2, seed=1))
        with _pytest.raises(ValueError, match="install_robots"):
            driver.run_round(0)

    def test_merge_host_budgets_least_of(self, spark):
        from fess_ds_s3_spark.operators.robots import merge_host_budgets
        a = spark.createDataFrame([("x", 5), ("y", 2)],
                                  "host string, budget_per_round int")
        b = spark.createDataFrame([("x", 3), ("z", 7)],
                                  "host string, budget_per_round int")
        got = {r.host: r.budget_per_round
               for r in merge_host_budgets(a, b).collect()}
        assert got == {"x": 3, "y": 2, "z": 7}
        assert merge_host_budgets(None, a) is a
        assert merge_host_budgets(a, None) is a


class TestBroadcastSizeGate:
    def test_shuffle_join_path_identical_routing(self, spark):
        """Past ROBOTS_BROADCAST_MAX_BYTES the rules join falls back to a
        plain shuffle join; routing must be identical to the broadcast
        path, and the gated plan must not contain a broadcast exchange of
        the rules dim."""
        cfg = CrawlConfig(region="r")
        bodies = spark.createDataFrame(
            [(f"h{i}.com",
              "User-agent: *\nDisallow: /deny/\nAllow: /deny/ok\n")
             for i in range(20)],
            "host string, body string")
        rules = robots.robots_rules_table(bodies)
        frontier = spark.createDataFrame(
            [(f"h{i % 20}.com",
              f"https://h{i % 20}.com/" + ("deny/x" if i % 3 == 0 else
                                           "deny/ok" if i % 3 == 1 else
                                           "fine"))
             for i in range(120)],
            "host string, url string")
        f = with_status_columns(frontier)
        via_broadcast = robots.apply_robots_filter(f, rules, cfg)
        via_shuffle = robots.apply_robots_filter(
            f, rules, cfg, rules_bytes=robots.ROBOTS_BROADCAST_MAX_BYTES + 1)
        cols = ["url", "status", "discard_reason"]
        assert sorted(map(tuple, via_broadcast.select(*cols).collect())) == \
            sorted(map(tuple, via_shuffle.select(*cols).collect()))
        plan_b = via_broadcast._jdf.queryExecution().executedPlan().toString()
        plan_s = via_shuffle._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_b
        assert "BroadcastHashJoin" not in plan_s

    def test_driver_metadata_carries_body_bytes(self, spark, tmp_path):
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        cfg = CrawlConfig(region="r", respect_robots=True,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        bodies = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /x\n")],
            "host string, body string")
        driver.install_robots(bodies)
        meta = driver.robots.metadata()
        assert meta["n_hosts"] == 1
        assert meta["body_bytes"] == len("User-agent: *\nDisallow: /x\n")
        rules, rules_bytes = driver._robots_rules()
        assert rules_bytes == meta["body_bytes"]
