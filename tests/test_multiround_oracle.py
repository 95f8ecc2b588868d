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
    @pytest.mark.parametrize("use_bloom", [True, False])
    def test_rounds_match_oracle(self, spark, cfg, tmp_path, use_bloom):
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

        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             use_bloom=use_bloom)
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
                f"round {rnd} admission mismatch (bloom={use_bloom})"

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

    def test_bloom_and_exact_paths_identical(self, spark, cfg, tmp_path):
        frontier = synthetic.synth_frontier(spark, 200, n_hosts=8,
                                            n_buckets=4, seed=23)
        results = []
        for name, use_bloom in (("b", True), ("e", False)):
            driver = CrawlDriver(spark, str(tmp_path / name), cfg,
                                 use_bloom=use_bloom)
            driver.seed(frontier)
            driver.run(3, stop_when_empty=False)
            results.append({
                (r.url, r.round) for r in
                driver.read_committed("indexed").select("url", "round")
                .collect()})
        assert results[0] == results[1]


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


class TestPrefetchDedupCrawl:
    """VERDICT r4 ask #6: prefetch_dedup wired into CrawlDriver's fetch
    stage — duplicate-ETag fixtures must cut the GET count while the
    stored output stays byte-identical to the fetch-everything crawl."""

    def _store(self, tmp_path):
        from fess_ds_s3_spark.sources.object_store import FsObjectStore
        st = FsObjectStore(str(tmp_path / "store"))
        # 6 objects, 3 distinct contents, single host (bucket b0):
        # budget 3 → round 0 admits doc-00..02 (A, A, B → copy_batch for
        # doc-01), round 1 admits doc-03..05 (A, C, B → copy_known ×2
        # from the round-0 index, one real GET for C)
        contents = ["AAAA", "AAAA", "BBBB", "AAAA", "CCCC", "BBBB"]
        for i, c in enumerate(contents):
            st.put_object("b0", f"files/doc-{i:02d}.txt", c.encode(),
                          content_type="text/plain")
        return st

    def _frontier(self, spark, st):
        from fess_ds_s3_spark.sources.object_store import list_objects_df
        cfg = CrawlConfig(region="us-east-1")
        return (list_objects_df(spark, st.root, cfg)
                .withColumn("priority", F.lit(0))
                .withColumn("discovery_time",
                            F.to_timestamp(F.lit("2020-01-01")))
                .withColumn("round", F.lit(0)))

    def _crawl(self, spark, st, tmp_path, enabled):
        from fess_ds_s3_spark.sources.object_store import CountingFsStoreSpec
        cfg = CrawlConfig(region="us-east-1", default_host_budget=3,
                          bloom_expected=1_000, seen_partitions=2)
        log = str(tmp_path / f"gets-{enabled}.log")
        d = CrawlDriver(spark, str(tmp_path / f"wh-{enabled}"), cfg,
                        object_store_root=CountingFsStoreSpec(st.root, log),
                        use_prefetch_dedup=enabled)
        d.seed(self._frontier(spark, st))
        d.run(2, stop_when_empty=False)
        import os
        gets = (sorted(line.strip() for line in open(log))
                if os.path.exists(log) else [])
        rows = sorted(
            (r.url, r.round, r.contents, r.mimetype, r.e_tag, r.status)
            for r in d.read_committed("indexed")
            .select("url", "round", "contents", "mimetype", "e_tag",
                    "status").collect())
        return gets, rows

    def test_duplicate_etags_cut_gets_stored_output_unchanged(
            self, spark, tmp_path):
        st = self._store(tmp_path)
        gets_off, rows_off = self._crawl(spark, st, tmp_path, False)
        gets_on, rows_on = self._crawl(spark, st, tmp_path, True)
        assert len(rows_on) == 6 and rows_on == rows_off
        assert len(gets_off) == 6          # fetch-everything baseline
        # exactly one GET per distinct content, and exactly the min-URL
        # representatives: A via doc-00 (round 0), B via doc-02 (round 0),
        # C via doc-04 (round 1); doc-01 copies in-batch, doc-03/05 copy
        # from the committed index without touching the store
        assert gets_on == ["b0/files/doc-00.txt", "b0/files/doc-02.txt",
                           "b0/files/doc-04.txt"]

    def test_payload_mode_routes_without_store(self, spark, tmp_path):
        """Payloads-mode crawls route through the same prefetch seam and
        produce identical sinks with the flag on or off."""
        st = self._store(tmp_path)
        payload_rows = []
        for b in st.buckets():
            entries, _ = st.list_objects(b, max_keys=1000)
            for e in entries:
                data, ctype = st.get_object(b, e["key"])
                payload_rows.append((b, e["key"], data, ctype))
        payloads = spark.createDataFrame(
            payload_rows, "bucket string, key string, content binary, "
                          "resp_content_type string")
        cfg = CrawlConfig(region="us-east-1", default_host_budget=3,
                          bloom_expected=1_000, seen_partitions=2)
        outs = []
        for enabled in (False, True):
            d = CrawlDriver(spark, str(tmp_path / f"whp-{enabled}"), cfg,
                            use_prefetch_dedup=enabled)
            d.seed(self._frontier(spark, st))
            d.run(2, payloads=payloads, stop_when_empty=False)
            outs.append(sorted(
                (r.url, r.round, r.contents, r.mimetype)
                for r in d.read_committed("indexed")
                .select("url", "round", "contents", "mimetype").collect()))
        assert outs[0] == outs[1] and len(outs[0]) == 6


class TestFairCapDriver:
    def test_fair_cap_bounds_rounds_and_converges(self, spark, tmp_path):
        """cap_mode='fair': every round admits ≤ cap (exactly cap while
        the backlog is binding), no host starves while it has backlog
        and the budget is shared, and the crawl still converges to the
        full frontier — pagination invariance under the fair
        apportionment (operators/politeness.host_budget)."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=50,
                          max_keys=13, max_size=15_000_000,
                          bloom_expected=10_000, seen_partitions=8)
        frontier = synthetic.synth_frontier(spark, 90, n_hosts=6,
                                            n_buckets=3, seed=29)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             per_round_cap=13, cap_mode="fair")
        driver.seed(frontier)
        summaries = driver.run(12)
        n_urls = frontier.select("url").distinct().count()
        done = 0
        for s in summaries:
            assert s.admitted <= 13
            if n_urls - done >= 13:
                assert s.admitted == 13  # binding → Σ quotas = cap
            done += s.admitted
        indexed = driver.read_committed("indexed")
        failures = driver.read_committed("failures")
        assert indexed.select("url").distinct().count() + \
            failures.select("url").distinct().count() == n_urls

    def test_bad_cap_mode_fails_fast(self, spark, tmp_path):
        cfg = CrawlConfig(region="us-east-1")
        with pytest.raises(ValueError):
            CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                        cap_mode="round-robin")
