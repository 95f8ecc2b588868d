"""Multi-round crawl: loop, seen-set growth, link extraction, resume
bit-equivalence (the engine analog of keyset-pagination restartability,
AmazonS3Client.java:144-146 / AmazonS3ClientTest.java:187-201)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources import synthetic


@pytest.fixture()
def cfg():
    return CrawlConfig(region="us-east-1", default_host_budget=10,
                       bloom_expected=10_000, seen_partitions=8)


def _admission_set(driver):
    return {r.canonical_url for r in driver.committed_seen().collect()}


def _linking_docs(frontier):
    """Docs whose one media span links each URL to a page on another host."""
    return (frontier.select("url")
            .withColumn("doc_id", F.col("url"))
            .withColumn("spans", F.array(F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("https://l.example.com/"),
                         F.md5("url")).alias("media_ref"),
                F.lit(0).alias("offset")))))


class TestMultiRound:
    def test_rounds_consume_frontier_exactly_once(self, spark, cfg, tmp_path):
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        frontier = synthetic.synth_frontier(spark, 200, n_hosts=10, seed=5)
        driver.seed(frontier)
        summaries = driver.run(n_rounds=50)
        # every distinct canonical URL admitted exactly once across rounds
        total_admitted = sum(s.admitted for s in summaries)
        distinct_urls = (frontier
                         .select(F.col("url")).distinct().count())
        assert total_admitted == distinct_urls
        assert summaries[-1].admitted == 0  # terminated by empty round
        # per-round budget respected
        for s in summaries[:-1]:
            assert s.admitted <= 10 * 10  # hosts × budget

    def test_round_isolation_and_ledger(self, spark, cfg, tmp_path):
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 60, n_hosts=4, seed=9))
        driver.run(n_rounds=3, stop_when_empty=False)
        rounds = {r.round for r in driver.rounds.read().collect()}
        assert rounds == {0, 1, 2}
        indexed = driver.read_committed("indexed")
        assert indexed.count() > 0
        assert set(indexed.select("round").distinct().toPandas()["round"]) \
            <= {0, 1, 2}

    def test_link_extraction_feeds_frontier(self, spark, cfg, tmp_path):
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        frontier = synthetic.synth_frontier(spark, 30, n_hosts=3, seed=2)
        docs = (frontier.select("url")
                .withColumn("doc_id", F.col("url"))
                .withColumn("spans", F.array(
                    F.struct(F.lit("text").alias("kind"),
                             F.lit("hello").alias("text"),
                             F.lit(None).cast("string").alias("media_ref"),
                             F.lit(0).alias("offset")),
                    F.struct(F.lit("media").alias("kind"),
                             F.lit(None).cast("string").alias("text"),
                             F.concat(F.lit("https://linked.example.com/m/"),
                                      F.md5("url")).alias("media_ref"),
                             F.lit(1).alias("offset")))))
        driver.seed(frontier)
        s0 = driver.run_round(0, docs=docs)
        assert s0.new_links > 0
        s1 = driver.run_round(1, docs=docs)
        # round 1 admits the linked host's URLs (budget-capped)
        linked = (driver.read_committed("indexed")
                  .filter(F.col("round") == 1)
                  .filter(F.col("url").startswith(
                      "https://linked.example.com/")))
        assert linked.count() == min(s1.admitted, cfg.default_host_budget)


class TestResume:
    def test_resume_equals_uninterrupted(self, spark, cfg, tmp_path):
        """Run 4 rounds straight vs 2 + new-driver + 2: committed state must
        be identical (resume bit-equivalence, SURVEY.md §7 hard part 6)."""
        frontier = synthetic.synth_frontier(spark, 150, n_hosts=8, seed=13)

        d_straight = CrawlDriver(spark, str(tmp_path / "a"), cfg)
        d_straight.seed(frontier)
        d_straight.run(n_rounds=4, stop_when_empty=False)

        d_part1 = CrawlDriver(spark, str(tmp_path / "b"), cfg)
        d_part1.seed(frontier)
        d_part1.run(n_rounds=2, stop_when_empty=False)
        # simulate process death: fresh driver over the same warehouse
        d_part2 = CrawlDriver(spark, str(tmp_path / "b"), cfg)
        assert d_part2.last_round() == 1
        d_part2.run(n_rounds=2, stop_when_empty=False)

        assert _admission_set(d_straight) == _admission_set(d_part2)
        a = {(r.url, r.round) for r in
             d_straight.read_committed("indexed").select("url", "round")
             .collect()}
        b = {(r.url, r.round) for r in
             d_part2.read_committed("indexed").select("url", "round")
             .collect()}
        assert a == b

    def test_crash_before_ledger_commit_is_invisible(self, spark, cfg,
                                                     tmp_path):
        """Orphan sink rows from an uncommitted round never surface."""
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 50, n_hosts=4, seed=3))
        driver.run_round(0)
        # simulate a crash mid-round-1: sink rows written, ledger not
        fake = driver.indexed.read().limit(5).withColumn("round", F.lit(1))
        driver.indexed.append(fake, {"round": 1})
        resumed = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        assert resumed.last_round() == 0
        visible = resumed.read_committed("indexed")
        assert visible.filter(F.col("round") > 0).count() == 0

    def test_crash_replay_does_not_duplicate(self, spark, cfg, tmp_path,
                                             monkeypatch):
        """The full crash-replay cycle: a round whose sink appends landed
        but whose ledger commit did not must, after replay, be visible
        EXACTLY ONCE — the orphan appends stay invisible forever because
        committed reads union only the ledgered snapshot deltas."""
        frontier = synthetic.synth_frontier(spark, 60, n_hosts=4, seed=3)

        ctrl = CrawlDriver(spark, str(tmp_path / "ctrl"), cfg)
        ctrl.seed(frontier)
        ctrl.run(2, stop_when_empty=False)

        crash = CrawlDriver(spark, str(tmp_path / "crash"), cfg)
        crash.seed(frontier)
        crash.run_round(0)
        monkeypatch.setattr(
            crash.rounds, "append",
            lambda df, meta=None: (_ for _ in ()).throw(
                RuntimeError("simulated crash before ledger commit")))
        with pytest.raises(RuntimeError):
            crash.run_round(1)  # sinks + seen appended, ledger NOT

        resumed = CrawlDriver(spark, str(tmp_path / "crash"), cfg)
        assert resumed.last_round() == 0
        resumed.run_round(1)  # replay

        got = [(r.url, r.round) for r in
               resumed.read_committed("indexed").select("url", "round")
               .collect()]
        assert len(got) == len(set(got)), "orphan rows surfaced after replay"
        want = {(r.url, r.round) for r in
                ctrl.read_committed("indexed").select("url", "round")
                .collect()}
        assert set(got) == want
        seen = [r.canonical_url for r in resumed.committed_seen().collect()]
        assert len(seen) == len(set(seen))
        assert set(seen) == {r.canonical_url
                             for r in ctrl.committed_seen().collect()}


class TestLedgerCompat:
    def test_read_committed_legacy_ledger_fallback(self, spark, cfg,
                                                   tmp_path):
        """A rounds ledger written before the per-sink snapshot columns
        (≤ 0.1.x) must still expose its committed rows: read_committed
        falls back to the old round-filter read instead of returning
        nothing (ADVICE r2)."""
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 60, n_hosts=4, seed=9))
        driver.run(2)
        expected_idx = sorted(
            (r.url, r.round) for r in
            driver.read_committed("indexed").select("url", "round").collect())
        expected_seen = sorted(
            r.canonical_url for r in driver.committed_seen().collect())
        assert expected_idx and expected_seen

        # simulate the legacy ledger: drop every per-sink snapshot column
        legacy = driver.rounds.read().drop(
            "indexed_snapshot", "failures_snapshot", "stats_snapshot",
            "lineage_snapshot", "seen_snapshot")
        driver.rounds.overwrite(legacy, {"kind": "legacy-sim"})

        reopened = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        got_idx = sorted(
            (r.url, r.round) for r in
            reopened.read_committed("indexed")
            .select("url", "round").collect())
        got_seen = sorted(
            r.canonical_url for r in reopened.committed_seen().collect())
        assert got_idx == expected_idx
        assert got_seen == expected_seen


class TestLinkPriority:
    def _docs_linking(self, spark, target_url):
        return spark.createDataFrame(
            [("d",)], "url string").crossJoin(
            spark.createDataFrame([(target_url,)], "ref string")).select(
            F.col("url"), F.col("url").alias("doc_id"),
            F.array(F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.col("ref").alias("media_ref"),
                F.lit(0).alias("offset"))).alias("spans")).drop("ref")

    def test_candidates_get_parent_priority_plus_one(self, spark, cfg,
                                                     tmp_path):
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        frontier = (synthetic.synth_frontier(spark, 10, n_hosts=2, seed=4)
                    .withColumn("priority", F.lit(3)))
        stored_url = frontier.select("url").first()[0]
        docs = self._docs_linking(
            spark, "https://linked.example.com/x.bin").withColumn(
            "url", F.lit(stored_url)).withColumn("doc_id", F.lit(stored_url))
        driver.seed(frontier)
        driver.run_round(0, docs=docs)
        cand = (driver.frontier.read()
                .filter(F.col("bucket") == "_links").collect())
        assert cand and all(r.priority == 4 for r in cand)

    def test_links_schedule_after_same_host_seeds(self, spark, cfg,
                                                  tmp_path):
        """A discovered link on a busy host waits behind that host's
        remaining seeds (priority = parent + 1 > seed priority)."""
        host = "onehost.example.com"
        rows = [("b0", f"k{i}", f"https://{host}/k{i}", host, 10,
                 f"e{i}", synthetic.FIXTURE_EPOCH, None, None, "STANDARD",
                 0, synthetic.FIXTURE_EPOCH, 0) for i in range(2)]
        frontier = spark.createDataFrame(rows, synthetic.FRONTIER_SCHEMA)
        cfg2 = CrawlConfig(region="us-east-1", default_host_budget=1,
                           bloom_expected=1000, seen_partitions=4)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg2)
        driver.seed(frontier)
        link_url = f"https://{host}/a-key-sorting-first"
        docs = self._docs_linking(spark, link_url).withColumn(
            "url", F.lit(f"https://{host}/k0")).withColumn(
            "doc_id", F.lit(f"https://{host}/k0"))
        driver.run(3, docs=docs)
        admitted_round = {
            r.canonical_url: r.round
            for r in driver.committed_seen().collect()}
        # budget 1/round: k0 (round 0), k1 (round 1), then the link —
        # despite its key sorting first, its priority 1 ranks after the
        # seeds' priority 0
        assert admitted_round[f"https://{host}/k0"] == 0
        assert admitted_round[f"https://{host}/k1"] == 1
        assert admitted_round[link_url] == 2


class TestDriverActionDiet:
    def test_run_round_issues_no_auxiliary_counts(self, spark, cfg,
                                                  tmp_path, monkeypatch):
        """run_round must not run count()/first() driver jobs beyond the
        sink writes (r2 ran blooms.first()+count() and candidates.count()
        every round — fixed driver latency × n_rounds). Ledger metadata
        collects are exempt (tiny, unavoidable); count/first are the
        recompute-shaped actions this guards against."""
        from pyspark.sql import DataFrame
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        frontier = synthetic.synth_frontier(spark, 40, n_hosts=3, seed=6)
        docs = _linking_docs(frontier)
        driver.seed(frontier)
        driver.run_round(0, docs=docs)  # warm: bloom table now exists

        calls: list[str] = []
        orig_count, orig_first = DataFrame.count, DataFrame.first

        def _count(self):
            calls.append("count")
            return orig_count(self)

        def _first(self):
            calls.append("first")
            return orig_first(self)

        monkeypatch.setattr(DataFrame, "count", _count)
        monkeypatch.setattr(DataFrame, "first", _first)
        summary = driver.run_round(1, docs=docs)
        assert calls == []
        assert summary.admitted > 0


class TestStageThenCommit:
    TABLES = ("frontier", "seen", "seen_bloom", "indexed", "failures",
              "stats", "lineage", "link_edges", "rounds")

    def test_commits_run_in_order_on_the_calling_thread(self, spark, cfg,
                                                        tmp_path,
                                                        monkeypatch):
        import threading
        from fess_ds_s3_spark.sources.snapshots import SnapshotTable
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             use_authority=True)
        frontier = synthetic.synth_frontier(spark, 40, n_hosts=3, seed=6)
        driver.seed(frontier)
        driver.run_round(0, docs=_linking_docs(frontier))  # bloom exists
        calls: list[tuple[str, str, int]] = []
        stage_threads: set[int] = set()

        def record(kind, orig):
            def wrapper(self, *a, **kw):
                calls.append((kind, self.name, threading.get_ident()))
                return orig(self, *a, **kw)
            return wrapper

        def record_stage(orig):
            def wrapper(self, *a, **kw):
                stage_threads.add(threading.get_ident())
                return orig(self, *a, **kw)
            return wrapper

        for kind in ("append", "overwrite"):
            monkeypatch.setattr(SnapshotTable, kind,
                                record(kind, getattr(SnapshotTable, kind)))
        monkeypatch.setattr(SnapshotTable, "stage",
                            record_stage(SnapshotTable.stage))
        summary = driver.run_round(1, docs=_linking_docs(frontier))
        assert summary.new_links > 0
        assert [(k, n) for k, n, _ in calls] == [
            ("append", "indexed"), ("append", "failures"),
            ("append", "stats"), ("append", "lineage"), ("append", "seen"),
            ("overwrite", "seen_bloom"), ("append", "frontier"),
            ("append", "link_edges"), ("append", "rounds")]
        main = threading.get_ident()
        assert {t for _, _, t in calls} == {main}
        assert stage_threads - {main}  # the other sinks staged in the pool

    def test_failed_stage_commits_nothing_and_resume_matches(
            self, spark, cfg, tmp_path, monkeypatch):
        frontier = synthetic.synth_frontier(spark, 60, n_hosts=4, seed=3)
        docs = _linking_docs(frontier)
        twin = CrawlDriver(spark, str(tmp_path / "twin"), cfg,
                           use_authority=True)
        twin.seed(frontier)
        twin.run(3, docs=docs, stop_when_empty=False)

        crash = CrawlDriver(spark, str(tmp_path / "crash"), cfg,
                            use_authority=True)
        crash.seed(frontier)
        crash.run_round(0, docs=docs)
        before = {n: crash.catalog.table(n).current_snapshot_id()
                  for n in self.TABLES}

        def boom(df):
            raise RuntimeError("simulated failure while staging seen")
        monkeypatch.setattr(crash.seen, "stage", boom)
        with pytest.raises(RuntimeError, match="staging seen"):
            crash.run_round(1, docs=docs)
        assert {n: crash.catalog.table(n).current_snapshot_id()
                for n in self.TABLES} == before

        resumed = CrawlDriver(spark, str(tmp_path / "crash"), cfg,
                              use_authority=True)
        assert resumed.last_round() == 0
        resumed.run(2, docs=docs, stop_when_empty=False)

        def state(d):
            ledger = sorted(tuple(r) for r in d.rounds.read().select(
                "round", "admitted", "stored", "discarded",
                "failed").collect())
            return (ledger, _admission_set(d),
                    sorted(tuple(r) for r in d.read_committed("indexed")
                           .select("url", "round").collect()),
                    sorted(tuple(r) for r in d.read_committed("failures")
                           .select("url", "round").collect()),
                    sorted(tuple(r) for r in
                           d.link_edges.read().distinct().collect()))
        assert state(resumed) == state(twin)


class TestStatsTaxonomy:
    def test_exception_vs_access_exception(self, spark):
        """The reference's two catch arms (AmazonS3DataStore.java:279-287):
        crawling-access failures (NoSuchKey, MaxLength) record
        ACCESS_EXCEPTION; generic throwables (ExtractException escalated by
        ignore_error=false) record EXCEPTION."""
        from fess_ds_s3_spark.plans.lineage import stats_events
        rows = spark.createDataFrame(
            [("b", "k1", "stored", None),
             ("b", "k2", "discarded", None),
             ("b", "k3", "failed", "NoSuchKeyException"),
             ("b", "k4", "failed", "MaxLengthExceededException"),
             ("b", "k5", "failed", "ExtractException")],
            "bucket_name string, key string, status string, "
            "error_name string")
        got = {r.stats_key: r.action
               for r in stats_events(rows, round_id=7).collect()}
        assert got == {"b@k1": "FINISHED", "b@k2": "discard",
                       "b@k3": "ACCESS_EXCEPTION",
                       "b@k4": "ACCESS_EXCEPTION", "b@k5": "EXCEPTION"}


class TestSeenCheckpoint:
    def _frontier(self, spark, n):
        from pyspark.sql import functions as F
        return (spark.range(n)
                .select(F.lit("b").alias("bucket"),
                        F.format_string("k/%03d", F.col("id")).alias("key"),
                        F.lit(20).cast("long").alias("size"),
                        (F.col("id") % 3).cast("int").alias("priority"),
                        F.to_timestamp(F.lit("2020-01-01"))
                        .alias("discovery_time")))

    def test_checkpointed_crawl_equals_uncompacted_twin(self, spark,
                                                        tmp_path):
        """compact_seen between rounds must not change later admissions;
        the checkpointed read folds ledgered deltas only."""
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        cfg = CrawlConfig(region="r", default_host_budget=5,
                          bloom_expected=1000, seen_partitions=2)

        def stats_of(d):
            return sorted((r.stats_key, r.action, r.round) for r in
                          d.read_committed("stats").collect())

        d1 = CrawlDriver(spark, str(tmp_path / "w1"), cfg)
        d1.seed(self._frontier(spark, 30))
        d1.run(2)
        d1.compact_seen()
        assert d1.seen_checkpoint.metadata()["through_round"] == 1
        d1.run(2)

        d2 = CrawlDriver(spark, str(tmp_path / "w2"), cfg)
        d2.seed(self._frontier(spark, 30))
        d2.run(4)
        assert stats_of(d1) == stats_of(d2)
        # the checkpointed read matches the ledger-only read exactly
        seen1 = sorted(r.canonical_url
                       for r in d1.committed_seen().collect())
        seen2 = sorted(r.canonical_url
                       for r in d2.committed_seen().collect())
        assert seen1 == seen2

    def test_orphans_stay_invisible_through_checkpoint(self, spark,
                                                       tmp_path):
        """An orphan seen append (crashed round: append committed but no
        ledger row) must not leak into a checkpoint — compact_seen folds
        ledger-committed rows only."""
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        cfg = CrawlConfig(region="r", default_host_budget=5,
                          bloom_expected=1000, seen_partitions=2)
        d = CrawlDriver(spark, str(tmp_path / "w"), cfg)
        d.seed(self._frontier(spark, 10))
        d.run(1)
        # simulate a crash AFTER the seen append, BEFORE the ledger commit
        orphan = spark.createDataFrame(
            [("https://orphan.example/x", 1, 1)],
            "canonical_url string, url_hash long, round int")
        d.seen.append(orphan, {"round": 99})
        d.compact_seen()
        seen = {r.canonical_url for r in d.committed_seen().collect()}
        assert "https://orphan.example/x" not in seen
        assert len(seen) == 5  # budget 5, round 0


class TestVacuum:
    def _count_dirs(self, driver, name):
        import os
        data = os.path.join(driver.catalog.table(name).root, "data")
        if not os.path.isdir(data):
            return 0
        return sum(os.path.isdir(os.path.join(data, d))
                   for d in os.listdir(data))

    def test_vacuum_preserves_committed_reads_and_resume(self, spark, cfg,
                                                         tmp_path):
        """compact + vacuum between rounds must not change any committed
        read, and the crawl must keep running afterwards."""
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 120, n_hosts=6, seed=3))
        driver.run(n_rounds=3, stop_when_empty=False)

        seen_before = _admission_set(driver)
        indexed_before = {(r.url, r.round) for r in
                          driver.read_committed("indexed")
                          .select("url", "round").collect()}
        frontier_before = {(r.url, r.round) for r in
                           driver.read_committed("frontier")
                           .select("url", "round").collect()}
        bloom_dirs_before = self._count_dirs(driver, "seen_bloom")

        driver.compact_frontier()
        driver.compact_seen()
        stats = driver.vacuum(keep_last=1)
        # something was actually reclaimed: the per-round bloom overwrites
        assert stats["seen_bloom"]["deleted_dirs"] > 0
        assert self._count_dirs(driver, "seen_bloom") < bloom_dirs_before
        # seen deltas folded into the checkpoint were reclaimed
        assert stats["seen"]["expired"] > 0

        assert _admission_set(driver) == seen_before
        indexed_after = {(r.url, r.round) for r in
                         driver.read_committed("indexed")
                         .select("url", "round").collect()}
        assert indexed_after == indexed_before
        # ADVICE r4: vacuum used to expire ledgered frontier snapshots,
        # stranding read_committed("frontier") on a KeyError
        frontier_after = {(r.url, r.round) for r in
                          driver.read_committed("frontier")
                          .select("url", "round").collect()}
        assert frontier_after == frontier_before

        # the crawl continues: later rounds never re-admit vacuumed state
        more = driver.run(n_rounds=20)
        assert more[-1].admitted == 0
        assert len(_admission_set(driver)) == 120

    def test_vacuum_without_checkpoint_protects_all_ledgered_deltas(
            self, spark, cfg, tmp_path):
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        driver.seed(synthetic.synth_frontier(spark, 60, n_hosts=4, seed=7))
        driver.run(n_rounds=2, stop_when_empty=False)
        seen_before = _admission_set(driver)
        stats = driver.vacuum(keep_last=1)
        # no checkpoint: every ledgered seen delta is protected
        assert stats["seen"]["deleted_dirs"] == 0
        assert _admission_set(driver) == seen_before


class TestAuthorityIntegration:
    def test_authority_priority_fills_capped_round(self, spark, cfg,
                                                   tmp_path):
        """With use_authority: round-0 pages all link to host-00000;
        after refresh_authority, a per_round_cap round admits
        host-00000's URLs FIRST (priority = -rank beats every seed
        priority)."""
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             use_authority=True, per_round_cap=6)
        frontier = synthetic.synth_frontier(spark, 36, n_hosts=4, seed=17)
        driver.seed(frontier)
        docs = (frontier.select("url")
                .withColumn("doc_id", F.col("url"))
                .withColumn("spans", F.array(
                    F.struct(F.lit("media").alias("kind"),
                             F.lit(None).cast("string").alias("text"),
                             F.concat(
                                 F.lit("https://host-00000.example.com"
                                       "/linked/"),
                                 F.md5("url")).alias("media_ref"),
                             F.lit(0).alias("offset")))))
        s0 = driver.run_round(0, docs=docs)
        assert s0.new_links > 0
        n_hosts = driver.refresh_authority()
        assert n_hosts >= 1
        ranks = {r.host: r.rank for r in driver.authority.read().collect()}
        assert max(ranks, key=ranks.get) == "host-00000.example.com"

        s1 = driver.run_round(1, docs=docs)
        r1 = (driver.read_committed("indexed")
              .filter(F.col("round") == 1).select("host").collect())
        assert s1.admitted == 6
        assert {r.host for r in r1} == {"host-00000.example.com"}

    def test_refresh_requires_flag_and_empty_is_noop(self, spark, cfg,
                                                     tmp_path):
        d = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        with pytest.raises(ValueError, match="use_authority"):
            d.refresh_authority()
        d2 = CrawlDriver(spark, str(tmp_path / "wh2"), cfg,
                         use_authority=True)
        assert d2.refresh_authority() == 0
        assert not d2.authority.exists()
