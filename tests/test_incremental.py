"""Incremental re-crawl (operators/incremental.py): listing-snapshot diff.

Pins the classification semantics (added/modified/deleted/unchanged with
null-safe version comparison), the set identities tying the diff back to
its inputs, and the recrawl/tombstone projections that feed the next round
and the document-sink purge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.operators import incremental as inc


def _listing(spark, rows):
    """rows: (bucket, key, e_tag, size)"""
    return spark.createDataFrame(
        rows, "bucket string, key string, e_tag string, size long")


def _write_bucketed(df, table, path, n_buckets):
    """Store a snapshot CLUSTERED BY the object key, so a diff of two such
    tables reads ``HashPartitioning(bucket, key, n)`` on both sides and the
    full-outer sort-merge join needs no exchange."""
    (df.repartition(n_buckets, "bucket", "key")
     .write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, "bucket", "key")
     .option("path", path)
     .saveAsTable(table))


@pytest.fixture(scope="module")
def snapshots(spark):
    prev = _listing(spark, [
        ("b1", "a.txt", "v1", 10),       # unchanged
        ("b1", "b.txt", "v1", 20),       # modified (etag bump)
        ("b1", "c.txt", "v1", 30),       # deleted
        ("b2", "d.txt", None, 40),       # null etag both sides → unchanged
        ("b2", "e.txt", None, 50),       # null→value → modified
        ("b2", "f.txt", "v1", 60),       # size-only change → modified
    ])
    cur = _listing(spark, [
        ("b1", "a.txt", "v1", 10),
        ("b1", "b.txt", "v2", 20),
        ("b2", "d.txt", None, 40),
        ("b2", "e.txt", "v9", 50),
        ("b2", "f.txt", "v1", 61),
        ("b3", "g.txt", "v1", 70),       # added
    ])
    return prev, cur


class TestListingDiff:
    def test_classification(self, spark, snapshots):
        prev, cur = snapshots
        got = {(r.bucket, r.key): r.change
               for r in inc.listing_diff(cur, prev).collect()}
        assert got == {
            ("b1", "a.txt"): "unchanged",
            ("b1", "b.txt"): "modified",
            ("b1", "c.txt"): "deleted",
            ("b2", "d.txt"): "unchanged",
            ("b2", "e.txt"): "modified",
            ("b2", "f.txt"): "modified",
            ("b3", "g.txt"): "added",
        }

    def test_set_identities(self, spark, snapshots):
        """unchanged+modified+added == current; +deleted == previous."""
        prev, cur = snapshots
        d = inc.listing_diff(cur, prev)
        n = {r.change: r["count"]
             for r in d.groupBy("change").count().collect()}
        assert (n.get("unchanged", 0) + n.get("modified", 0)
                + n.get("added", 0)) == cur.count()
        assert (n.get("unchanged", 0) + n.get("modified", 0)
                + n.get("deleted", 0)) == prev.count()

    def test_recrawl_candidates_carry_current_metadata(self, spark,
                                                       snapshots):
        prev, cur = snapshots
        cand = inc.recrawl_candidates(inc.listing_diff(cur, prev))
        assert set(cand.columns) == {"bucket", "key", "change",
                                     "e_tag", "size"}
        rows = {(r.bucket, r.key): (r.e_tag, r.size)
                for r in cand.collect()}
        assert rows == {
            ("b1", "b.txt"): ("v2", 20),
            ("b2", "e.txt"): ("v9", 50),
            ("b2", "f.txt"): ("v1", 61),
            ("b3", "g.txt"): ("v1", 70),
        }

    def test_tombstones_purge_sink(self, spark, snapshots):
        prev, cur = snapshots
        diff = inc.listing_diff(cur, prev)
        tomb = inc.deletion_tombstones(diff)
        assert {(r.bucket, r.key) for r in tomb.collect()} == {
            ("b1", "c.txt")}
        indexed = prev.select("bucket", "key",
                              F.lit("doc").alias("contents"))
        kept = indexed.join(tomb, on=["bucket", "key"], how="left_anti")
        assert kept.count() == prev.count() - 1
        assert kept.filter((F.col("bucket") == "b1")
                           & (F.col("key") == "c.txt")).count() == 0

    def test_version_cols_subset(self, spark, snapshots):
        """ETag-only comparison ignores the size-only change."""
        prev, cur = snapshots
        got = {(r.bucket, r.key): r.change
               for r in inc.listing_diff(cur, prev,
                                         version_cols=("e_tag",))
               .collect()}
        assert got[("b2", "f.txt")] == "unchanged"
        assert got[("b1", "b.txt")] == "modified"

    def test_incremental_beats_full_recrawl(self, spark):
        """At a mostly-unchanged large listing, the candidate set is the
        changed fraction, not the listing."""
        base = (spark.range(20_000)
                .select(F.lit("b").alias("bucket"),
                        F.concat(F.lit("k/"), F.col("id")).alias("key"),
                        F.concat(F.lit("v"), (F.col("id") % 3))
                        .alias("e_tag"),
                        F.col("id").alias("size")))
        cur = base.withColumn(
            "e_tag", F.when(F.col("size") % 100 == 0, F.lit("bumped"))
            .otherwise(F.col("e_tag")))
        cand = inc.recrawl_candidates(inc.listing_diff(cur, base))
        assert cand.count() == 200


class TestBucketedListingDiff:
    def test_diff_over_bucketed_snapshots_is_exchange_free(self, spark,
                                                           snapshots,
                                                           tmp_path):
        prev, cur = snapshots
        for name, df in [("t_listing_prev", prev), ("t_listing_cur", cur)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            _write_bucketed(df, name, str(tmp_path / name), n_buckets=4)
        d = inc.listing_diff(spark.table("t_listing_cur"),
                             spark.table("t_listing_prev"))
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        got = {(r.bucket, r.key): r.change for r in d.collect()}
        want = {(r.bucket, r.key): r.change
                for r in inc.listing_diff(cur, prev).collect()}
        assert got == want


class TestDiffProperties:
    def test_hypothesis_diff_matches_python_model(self, spark):
        from hypothesis import given, settings, strategies as st

        etags = st.one_of(st.none(), st.sampled_from(["v1", "v2", "v3"]))
        listing = st.dictionaries(
            st.tuples(st.sampled_from(["b1", "b2"]),
                      st.integers(0, 30).map(lambda i: f"k{i}")),
            st.tuples(etags, st.integers(0, 3)),
            max_size=25)

        @settings(max_examples=15, deadline=None)
        @given(prev=listing, cur=listing)
        def check(prev, cur):
            def df_of(d):
                rows = [(b, k, e, s) for (b, k), (e, s) in d.items()]
                return spark.createDataFrame(
                    rows or [("_", "_", None, 0)],
                    "bucket string, key string, e_tag string, size long"
                ).filter(F.col("bucket") != "_")

            got = {(r.bucket, r.key): r.change
                   for r in inc.listing_diff(df_of(cur),
                                             df_of(prev)).collect()}
            want = {}
            for key in set(prev) | set(cur):
                if key not in prev:
                    want[key] = "added"
                elif key not in cur:
                    want[key] = "deleted"
                elif prev[key] == cur[key]:
                    want[key] = "unchanged"
                else:
                    want[key] = "modified"
            assert got == want

        check()


class TestIncrementalCycles:
    """Driver-level re-crawl cycles: listing snapshot → diff → crawl only
    the changed fraction; deletions tombstone out of the live index;
    modified URLs re-admit across seen-set generations."""

    def _store(self, tmp_path):
        import os
        root = str(tmp_path / "store")
        os.makedirs(f"{root}/b/docs", exist_ok=True)
        for k, text in [("a", "alpha"), ("b", "bravo"), ("c", "charlie"),
                        ("d", "delta"), ("e", "echo")]:
            with open(f"{root}/b/docs/{k}.txt", "w") as f:
                f.write(text)
        return root

    def _listing(self, spark, root, cfg):
        from fess_ds_s3_spark.sources.object_store import list_objects_df
        return list_objects_df(spark, root, cfg)

    def test_cycle_lifecycle(self, spark, tmp_path):
        import os
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        root = self._store(tmp_path)
        cfg = CrawlConfig(region="r", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=root)

        # cycle 1: no stored listing → everything is added (full crawl)
        c1 = driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        assert (c1.cycle, c1.start_round) == (1, 0)
        assert (c1.candidates, c1.deleted) == (5, 0)
        driver.run(5)
        live = {r.key: r.contents for r in driver.read_live_index()
                .select("key", "contents").collect()}
        assert live == {"docs/a.txt": "alpha", "docs/b.txt": "bravo",
                        "docs/c.txt": "charlie", "docs/d.txt": "delta",
                        "docs/e.txt": "echo"}

        # mutate: modify a, delete b, add f
        with open(f"{root}/b/docs/a.txt", "w") as f:
            f.write("ALPHA-CHANGED")
        os.remove(f"{root}/b/docs/b.txt")
        with open(f"{root}/b/docs/f.txt", "w") as f:
            f.write("foxtrot")

        # cycle 2: only the changed fraction is seeded
        c2 = driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        assert (c2.candidates, c2.deleted) == (2, 1)
        s2 = driver.run(5)
        # exactly the 2 candidates were admitted (seen-generation scoping
        # re-admits the modified URL, and nothing else re-crawls)
        assert sum(s.admitted for s in s2) == 2
        live = {r.key: r.contents for r in driver.read_live_index()
                .select("key", "contents").collect()}
        assert live == {"docs/a.txt": "ALPHA-CHANGED",
                        "docs/c.txt": "charlie", "docs/d.txt": "delta",
                        "docs/e.txt": "echo", "docs/f.txt": "foxtrot"}

        # cycle 3: re-create a previously deleted key → live again
        with open(f"{root}/b/docs/b.txt", "w") as f:
            f.write("bravo-again")
        c3 = driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        assert (c3.candidates, c3.deleted) == (1, 0)
        driver.run(5)
        live = {r.key: r.contents for r in driver.read_live_index()
                .select("key", "contents").collect()}
        assert live["docs/b.txt"] == "bravo-again"
        assert len(live) == 6

    def test_conditional_fetch_skips_reverted_object(self, spark, tmp_path):
        """conditional_fetch=True: cycle candidates carry the prior ETag,
        the round GETs IfNoneMatch, and an object that REVERTED between
        the listing and the fetch (the listing-to-fetch race) transfers no
        body — the row lands as status 'unchanged', the previously indexed
        document stays current, and stats record the 'unchanged' action."""
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        root = self._store(tmp_path)
        cfg = CrawlConfig(region="r", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=root,
                             conditional_fetch=True)

        # cycle 1: full crawl; prev_etag is all-null → unconditional GETs
        driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        s1 = driver.run(5)
        assert sum(s.unchanged for s in s1) == 0
        assert driver.read_live_index().count() == 5

        # mutate a and c, snapshot the listing, then REVERT c before the
        # round runs — the candidate's cur etag is stale, the prior etag
        # matches again
        with open(f"{root}/b/docs/a.txt", "w") as f:
            f.write("ALPHA-CHANGED")
        with open(f"{root}/b/docs/c.txt", "w") as f:
            f.write("charlie-transient")
        c2 = driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        assert c2.candidates == 2
        with open(f"{root}/b/docs/c.txt", "w") as f:
            f.write("charlie")
        s2 = driver.run(5)
        assert sum(s.unchanged for s in s2) == 1
        assert sum(s.stored for s in s2) == 1
        assert sum(s.failed for s in s2) == 0
        live = {r.key: r.contents for r in driver.read_live_index()
                .select("key", "contents").collect()}
        # a re-indexed with new content; c kept its cycle-1 document
        assert live["docs/a.txt"] == "ALPHA-CHANGED"
        assert live["docs/c.txt"] == "charlie"
        actions = {(r.stats_key, r.action)
                   for r in driver.stats.read().collect()}
        assert ("b@docs/c.txt", "unchanged") in actions
        assert ("b@docs/a.txt", "FINISHED") in actions

    def test_conditional_fetch_requires_store(self, spark, tmp_path):
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        with pytest.raises(ValueError):
            CrawlDriver(spark, str(tmp_path / "wh"),
                        CrawlConfig(region="r"), conditional_fetch=True)

    def test_unchanged_cycle_is_a_noop(self, spark, tmp_path):
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        root = self._store(tmp_path)
        cfg = CrawlConfig(region="r", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=root)
        driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        driver.run(5)
        before = driver.read_live_index().count()
        c2 = driver.begin_incremental_cycle(self._listing(spark, root, cfg))
        assert (c2.candidates, c2.deleted) == (0, 0)
        s = driver.run(5)
        assert sum(x.admitted for x in s) == 0
        assert driver.read_live_index().count() == before


class TestChangeRatePriority:
    def _history(self, spark):
        # key (b,k): observations over cycles 1..4
        rows = [
            # hot.txt: modified every cycle
            ("b", "hot.txt", 1, "added"),
            ("b", "hot.txt", 2, "modified"),
            ("b", "hot.txt", 3, "modified"),
            ("b", "hot.txt", 4, "modified"),
            # cold.txt: never changes after creation
            ("b", "cold.txt", 1, "added"),
            ("b", "cold.txt", 2, "unchanged"),
            ("b", "cold.txt", 3, "unchanged"),
            ("b", "cold.txt", 4, "unchanged"),
            # warm.txt: one change
            ("b", "warm.txt", 3, "added"),
            ("b", "warm.txt", 4, "modified"),
            # gone.txt: deleted rows are excluded entirely
            ("b", "gone.txt", 1, "added"),
            ("b", "gone.txt", 2, "deleted"),
        ]
        return spark.createDataFrame(
            rows, "bucket string, key string, cycle int, change string")

    def test_rates_intervals_and_next_cycle(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        out = {r.key: r for r in
               inc.change_rate_priority(self._history(spark),
                                        base_interval=8).collect()}
        hot, cold, warm, gone = (out["hot.txt"], out["cold.txt"],
                                 out["warm.txt"], out.get("gone.txt"))
        # hot: 4 obs, 4 mods -> rate 5/6; interval 8*(1/6)/(5/6)=1.6 -> 2
        assert (hot.n_obs, hot.n_mod) == (4, 4)
        assert abs(hot.change_rate - 5 / 6) < 1e-12
        assert hot.recrawl_interval == 2 and hot.next_cycle == 6
        # cold: 4 obs, 1 mod -> rate 2/6; interval 8*2=16
        assert abs(cold.change_rate - 2 / 6) < 1e-12
        assert cold.recrawl_interval == 16 and cold.next_cycle == 20
        # warm: 2 obs, 2 mods -> rate 3/4; interval 8/3=2.67 -> 3
        assert warm.recrawl_interval == 3 and warm.next_cycle == 7
        # deleted key: only its non-deleted observation survives
        assert gone.n_obs == 1
        # priority mirrors change_rate and orders hot > warm > cold
        assert hot.priority > warm.priority > cold.priority

    def test_interval_clamps(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        h = self._history(spark)
        out = {r.key: r for r in
               inc.change_rate_priority(h, base_interval=8,
                                        min_interval=4,
                                        max_interval=10).collect()}
        assert out["hot.txt"].recrawl_interval == 4      # floor
        assert out["cold.txt"].recrawl_interval == 10    # ceiling

    def test_due_filter(self, spark):
        """Keys due at a cycle are those with ``next_cycle <= cycle``."""
        import fess_ds_s3_spark.operators.incremental as inc
        sched = inc.change_rate_priority(self._history(spark),
                                         base_interval=8)

        def due(cycle):
            return {r.key for r in sched.filter(
                F.col("next_cycle") <= cycle).collect()}
        assert due(6) == {"hot.txt", "gone.txt"}  # next 6 and 5
        due7 = due(7)
        assert "warm.txt" in due7 and "cold.txt" not in due7

    def test_single_shuffle_plan(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        sched = inc.change_rate_priority(self._history(spark))
        plan = sched._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "partial_count" in plan.lower() or "partial" in plan.lower()


class TestUpdateSchedule:
    def test_fold_matches_batch_aggregate(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        hist = TestChangeRatePriority()._history(spark)
        sched = None
        for c in (1, 2, 3, 4):
            diff = (hist.filter(F.col("cycle") == c)
                    .select("bucket", "key", "change"))
            sched = inc.update_schedule(sched, diff, c, base_interval=8)
        got = {r.key: r for r in sched.collect()}
        want = {r.key: r for r in
                inc.change_rate_priority(hist, base_interval=8).collect()}
        # deleted keys LEAVE the folded schedule (live view) but remain
        # summarized in the batch aggregate (history view)
        assert "gone.txt" not in got and "gone.txt" in want
        for k in ("hot.txt", "cold.txt", "warm.txt"):
            assert tuple(got[k]) == tuple(want[k]), k

    def test_unlisted_keys_carry_state(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        d1 = spark.createDataFrame(
            [("b", "x", "added"), ("b", "y", "added")],
            "bucket string, key string, change string")
        s1 = inc.update_schedule(None, d1, 1)
        # cycle 2 lists only x
        d2 = spark.createDataFrame([("b", "x", "unchanged")],
                                   "bucket string, key string, change string")
        s2 = {r.key: r for r in inc.update_schedule(s1, d2, 2).collect()}
        assert s2["x"].n_obs == 2 and s2["x"].last_cycle == 2
        assert s2["y"].n_obs == 1 and s2["y"].last_cycle == 1

    def test_single_join_per_fold(self, spark):
        import fess_ds_s3_spark.operators.incremental as inc
        d1 = spark.createDataFrame([("b", "x", "added")],
                                   "bucket string, key string, change string")
        s1 = inc.update_schedule(None, d1, 1)
        s2 = inc.update_schedule(s1, d1, 2)
        plan = s2._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") + plan.count("HashJoin") <= 2


class TestAdaptivePriorityCycles:
    def test_schedule_drives_candidate_priority(self, spark, tmp_path):
        import os
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        helper = TestIncrementalCycles()
        root = helper._store(tmp_path)
        cfg = CrawlConfig(region="r", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=root)

        listing = helper._listing(spark, root, cfg)
        c1 = driver.begin_incremental_cycle(listing,
                                            adaptive_priority=True)
        assert c1.candidates == 5
        # schedule folded and committed with this cycle's id
        assert driver.schedule.exists()
        assert driver.schedule.metadata()["cycle"] == 1
        sched = {r.key: r for r in driver.schedule.read().collect()}
        assert all(r.n_obs == 1 and r.n_mod == 1
                   for r in sched.values())
        # first sighting: rate 2/3 → priority int floor((1/3)*10) = 3
        f1 = driver.frontier.read().filter(F.col("round") == 0)
        assert {r.priority for r in f1.select("priority").collect()} == {3}
        driver.run(5)

        # cycle 2: modify a (2 obs 2 mods → rate 3/4 → prio 2), add f
        # (1 obs 1 mod → prio 3); c,d,e unchanged (2 obs 1 mod → rate
        # 1/2 → interval 8 — not candidates, but scheduled)
        with open(f"{root}/b/docs/a.txt", "w") as f:
            f.write("ALPHA-CHANGED")
        with open(f"{root}/b/docs/f.txt", "w") as f:
            f.write("foxtrot")
        c2 = driver.begin_incremental_cycle(
            helper._listing(spark, root, cfg), adaptive_priority=True)
        assert c2.candidates == 2
        sched = {r.key: r for r in driver.schedule.read().collect()}
        assert sched["docs/a.txt"].n_obs == 2
        assert sched["docs/a.txt"].n_mod == 2
        assert sched["docs/c.txt"].n_obs == 2
        assert sched["docs/c.txt"].n_mod == 1
        f2 = driver.frontier.read().filter(
            F.col("round") == c2.start_round)
        prios = {r.key: r.priority for r in
                 f2.select("key", "priority").collect()}
        assert prios == {"docs/a.txt": 2, "docs/f.txt": 3}
        driver.run(5)

        # resume: a fresh driver sees the same schedule state
        d2 = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                         object_store_root=root)
        assert d2.schedule.metadata()["cycle"] == 2
        assert d2.schedule.read().count() == 6


    def test_fold_idempotence_guard(self, spark, tmp_path):
        """A crash between the schedule overwrite and the cycle commit
        re-runs begin_incremental_cycle with the SAME cycle id; the
        already-folded schedule (metadata cycle == cycle_id) must be
        reused, not re-folded (which would double-count n_obs)."""
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        helper = TestIncrementalCycles()
        root = helper._store(tmp_path)
        cfg = CrawlConfig(region="r", default_host_budget=100,
                          bloom_expected=1000, seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=root)
        listing = helper._listing(spark, root, cfg)
        driver.begin_incremental_cycle(listing, adaptive_priority=True)
        driver.run(5)
        # simulate the crashed attempt: fold cycle 2's diff manually
        # (metadata stamps cycle=2), as if the overwrite landed but the
        # cycles-table commit did not
        from fess_ds_s3_spark.operators import incremental as inc
        diff_all = inc.listing_diff(
            listing, driver.listing.read(),
            version_cols=("etag", "size")).select("bucket", "key",
                                                  "change")
        folded = inc.update_schedule(driver.schedule.read(), diff_all, 2)
        driver.schedule.overwrite(folded, {"cycle": 2})
        before = {r.key: r.n_obs for r in driver.schedule.read().collect()}
        # the re-run (same cycle id 2) must skip the fold
        driver.begin_incremental_cycle(listing, adaptive_priority=True)
        after = {r.key: r.n_obs for r in driver.schedule.read().collect()}
        assert after == before  # not double-counted
        assert max(after.values()) == 2


class TestUpdateScheduleProperties:
    def test_hypothesis_fold_matches_batch(self, spark):
        """Folding per-cycle diffs ≡ batch aggregate over the whole
        history, for any history where a key is observed in a contiguous
        run of cycles and 'deleted' only ever terminates it (the shape
        listing_diff actually produces)."""
        from hypothesis import given, settings, strategies as st
        import fess_ds_s3_spark.operators.incremental as inc

        # per key: (first_cycle, lifetime, mod pattern seed)
        key_specs = st.dictionaries(
            st.integers(0, 12).map(lambda i: f"k{i}"),
            st.tuples(st.integers(1, 4), st.integers(1, 4),
                      st.integers(0, 7)),
            min_size=1, max_size=8)

        @settings(max_examples=10, deadline=None)
        @given(specs=key_specs)
        def check(specs):
            rows = []
            for key, (first, life, seed) in specs.items():
                last = min(4, first + life - 1)
                for c in range(first, last + 1):
                    if c == first:
                        change = "added"
                    elif c == last and life <= 3 and seed % 2:
                        change = "deleted"
                    elif (seed + c) % 3 == 0:
                        change = "modified"
                    else:
                        change = "unchanged"
                    rows.append(("b", key, c, change))
            hist = spark.createDataFrame(
                rows, "bucket string, key string, cycle int, change string")
            sched = None
            for c in (1, 2, 3, 4):
                d = (hist.filter(F.col("cycle") == c)
                     .select("bucket", "key", "change"))
                sched = inc.update_schedule(sched, d, c)
            got = {r.key: tuple(r) for r in sched.collect()}
            deleted = {r.key for r in hist
                       .filter(F.col("change") == "deleted").collect()}
            want = {r.key: tuple(r)
                    for r in inc.change_rate_priority(hist).collect()
                    if r.key not in deleted}
            assert got == want

        check()


class TestBucketedScheduleFold:
    def test_fold_over_bucketed_tables_is_exchange_free(self, spark,
                                                        tmp_path):
        import fess_ds_s3_spark.operators.incremental as inc
        sched = spark.createDataFrame(
            [("b", f"k{i}", 2, 1, 2) for i in range(100)],
            "bucket string, key string, n_obs long, n_mod long, "
            "last_cycle int")
        diff = spark.createDataFrame(
            [("b", f"k{i}",
              "deleted" if i % 10 == 0 else
              "modified" if i % 3 == 0 else "unchanged")
             for i in range(100)],
            "bucket string, key string, change string")
        for name, df in [("t_sched_prev", sched), ("t_cycle_diff", diff)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            _write_bucketed(df, name, str(tmp_path / name), n_buckets=4)
        out = inc.update_schedule(spark.table("t_sched_prev"),
                                  spark.table("t_cycle_diff"), 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # shuffle-free: both joins consume the storage partitioning; the
        # only Exchange is the BROADCAST of the tiny deleted set (good —
        # AQE sizes it), never a hashpartitioning shuffle
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        got = {r.key: tuple(r) for r in out.collect()}
        want = {r.key: tuple(r)
                for r in inc.update_schedule(sched, diff, 3).collect()}
        assert got == want
