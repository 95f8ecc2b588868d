"""Invariance suites (SURVEY.md §5.2.3): results invariant under round
size, partition count, and salt count — generalizing the reference's
pagination-invariance test (AmazonS3ClientTest.java:187-201: maxKeys=1 ≡
maxKeys=1000)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources import synthetic


class TestRoundSizeInvariance:
    @pytest.mark.parametrize("budget", [5, 23, 1000])
    def test_total_admissions_invariant_under_budget(self, spark, tmp_path,
                                                     budget):
        """Like pagination invariance: any per-round budget must converge to
        the same total seen set + stored set, only over more/fewer rounds."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=budget,
                          max_size=25_000_000,  # > all synth sizes
                          bloom_expected=10_000, seen_partitions=8)
        frontier = synthetic.synth_frontier(spark, 120, n_hosts=5,
                                            n_buckets=3, seed=31)
        driver = CrawlDriver(spark, str(tmp_path / f"wh{budget}"), cfg)
        driver.seed(frontier)
        driver.run(n_rounds=30)
        seen = {r.canonical_url for r in driver.committed_seen().collect()}
        stored = {r.url for r in
                  driver.read_committed("indexed").collect()}
        distinct = {r.url for r in frontier.select("url").distinct()
                    .collect()}
        assert seen == {r.canonical_url for r in
                        round_plan.prepare_frontier(frontier, cfg)
                        .select("canonical_url").distinct().collect()}
        assert stored == distinct

    def test_late_materialization_prunes_before_winner_agg(self, spark):
        """Plan shape: the wide-column one-per-url winner aggregate must sit
        ABOVE a left-semi prune against the admitted batch, never aggregate
        the full frontier (the round's only full-width shuffle otherwise)."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=2)
        frontier = synthetic.synth_frontier(spark, 100, n_hosts=4,
                                            n_buckets=2, seed=7)
        result = round_plan.run_round(frontier, cfg)
        plan = result.processed._jdf.queryExecution().optimizedPlan().toString()
        # round-1 plan had no semi join at all — the winner agg consumed the
        # raw frontier; the prune introduces exactly one LeftSemi below it
        assert "LeftSemi" in plan, plan
        # and the winner aggregate (groupBy url) is still present above it
        import re
        assert re.search(r"Aggregate \[url#\d+\]", plan), plan

    def test_salt_count_invariance(self, spark):
        """Admitted set identical for any salt bucket count."""
        frontier = synthetic.synth_frontier(spark, 300, n_hosts=6,
                                            n_buckets=3, seed=37)
        results = []
        for k in (1, 4, 16):
            cfg = CrawlConfig(region="us-east-1", default_host_budget=5,
                              salt_threshold=10, salt_buckets=k)
            out = round_plan.schedule(frontier, cfg)
            results.append(sorted((r.host, r.host_rank, r.url)
                                  for r in out.collect()))
        assert results[0] == results[1] == results[2]

    def test_seen_partition_count_invariance(self, spark):
        """Unseen-filter output identical for any bloom partition count."""
        from fess_ds_s3_spark.operators import seen as seen_ops
        frontier = synthetic.synth_frontier(spark, 300, n_hosts=6,
                                            n_buckets=3, seed=41)
        seen = (synthetic.synth_frontier(spark, 100, n_hosts=6, n_buckets=3,
                                         seed=41)
                .select(F.col("url").alias("canonical_url")))
        results = []
        for parts in (4, 16, 64):
            cfg = CrawlConfig(region="us-east-1", bloom_expected=5_000,
                              seen_partitions=parts)
            prepared = round_plan.prepare_frontier(frontier, cfg)
            blooms = seen_ops.build_bloom(seen, cfg)
            out = seen_ops.filter_unseen(prepared, seen, blooms, cfg)
            results.append(sorted(r.url for r in out.collect()))
        assert results[0] == results[1] == results[2]


class TestBloomBranchPlanShape:
    def test_filter_unseen_branches_reuse_one_exchange(self, spark):
        """Plan shape: filter_unseen's two branches (definitely-new /
        needs-confirm) must hang off ONE shared dedup Exchange
        (ReusedExchange), never re-execute the scan+partial-agg+probe
        subtree per branch. Catalyst would otherwise push each branch's
        maybe_seen filter below the dedup aggregate (the flag depends only
        on the grouping key) and specialize the exchange input per branch —
        measured as a duplicate full-scale scan stage (+185 CPU-s at 32M
        rows, r3). The probe UDF's nondeterministic marker blocks that
        reordering (seen.py:bloom_maybe_seen_broadcast)."""
        cfg = CrawlConfig(region="us-east-1", default_host_budget=5,
                          bloom_expected=10_000, seen_partitions=4)
        from fess_ds_s3_spark.operators import seen as seen_ops
        frontier = synthetic.synth_frontier(spark, 200, n_hosts=4,
                                            n_buckets=2, seed=13)
        seen = (synthetic.synth_frontier(spark, 50, n_hosts=4, n_buckets=2,
                                         seed=13)
                .select(F.col("url").alias("canonical_url")))
        blooms = seen_ops.build_bloom(seen, cfg)
        out = round_plan.schedule(frontier, cfg, seen_exact=seen,
                                  blooms=blooms, use_salting=False)
        out.collect()  # materialize THIS df's adaptive plan to its final form
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan


class TestAdmissionPlanShape:
    def test_salted_admission_without_budgets(self, spark):
        """The crawl round's admission (no host_budgets) is two windows —
        the (host, salt) pre-rank and the per-host rank-and-cut — and one
        broadcast join, the hot-host flag: sharing the admission core with
        admit_per_host must not add a budgets join or a third window."""
        import re
        from fess_ds_s3_spark.operators import politeness
        cfg = CrawlConfig(region="r", default_host_budget=3,
                          salt_threshold=10, salt_buckets=4)
        frontier = synthetic.synth_frontier(spark, 500, n_hosts=30,
                                            n_buckets=5, seed=7)
        out = politeness.admit_per_host_salted(frontier, cfg)
        out.collect()  # materialize the adaptive plan to its final form
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the AQE string also prints the Initial Plan; count the final one
        final = plan.split("== Final Plan ==")[1] \
            .split("== Initial Plan ==")[0]
        assert len(re.findall(r"\bWindow \[", final)) == 2, final
        assert final.count("BroadcastHashJoin") == 1, final
        assert len(re.findall(r"\w*Join\b", final)) == 1, final
        assert "budget_per_round" not in final, final
