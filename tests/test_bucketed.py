"""Host-bucketed frontier (plans/bucketed.py): exchange-free scheduling.

Pins the claims the module makes:
- output equality with the shuffle path (plans.round.schedule), salted and
  unsalted — same dedup winners, same unseen set, same admission ranks;
- the executed scheduling plan contains ZERO Exchange nodes (the whole
  point: per-round network cost is storage-partitioning, paid at ingest);
- appends keep the bucketing, and an admit → mark_committed loop over the
  table equals the shuffle round with a growing seen set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans import bucketed as B
from fess_ds_s3_spark.plans import round as round_plan

N_BUCKETS = 8


def _frontier(spark, n=20_000, hosts=23, dup_every=7):
    """Synthetic frontier with heavy canonical duplicates (id % dup chooses
    the key) so in-batch dedup is actually exercised."""
    return (spark.range(n)
            .withColumn("bucket", F.concat(F.lit("src"),
                                           (F.col("id") % hosts).cast("string")))
            .withColumn("key", F.concat(F.lit("docs/k"),
                                        (F.col("id") % (n // dup_every))
                                        .cast("string")))
            .withColumn("size", (F.col("id") % 5000).cast("long"))
            .withColumn("priority", (F.col("id") % 7).cast("int"))
            .withColumn("discovery_time", (F.col("id") % 997).cast("long"))
            .drop("id"))


@pytest.fixture(scope="module")
def cfg():
    return CrawlConfig(region="us-east-1", default_host_budget=40)


@pytest.fixture(scope="module")
def table(spark, cfg, tmp_path_factory):
    """Bucketed frontier table with pending rows + committed seen markers."""
    path = str(tmp_path_factory.mktemp("bucketed") / "frontier")
    df = _frontier(spark)
    spark.sql("DROP TABLE IF EXISTS t_bucketed_frontier")
    B.ingest_frontier(df, cfg, table="t_bucketed_frontier", path=path,
                      n_buckets=N_BUCKETS, mode="overwrite")
    prep = round_plan.prepare_frontier(df, cfg)
    seen = (prep.filter(F.xxhash64("canonical_url") % 3 == 0)
            .select("host", "canonical_url").distinct())
    B.mark_committed(seen, table="t_bucketed_frontier", path=path,
                     n_buckets=N_BUCKETS)
    return {"name": "t_bucketed_frontier", "path": path, "df": df,
            "seen": seen}


def _admissions(df):
    return {(r.url, r.host_rank)
            for r in df.select("url", "host_rank").collect()}


class TestScheduleBucketed:
    def test_zero_exchanges_in_plan(self, spark, cfg, table):
        adm = B.schedule_bucketed(spark.table(table["name"]), cfg)
        plan = adm._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert "Bucketed: true" in plan

    @pytest.mark.parametrize("use_salting", [False, True])
    def test_equals_shuffle_path(self, spark, cfg, table, use_salting):
        adm = B.schedule_bucketed(spark.table(table["name"]), cfg)
        ref = round_plan.schedule(
            table["df"], cfg,
            seen_exact=table["seen"].select("canonical_url"),
            use_salting=use_salting)
        assert _admissions(adm) == _admissions(ref)

    def test_seen_groups_are_filtered(self, spark, cfg, table):
        adm = B.schedule_bucketed(spark.table(table["name"]), cfg)
        leaked = (adm.join(table["seen"], on=["host", "canonical_url"],
                           how="left_semi").count())
        assert leaked == 0

    def test_host_budgets_and_global_cap(self, spark, cfg, table):
        budgets = (spark.table(table["name"]).select("host").distinct()
                   .withColumn("budget_per_round",
                               (F.length("host") % 3 + 1).cast("int")))
        adm = B.schedule_bucketed(spark.table(table["name"]), cfg,
                                  host_budgets=budgets, global_cap=17)
        rows = adm.collect()
        assert len(rows) == 17
        per_host = budgets.collect()
        bmap = {r.host: r.budget_per_round for r in per_host}
        assert all(r.host_rank <= bmap[r.host] for r in rows)


class TestLayoutDurability:
    def test_append_preserves_bucketing(self, spark, cfg, table):
        extra = _frontier(spark, n=1000, hosts=23).withColumn(
            "key", F.concat(F.lit("late/"), F.col("key")))
        B.ingest_frontier(extra, cfg, table=table["name"],
                          path=table["path"], n_buckets=N_BUCKETS)
        adm = B.schedule_bucketed(spark.table(table["name"]), cfg)
        plan = adm._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0
        # late keys are now schedulable
        assert adm.filter(F.col("url").contains("/late/")).count() > 0

    def test_multiround_equals_shuffle_loop(self, spark, cfg, tmp_path):
        """3 bucketed admit→commit rounds ≡ the shuffle path with manual
        seen-set accumulation: same (round, url, host_rank) everywhere."""
        small = CrawlConfig(region="us-east-1", default_host_budget=5)
        df = _frontier(spark, n=3000, hosts=11)
        name, path = "t_bucketed_mr", str(tmp_path / "mr_frontier")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        B.ingest_frontier(df, small, table=name, path=path,
                          n_buckets=N_BUCKETS, mode="overwrite")
        got = set()
        for rnd in range(3):
            # materialize the batch before its markers change the table
            rows = B.schedule_bucketed(spark.table(name), small).collect()
            got |= {(rnd, r.url, r.host_rank) for r in rows}
            batch = spark.createDataFrame(
                [(r.host, r.canonical_url) for r in rows],
                "host string, canonical_url string")
            B.mark_committed(batch, table=name, path=path,
                             n_buckets=N_BUCKETS)

        seen = None
        want = set()
        for rnd in range(3):
            adm = round_plan.schedule(df, small, seen_exact=seen,
                                      use_salting=False)
            rows = adm.select("url", "canonical_url", "host_rank").collect()
            want |= {(rnd, r.url, r.host_rank) for r in rows}
            delta = adm.select("canonical_url")
            seen = delta if seen is None else seen.union(delta)
        assert got == want
        # every admitted URL exactly once across rounds (seen-set works)
        urls = [u for (_, u, _) in got]
        assert len(urls) == len(set(urls))
