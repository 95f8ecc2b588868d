"""Snapshot-table storage: append/overwrite/time-travel/atomic commit."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

from fess_ds_s3_spark.sources.snapshots import Catalog, SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh")).table("t")


def _df(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v int")


class TestSnapshots:
    def test_append_accumulates(self, spark, table):
        s1 = table.append(_df(spark, [1, 2]))
        s2 = table.append(_df(spark, [3]))
        assert (s1, s2) == (1, 2)
        assert sorted(r.v for r in table.read().collect()) == [1, 2, 3]

    def test_time_travel(self, spark, table):
        table.append(_df(spark, [1]))
        table.append(_df(spark, [2]))
        assert sorted(r.v for r in table.read(1).collect()) == [1]
        assert sorted(r.v for r in table.read(2).collect()) == [1, 2]

    def test_overwrite_resets_lineage(self, spark, table):
        table.append(_df(spark, [1, 2]))
        table.overwrite(_df(spark, [9]))
        assert [r.v for r in table.read().collect()] == [9]
        # old snapshot still readable (time travel across overwrite)
        assert sorted(r.v for r in table.read(1).collect()) == [1, 2]

    def test_metadata_recorded(self, spark, table):
        table.append(_df(spark, [1]), {"round": 7, "kind": "seed"})
        meta = table.metadata(1)
        assert meta["round"] == 7 and meta["kind"] == "seed"
        assert "committed_at" in meta

    def test_missing_snapshot_raises(self, spark, table):
        table.append(_df(spark, [1]))
        with pytest.raises(KeyError):
            table.read(99)

    def test_commit_is_atomic_manifest(self, spark, table, tmp_path):
        """No partial manifest states: manifest is either old or new."""
        table.append(_df(spark, [1]))
        manifest_path = table._manifest_path
        before = json.load(open(manifest_path))
        table.append(_df(spark, [2]))
        after = json.load(open(manifest_path))
        assert after["current"] == before["current"] + 1
        # no stray tmp files left behind
        assert not [f for f in os.listdir(table.root)
                    if f.startswith("manifest.json.tmp")]

    def test_concurrent_tables_isolated(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path / "wh"))
        a, b = cat.table("a"), cat.table("b")
        a.append(_df(spark, [1]))
        b.append(_df(spark, [2]))
        assert [r.v for r in a.read().collect()] == [1]
        assert [r.v for r in b.read().collect()] == [2]


class TestStage:
    def test_staged_data_is_invisible_until_committed(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path), "t")
        first = t.stage(spark.range(2))
        assert t.current_snapshot_id() is None
        with pytest.raises(KeyError):
            t.read()
        s1 = t.append(spark.range(3))
        staged = t.stage(spark.range(10, 15))
        assert os.path.isdir(os.path.join(t.root, staged.rel))
        for view in (t, SnapshotTable(spark, str(tmp_path), "t")):
            assert view.current_snapshot_id() == s1
            assert [s.snapshot_id for s in view.snapshots()] == [s1]
            assert view.read().count() == 3
            assert view.read_deltas([s1]).count() == 3
        # committing a handle writes the manifest only
        s2 = t.append(staged, {"k": 2})
        assert sorted(r.id for r in t.read_deltas([s2]).collect()) == \
            list(range(10, 15))
        assert t.read().count() == 8
        assert t.metadata(s2)["k"] == 2
        s3 = t.overwrite(first)
        assert t.read().count() == 2 and t.read(s2).count() == 8
        assert s3 == s2 + 1
        other = SnapshotTable(spark, str(tmp_path), "u")
        with pytest.raises(ValueError):
            other.append(t.stage(spark.range(1)))
        assert other.current_snapshot_id() is None

    def test_linkless_round_drops_empty_frontier_delta(self, spark,
                                                       tmp_path):
        """A docs-enabled round that finds no links must not leave an empty
        frontier snapshot delta behind (ADVICE r3: snapshot/small-file
        churn on long crawls)."""
        from pyspark.sql import functions as F
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        cfg = CrawlConfig(region="r", bloom_expected=1000,
                          seen_partitions=2)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg)
        frontier = spark.createDataFrame(
            [("b", "k1"), ("b", "k2")], "bucket string, key string") \
            .withColumn("priority", F.lit(0)) \
            .withColumn("size", F.lit(10).cast("long")) \
            .withColumn("discovery_time",
                        F.to_timestamp(F.lit("2020-01-01")))
        driver.seed(frontier)
        # spans with no media spans → zero links extracted
        docs = spark.createDataFrame(
            [(u, [("text", "hello", None, 0)]) for u in
             ("https://b.s3.r.amazonaws.com/k1",
              "https://b.s3.r.amazonaws.com/k2")],
            "url string, spans array<struct<kind string, text string, "
            "media_ref string, offset int>>")
        before = len(driver.frontier.snapshots())
        summary = driver.run_round(0, docs=docs)
        assert summary.new_links == 0
        assert len(driver.frontier.snapshots()) == before  # no empty delta
        # ledger still commits and resume still works
        assert driver.last_round() == 0


class TestCompaction:
    def test_compact_folds_to_one_dir_same_rows(self, spark, table):
        table.append(_df(spark, [1, 2]))
        table.append(_df(spark, [3]))
        table.append(_df(spark, [4, 5]))
        before = sorted(r.v for r in table.read().collect())
        snap = table.compact(partitions=1)
        snaps = {s.snapshot_id: s for s in table.snapshots()}
        assert len(snaps[snap].data_dirs) == 1  # folded
        assert sorted(r.v for r in table.read().collect()) == before
        assert table.metadata(snap)["kind"] == "compaction"
        # time travel to pre-compaction snapshots still works
        assert sorted(r.v for r in table.read(2).collect()) == [1, 2, 3]

    def test_crawl_resumes_identically_across_compaction(self, spark,
                                                         tmp_path):
        """compact_frontier between rounds must not change what later
        rounds admit: run rounds 0-1, compact, run round 2; compare the
        committed stats set to an uncompacted twin crawl."""
        from pyspark.sql import functions as F
        from fess_ds_s3_spark.config import CrawlConfig
        from fess_ds_s3_spark.plans.crawl import CrawlDriver

        def frontier(n):
            return (spark.range(n)
                    .select(F.lit("b").alias("bucket"),
                            F.format_string("k/%03d", F.col("id"))
                            .alias("key"),
                            F.lit(20).cast("long").alias("size"),
                            (F.col("id") % 3).cast("int").alias("priority"),
                            F.to_timestamp(F.lit("2020-01-01"))
                            .alias("discovery_time")))

        cfg = CrawlConfig(region="r", default_host_budget=4,
                          bloom_expected=1000, seen_partitions=2)

        def stats_of(driver):
            return sorted((r.stats_key, r.action, r.round) for r in
                          driver.read_committed("stats").collect())

        d1 = CrawlDriver(spark, str(tmp_path / "w1"), cfg)
        d1.seed(frontier(20))
        d1.run(2)
        dirs_before = len(d1.frontier.snapshots()[-1].data_dirs)
        d1.compact_frontier(partitions=1)
        assert len(d1.frontier.snapshots()[-1].data_dirs) == 1
        d1.run(1)

        d2 = CrawlDriver(spark, str(tmp_path / "w2"), cfg)
        d2.seed(frontier(20))
        d2.run(3)
        assert stats_of(d1) == stats_of(d2)
        assert dirs_before >= 1


class TestExpireSnapshots:
    def _dirs(self, table):
        data = os.path.join(table.root, "data")
        return {d for d in os.listdir(data)
                if os.path.isdir(os.path.join(data, d))}

    def test_append_only_expires_nothing_until_compaction(self, spark,
                                                          table):
        for v in ([1], [2], [3]):
            table.append(_df(spark, v))
        before = self._dirs(table)
        out = table.expire_snapshots(keep_last=1)
        # current (cumulative) references every dir: entries expire,
        # but no data dir may be deleted
        assert out["expired"] == 2 and out["deleted_dirs"] == 0
        assert self._dirs(table) == before
        assert sorted(r.v for r in table.read().collect()) == [1, 2, 3]

    def test_compact_then_expire_reclaims(self, spark, table):
        for v in ([1], [2], [3]):
            table.append(_df(spark, v))
        n_before = len(self._dirs(table))
        table.compact()
        out = table.expire_snapshots(keep_last=1)
        assert out["expired"] == 3
        assert out["deleted_dirs"] == n_before
        assert len(self._dirs(table)) == 1
        assert sorted(r.v for r in table.read().collect()) == [1, 2, 3]

    def test_protect_ids_keep_deltas_readable(self, spark, table):
        s1 = table.append(_df(spark, [1]))
        s2 = table.append(_df(spark, [2]))
        s3 = table.append(_df(spark, [3]))
        table.compact()
        table.expire_snapshots(keep_last=0, protect_ids=[s2])
        assert [r.v for r in table.read_deltas([s2]).collect()] == [2]
        with pytest.raises(KeyError):
            table.read_deltas([s1])
        del s3

    def test_delta_mode_reclaims_unprotected_append_dirs(self, spark,
                                                         table):
        s1 = table.append(_df(spark, [1]))
        s2 = table.append(_df(spark, [2]))
        s3 = table.append(_df(spark, [3]))
        out = table.expire_snapshots(keep_last=0, protect_ids=[s2],
                                     reference="delta")
        # s1's dir is gone (only referenced cumulatively); s2 protected,
        # s3 is current
        assert out["expired"] == 1 and out["deleted_dirs"] == 1
        assert [r.v for r in table.read_deltas([s2]).collect()] == [2]
        assert [r.v for r in table.read_deltas([s3]).collect()] == [3]
        # cumulative read stays well-defined: retained deltas' rows only
        assert sorted(r.v for r in table.read().collect()) == [2, 3]
        del s1

    def test_current_always_retained(self, spark, table):
        table.append(_df(spark, [1]))
        out = table.expire_snapshots(keep_last=0)
        assert out["expired"] == 0
        assert sorted(r.v for r in table.read().collect()) == [1]

    def test_manifest_commits_before_deletion_semantics(self, spark,
                                                        table):
        # expired ids disappear from the manifest even when their dirs
        # were shared (mode=overwrite twice on same data is impossible
        # here, so assert via snapshots() listing)
        table.append(_df(spark, [1]))
        table.overwrite(_df(spark, [2]))
        table.expire_snapshots(keep_last=1)
        assert [s.snapshot_id for s in table.snapshots()] == [2]
        assert table.current_snapshot_id() == 2

    def test_bad_reference_mode(self, spark, table):
        table.append(_df(spark, [1]))
        with pytest.raises(ValueError):
            table.expire_snapshots(reference="bogus")


class TestManifestMaps:
    SCHEMA = StructType([StructField("v", IntegerType(), False)])

    def _manifest(self, table):
        with open(table._manifest_path) as fh:
            return json.load(fh)

    def test_staged_rows_read_back_from_manifest_and_files(self, spark,
                                                          table):
        s1 = table.append(table.stage_rows([(1,), (2,)], self.SCHEMA))
        table.append(table.stage_rows([(3,)], self.SCHEMA))
        assert table.rows() == [{"v": 1}, {"v": 2}, {"v": 3}]
        assert sorted(r.v for r in table.read().collect()) == [1, 2, 3]
        assert [r.v for r in table.read(s1).collect()] == [1, 2]
        table.append(_df(spark, [4]))  # no rows recorded: a Spark read
        assert sorted(r["v"] for r in table.rows()) == [1, 2, 3, 4]

    def test_uncommitted_stage_adds_nothing_to_manifest(self, spark, table):
        table.append(_df(spark, [1]))
        before = self._manifest(table)
        table.stage(_df(spark, [2]))
        table.stage_rows([(3,)], self.SCHEMA)
        assert self._manifest(table) == before
        assert table.rows() == [{"v": 1}]

    def test_expire_drops_map_entries_of_deleted_dirs(self, spark, table):
        for v in ([1], [2], [3]):
            table.append(table.stage_rows([(x,) for x in v], self.SCHEMA))
        table.overwrite(table.stage_rows([(9,)], self.SCHEMA))
        out = table.expire_snapshots(keep_last=1)
        assert out["deleted_dirs"] == 3
        manifest = self._manifest(table)
        live = set(table.snapshots()[-1].data_dirs)
        assert set(manifest["schemas"]) == live == set(manifest["rows"])
        assert table.rows() == [{"v": 9}]

    def test_conflicting_recorded_types_fall_back_to_inference(self, spark,
                                                               table):
        """Recorded types that differ by name read as mergeSchema does:
        nested structs merge, an int and a bigint column raise."""
        def inferred():
            return spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(table.root, d)
                  for d in table.snapshots()[-1].data_dirs])

        table.append(spark.createDataFrame([((1,),)], "s struct<a:int>"))
        table.append(spark.createDataFrame([((2,),)], "s struct<b:int>"))
        assert table.read().schema == inferred().schema
        assert sorted(map(repr, table.read().collect())) == \
            sorted(map(repr, inferred().collect()))
        table.append(spark.createDataFrame([(3,)], "s bigint"))
        for read in (inferred, table.read):
            with pytest.raises(Exception, match="CANNOT_MERGE|merge"):
                read().collect()
