"""URL-seen set: exact anti-join oracle, bloom pre-filter equivalence,
false-positive bound, cuckoo insert/delete, determinism across parallelism."""

from __future__ import annotations

import hashlib
import re
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import seen as seen_ops
from fess_ds_s3_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def cfg():
    return CrawlConfig(region="r", bloom_expected=10_000, bloom_fpp=0.01,
                       seen_partitions=8)


def _urls(spark, n, prefix="u", parts=4):
    return spark.range(0, n, numPartitions=parts).select(
        F.format_string(f"https://h%03d.com/{prefix}/%d",
                        F.pmod(F.col("id"), F.lit(50)), F.col("id"))
        .alias("canonical_url"))


def _blobs(blooms) -> dict:
    return {r.part_id: bytes(r.bits) for r in blooms.collect()}


@pytest.fixture(scope="module")
def rounds(spark):
    """Three seen deltas; each repeats 50 URLs of the one before it."""
    return [_urls(spark, 300, prefix=f"r{i}").unionByName(
                _urls(spark, 50, prefix=f"r{i - 1}"))
            for i in range(3)]


class TestExactLedger:
    def test_anti_join(self, spark, cfg):
        frontier = _urls(spark, 100)
        seen = _urls(spark, 40)  # first 40 urls seen
        out = seen_ops.anti_join_seen_exact(frontier, seen)
        assert out.count() == 60

    def test_bloom_params_sane(self):
        m, k = seen_ops.bloom_params(10_000, 0.01)
        assert m % 8 == 0 and 6 <= k <= 8
        assert 9 * 10_000 <= m <= 11 * 10_000


class TestBloom:
    def test_no_false_negatives(self, spark, cfg):
        urls = _urls(spark, 1000)
        blooms = seen_ops.build_bloom(urls, cfg)
        probed = seen_ops.bloom_maybe_seen(urls, blooms, cfg)
        # every inserted URL must be maybe_seen
        assert probed.filter(~F.col("maybe_seen")).count() == 0

    def test_false_positive_rate_bounded(self, spark, cfg):
        inserted = _urls(spark, 5000, prefix="in")
        others = _urls(spark, 5000, prefix="out")
        blooms = seen_ops.build_bloom(inserted, cfg)
        fp = (seen_ops.bloom_maybe_seen(others, blooms, cfg)
              .filter(F.col("maybe_seen")).count())
        assert fp / 5000 < 0.03  # 3× slack over the 1% design point

    def test_multiple_blob_rows_per_part_are_or_merged(self, spark, cfg):
        """A blooms table holding several blob rows per partition (appended
        deltas instead of the driver's overwrite) must behave like the
        merged filter — never silently drop state → false 'unseen'."""
        a = _urls(spark, 400, prefix="a")
        b = _urls(spark, 400, prefix="b")
        bloom_a = seen_ops.build_bloom(a, cfg)
        bloom_b = seen_ops.build_bloom(b, cfg)
        stacked = bloom_a.unionByName(bloom_b)  # 2 rows per part_id
        merged = seen_ops.merge_blooms(bloom_a, b, cfg)
        both = a.unionByName(b)
        for blooms in (stacked, merged):
            # cogrouped probe path
            assert (seen_ops.bloom_maybe_seen(both, blooms, cfg)
                    .filter(~F.col("maybe_seen")).count() == 0)
            # broadcast probe path
            assert (seen_ops.bloom_maybe_seen_broadcast(
                        both, blooms.collect(), cfg)
                    .filter(~F.col("maybe_seen")).count() == 0)

    def test_filter_unseen_equals_exact(self, spark, cfg):
        frontier = _urls(spark, 2000)
        seen = _urls(spark, 700)
        blooms = seen_ops.build_bloom(seen, cfg)
        via_bloom = set(
            r[0] for r in seen_ops.filter_unseen(
                frontier, seen, blooms, cfg).select("canonical_url")
            .collect())
        exact = set(
            r[0] for r in seen_ops.anti_join_seen_exact(frontier, seen)
            .select("canonical_url").collect())
        assert via_bloom == exact

    def test_merge_blooms(self, spark, cfg):
        a = _urls(spark, 500, prefix="a")
        b = _urls(spark, 500, prefix="b")
        merged = seen_ops.merge_blooms(seen_ops.build_bloom(a, cfg), b, cfg)
        probed = seen_ops.bloom_maybe_seen(
            a.unionByName(b), merged, cfg)
        assert probed.filter(~F.col("maybe_seen")).count() == 0

    def test_blob_determinism_across_parallelism(self, spark, cfg):
        """Bloom blobs must be bit-identical regardless of input partitioning
        (SURVEY.md §7 hard part 4)."""
        u1 = _urls(spark, 1000, parts=1)
        u8 = _urls(spark, 1000, parts=8)
        blobs1 = {r.part_id: r.bits for r in
                  seen_ops.build_bloom(u1, cfg).collect()}
        blobs8 = {r.part_id: r.bits for r in
                  seen_ops.build_bloom(u8, cfg).collect()}
        assert blobs1 == blobs8

    def test_blob_bytes_are_pinned(self, spark, cfg):
        """The fold kernel writes the bytes the grouped build wrote: a
        drift in hashing, bit layout or sizing changes this digest."""
        digest = hashlib.sha256()
        for pid, bits in sorted(_blobs(
                seen_ops.build_bloom(_urls(spark, 1000), cfg)).items()):
            digest.update(pid.to_bytes(4, "big"))
            digest.update(bits)
        assert digest.hexdigest() == (
            "bf4875411d8139c2d1370b1c72aec3e959365b3379f4e0b4529fce35038cd166")

    @pytest.mark.parametrize("parts", [1, 8])
    def test_chained_merge_equals_one_build(self, spark, rounds, parts):
        """Folding each round's delta into the previous blobs gives, per
        part, the bytes of one build over every URL seen so far."""
        cfg = CrawlConfig(region="r", bloom_expected=10_000, bloom_fpp=0.01,
                          seen_partitions=parts)
        blooms = seen_ops.build_bloom(rounds[0], cfg)
        for i in (1, 2):
            blooms = seen_ops.merge_blooms(blooms, rounds[i], cfg)
            union = reduce(DataFrame.unionByName, rounds[:i + 1])
            got = _blobs(blooms)
            assert len(got) == parts
            assert got == _blobs(seen_ops.build_bloom(union, cfg))

    def test_merge_is_one_arrow_node(self, spark, cfg, tmp_path):
        """Bloom maintenance over blobs read back from the snapshot table
        runs one Python node: the cogrouped Arrow fold. A build folds into
        an empty local relation, which scans no Python-made RDD."""
        table = SnapshotTable(spark, str(tmp_path), "seen_bloom")
        built = seen_ops.build_bloom(_urls(spark, 200), cfg)
        table.overwrite(built)
        merged = seen_ops.merge_blooms(table.read(),
                                       _urls(spark, 200, prefix="b"), cfg)
        for blooms in (built, merged):
            blooms.collect()
            plan = blooms._jdf.queryExecution().executedPlan().toString()
            # the AQE string also prints the Initial Plan; count the final
            final = plan.split("== Final Plan ==")[1] \
                .split("== Initial Plan ==")[0]
            python_nodes = re.findall(
                r"\b(\w*(?:InPandas|InArrow|EvalPython)\w*)\b", final)
            assert python_nodes == ["FlatMapCoGroupsInArrow"], final
            assert "ExistingRDD" not in final, final

    def test_probes_carry_columns_unchanged(self, spark, cfg):
        """Both cogrouped probes hand every input column back with its
        type and value, in a session whose time zone is not UTC."""
        frontier = _urls(spark, 60).select(
            "canonical_url",
            F.when(F.length("canonical_url") % 3 == 0, None)
            .otherwise(F.length("canonical_url")).cast("int").alias("n"),
            F.timestamp_seconds(F.length("canonical_url") * 86_400 + 7)
            .alias("ts"),
            (F.length("canonical_url").cast("long") * 10**12).alias("big"))
        seen = frontier.limit(20)
        want = sorted(frontier.collect())
        assert any(r.n is None for r in want)
        tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            for probed in (
                    seen_ops.bloom_maybe_seen(
                        frontier, seen_ops.build_bloom(seen, cfg), cfg),
                    seen_ops.cuckoo_maybe_seen(
                        frontier, seen_ops.build_cuckoo(seen, cfg), cfg)):
                carried = probed.select(*frontier.columns)
                assert carried.schema == frontier.schema
                assert sorted(carried.collect()) == want
                assert probed.filter("maybe_seen").count() >= 20
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)


class TestCuckoo:
    def test_contains_after_build(self, spark, cfg):
        urls = _urls(spark, 1000)
        blobs = seen_ops.build_cuckoo(urls, cfg)
        probed = seen_ops.cuckoo_maybe_seen(urls, blobs, cfg)
        assert probed.filter(~F.col("maybe_seen")).count() == 0

    def test_delete_then_probe(self, spark, cfg):
        urls = _urls(spark, 200)
        blobs = seen_ops.build_cuckoo(urls, cfg)
        to_delete = urls.limit(50).withColumn("op", F.lit("del"))
        updated = seen_ops.cuckoo_update(blobs, to_delete, cfg)
        probe_deleted = seen_ops.cuckoo_maybe_seen(
            urls.limit(50), updated, cfg)
        # deletions must take effect (cuckoo guarantee, bloom cannot do this)
        assert probe_deleted.filter(F.col("maybe_seen")).count() == 0
        rest = _urls(spark, 200).subtract(urls.limit(50))
        probe_rest = seen_ops.cuckoo_maybe_seen(rest, updated, cfg)
        assert probe_rest.filter(~F.col("maybe_seen")).count() == 0

    def test_update_keeps_every_blob_row(self, spark, cfg):
        """A partition with several blob rows (unioned builds) keeps all
        of them through an update: the probe ORs over the rows, so a
        dropped row would turn its URLs into silent false negatives."""
        a = _urls(spark, 200, prefix="a")
        b = _urls(spark, 200, prefix="b")
        c = _urls(spark, 50, prefix="c")
        blobs = seen_ops.build_cuckoo(a, cfg).unionByName(
            seen_ops.build_cuckoo(b, cfg))
        updated = seen_ops.cuckoo_update(
            blobs, c.withColumn("op", F.lit("add")), cfg)
        everything = a.unionByName(b).unionByName(c)
        probed = seen_ops.cuckoo_maybe_seen(everything, updated, cfg)
        assert probed.filter(~F.col("maybe_seen")).count() == 0

        gone = b.orderBy("canonical_url").limit(1)
        after = seen_ops.cuckoo_update(
            updated, gone.withColumn("op", F.lit("del")), cfg)
        rest = everything.subtract(gone)
        assert rest.count() == 449
        probed = seen_ops.cuckoo_maybe_seen(rest, after, cfg)
        assert probed.filter(~F.col("maybe_seen")).count() == 0
        probed_gone = seen_ops.cuckoo_maybe_seen(gone, after, cfg)
        assert probed_gone.filter(F.col("maybe_seen")).count() == 0

    def test_overfull_table_raises(self, spark):
        """400 URLs into one 16-bucket (64-slot) partition cannot fit: the
        failed insert must raise, not evict a stored fingerprint."""
        tiny = CrawlConfig(region="r", bloom_expected=16, seen_partitions=1)
        urls = _urls(spark, 400)
        with pytest.raises(Exception, match="bloom_expected=16"):
            seen_ops.build_cuckoo(urls, tiny).collect()
        empty = spark.createDataFrame([], seen_ops.CUCKOO_SCHEMA)
        with pytest.raises(Exception, match="bloom_expected=16"):
            seen_ops.cuckoo_update(
                empty, urls.withColumn("op", F.lit("add")), tiny).collect()

    def test_unknown_op_raises(self, spark, cfg):
        """A mistyped deletion must fail, not insert the URL."""
        urls = _urls(spark, 50)
        blobs = seen_ops.build_cuckoo(urls, cfg)
        typo = _urls(spark, 5, prefix="x").withColumn("op", F.lit("delete"))
        with pytest.raises(Exception, match="op 'delete' is neither"):
            seen_ops.cuckoo_update(blobs, typo, cfg).collect()


class TestParameterMismatch:
    """OR-merging blobs built with different (m_bits, k_hashes) would
    produce false NEGATIVES (re-admitting seen URLs) — every merge/probe
    path must refuse instead of silently keeping one side's parameters."""

    def _mismatched(self, spark, cfg):
        urls = _urls(spark, 200)
        a = seen_ops.build_bloom(urls, cfg)
        other = CrawlConfig(region="r", bloom_expected=500, bloom_fpp=0.05,
                            seen_partitions=cfg.seen_partitions)
        b = seen_ops.build_bloom(urls, other)
        return a, b

    def test_cogroup_merge_raises(self, spark, cfg):
        _, b = self._mismatched(spark, cfg)
        with pytest.raises(Exception, match="m_bits, k_hashes"):
            seen_ops.merge_blooms(b, _urls(spark, 200), cfg).collect()

    def test_broadcast_probe_raises(self, spark, cfg):
        a, b = self._mismatched(spark, cfg)
        blobs = a.collect() + b.collect()
        with pytest.raises(ValueError, match="m_bits, k_hashes"):
            seen_ops.bloom_maybe_seen_broadcast(_urls(spark, 10), blobs, cfg)

    def test_cogroup_probe_raises(self, spark, cfg):
        a, b = self._mismatched(spark, cfg)
        with pytest.raises(Exception, match="m_bits, k_hashes"):
            seen_ops.bloom_maybe_seen(_urls(spark, 10),
                                      a.unionByName(b), cfg).collect()

    def test_metadata_sizing_skips_driver_jobs(self, spark, cfg):
        """maybe_seen_auto with a known size must not touch the blooms
        DataFrame for sizing (first()/count() were per-round driver jobs
        in r2) — only the collect() that feeds the broadcast itself."""
        urls = _urls(spark, 100)
        blooms = seen_ops.build_bloom(urls, cfg)
        calls = []
        orig_first, orig_count = type(blooms).first, type(blooms).count
        try:
            type(blooms).first = lambda self, *a, **k: calls.append("first")
            type(blooms).count = lambda self, *a, **k: calls.append("count")
            out = seen_ops.maybe_seen_auto(
                urls, blooms, cfg,
                size_bytes=seen_ops.bloom_size_bytes(cfg))
        finally:
            type(blooms).first = orig_first
            type(blooms).count = orig_count
        assert calls == []
        assert out.filter(~F.col("maybe_seen")).count() == 0  # no false negs


    def test_undershot_estimate_falls_back_to_cogroup(self, spark, cfg,
                                                      monkeypatch):
        """ADVICE r3: a caller-supplied size estimate that is badly wrong
        (e.g. a blooms table resumed under a different config) must not be
        broadcast — the actual collected payload is re-checked and the
        probe falls back to the cogrouped path, with identical flags."""
        urls = _urls(spark, 200)
        seen = urls.limit(60)
        blooms = seen_ops.build_bloom(seen, cfg)
        expected = sorted(
            r.canonical_url for r in seen_ops.maybe_seen_auto(
                urls, blooms, cfg).filter("maybe_seen").collect())
        # force: estimate passes the gate, actual payload exceeds it
        monkeypatch.setattr(seen_ops, "BLOOM_BROADCAST_MAX_BYTES", 64)
        broadcast_calls = []
        orig = seen_ops.bloom_maybe_seen_broadcast
        monkeypatch.setattr(
            seen_ops, "bloom_maybe_seen_broadcast",
            lambda *a, **k: broadcast_calls.append(1) or orig(*a, **k))
        out = seen_ops.maybe_seen_auto(urls, blooms, cfg, size_bytes=1)
        got = sorted(r.canonical_url
                     for r in out.filter("maybe_seen").collect())
        assert broadcast_calls == []  # guard rejected the undershot estimate
        assert got == expected


class TestCuckooFilterUnseen:
    def test_equals_exact_anti_join(self, spark, cfg):
        frontier = _urls(spark, 300)
        seen = _urls(spark, 120)
        blobs = seen_ops.build_cuckoo(seen, cfg)
        got = sorted(r.canonical_url for r in seen_ops.filter_unseen_cuckoo(
            frontier, seen, blobs, cfg).collect())
        exp = sorted(r.canonical_url for r in seen_ops.anti_join_seen_exact(
            frontier, seen).collect())
        assert got == exp
