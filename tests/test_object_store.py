"""Object-store source: paged listing (S3) + production fetch stage (S4).

The store is the filesystem stand-in for S3; these tests drive the exact
reference listing/fetch contracts through it:

- keyset pagination by ``max_keys`` (AmazonS3Client.java:139-147) — pages
  are ≤ max_keys and the concatenation of pages is the full ascending-key
  listing regardless of page size (pagination invariance,
  AmazonS3ClientTest.java:187-201);
- getObject + NoSuchKey → E2 failure routing
  (AmazonS3DataStore.java:279-284);
- fetched-mode round through ``object_store_root`` ≡ the payload-table
  join — same stored/discarded/failed partitions, same contents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.plans.crawl import CrawlDriver
from fess_ds_s3_spark.sources.object_store import (FsObjectStore,
                                                   NoSuchKeyError,
                                                   fetch_objects,
                                                   list_objects_df)

REGION = "us-east-1"


@pytest.fixture()
def store(tmp_path):
    st = FsObjectStore(str(tmp_path / "store"))
    for b in ("fess-0", "fess-1"):
        for i in range(5):
            body = f"body-{b}-{i}".encode()
            ctype = "text/plain" if i % 2 == 0 else "text/html"
            st.put_object(b, f"files/doc-{i}.txt", body, content_type=ctype)
    return st


class TestFsObjectStore:
    def test_get_roundtrip_and_content_type(self, store):
        data, ctype = store.get_object("fess-0", "files/doc-0.txt")
        assert data == b"body-fess-0-0" and ctype == "text/plain"

    def test_missing_key_raises(self, store):
        with pytest.raises(NoSuchKeyError):
            store.get_object("fess-0", "files/nope.txt")

    def test_default_content_type(self, tmp_path):
        st = FsObjectStore(str(tmp_path / "s2"))
        st.put_object("b", "k", b"x")  # no Content-Type on upload
        assert st.get_object("b", "k")[1] == "application/octet-stream"

    def test_listing_pages_by_max_keys(self, store):
        entries, nxt = store.list_objects("fess-0", max_keys=2)
        assert [e["key"] for e in entries] == ["files/doc-0.txt",
                                               "files/doc-1.txt"]
        assert nxt == "files/doc-1.txt"
        entries2, nxt2 = store.list_objects("fess-0", start_after=nxt,
                                            max_keys=2)
        assert [e["key"] for e in entries2] == ["files/doc-2.txt",
                                                "files/doc-3.txt"]
        entries3, nxt3 = store.list_objects("fess-0", start_after=nxt2,
                                            max_keys=2)
        assert [e["key"] for e in entries3] == ["files/doc-4.txt"]
        assert nxt3 is None  # exhausted

    def test_sidecars_invisible_and_metadata(self, store):
        entries, _ = store.list_objects("fess-1", max_keys=1000)
        assert len(entries) == 5
        assert all(not e["key"].endswith(".json") for e in entries)
        assert entries[0]["size"] == len(b"body-fess-1-0")
        import hashlib
        assert entries[0]["etag"] == hashlib.md5(b"body-fess-1-0").hexdigest()

    def test_prefix_filter(self, store):
        store.put_object("fess-0", "other/x.bin", b"zz")
        entries, _ = store.list_objects("fess-0", prefix="files/",
                                        max_keys=1000)
        assert len(entries) == 5


class TestListingDF:
    def test_pagination_invariance(self, spark, store):
        """max_keys is LIVE (drives the page loop) but invisible in the
        final listing — tiny pages and one huge page produce identical
        DataFrames (the reference's pagination test semantics)."""
        small = list_objects_df(
            spark, store.root, CrawlConfig(region=REGION, max_keys=2))
        big = list_objects_df(
            spark, store.root, CrawlConfig(region=REGION, max_keys=1000))
        cols = ["bucket", "key", "size", "etag"]
        assert sorted(map(tuple, small.select(*cols).collect())) == \
            sorted(map(tuple, big.select(*cols).collect()))
        assert small.count() == 10

    def test_bucket_membership_filter(self, spark, store):
        cfg = CrawlConfig(region=REGION, buckets=("fess-1",))
        out = list_objects_df(spark, store.root, cfg)
        assert {r.bucket for r in out.collect()} == {"fess-1"}

    def test_prefix_shards(self, spark, store):
        cfg = CrawlConfig(region=REGION, max_keys=3)
        out = list_objects_df(spark, store.root, cfg,
                              prefixes=["files/doc-0", "files/doc-1",
                                        "files/doc-2", "files/doc-3",
                                        "files/doc-4"])
        assert out.count() == 10  # shards partition the keyspace exactly


def _frontier_from_listing(listing):
    return (listing
            .withColumn("priority", F.lit(0))
            .withColumn("discovery_time", F.to_timestamp(F.lit("2020-01-01")))
            .withColumn("round", F.lit(0)))


class TestFetchStage:
    def test_fetch_contract_and_miss_routing(self, spark, store):
        """fetch_objects matches the fetch_payloads output contract; a
        missing key routes to E2 failed(NoSuchKeyException)."""
        from fess_ds_s3_spark.operators.extract import route_fetch_miss
        from fess_ds_s3_spark.operators.filters import with_status_columns
        cfg = CrawlConfig(region=REGION)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        ghost = frontier.limit(1).withColumn(
            "key", F.lit("files/ghost.txt"))
        admitted = round_plan.prepare_frontier(
            frontier.unionByName(ghost), cfg)
        fetched = fetch_objects(with_status_columns(admitted), store.root)
        routed = route_fetch_miss(fetched)
        rows = {(r.bucket, r.key): r for r in routed.collect()}
        ok = rows[("fess-0", "files/doc-0.txt")]
        assert bytes(ok.content) == b"body-fess-0-0"
        assert ok.resp_content_type == "text/plain"
        assert ok.status == "pending"
        miss = rows[(ghost.first().bucket, "files/ghost.txt")]
        assert miss.content is None
        assert miss.status == "failed"
        assert miss.error_name == "NoSuchKeyException"

    def test_round_store_mode_equals_payload_mode(self, spark, store):
        """One full round through object_store_root ≡ through a payload
        table built from the same store (status partitions, contents,
        sniffed mimetype)."""
        cfg = CrawlConfig(region=REGION,
                          supported_mimetypes=("text/plain",))
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)

        payload_rows = []
        for b in store.buckets():
            entries, _ = store.list_objects(b, max_keys=1000)
            for e in entries:
                data, ctype = store.get_object(b, e["key"])
                payload_rows.append((b, e["key"], data, ctype))
        payloads = spark.createDataFrame(
            payload_rows,
            "bucket string, key string, content binary, "
            "resp_content_type string")

        via_store = round_plan.run_round(frontier, cfg,
                                         object_store_root=store.root)
        via_table = round_plan.run_round(frontier, cfg, payloads=payloads)

        def snap(result):
            return sorted(
                (r.url, r.status, r.discard_reason, r.error_name,
                 r.contents, r.mimetype)
                for r in result.processed.select(
                    "url", "status", "discard_reason", "error_name",
                    "contents", "mimetype").collect())

        assert snap(via_store) == snap(via_table)
        assert via_store.stored.count() == 6   # text/plain i ∈ {0,2,4} × 2
        assert via_store.discarded.count() == 4  # text/html MIME discards

    def test_driver_multiround_store_mode_equals_payload_mode(
            self, spark, store, tmp_path):
        """CrawlDriver fetched-mode crawl through the production fetch
        stage commits the same sinks as the payload-table mode."""
        cfg = CrawlConfig(region=REGION, default_host_budget=3,
                          bloom_expected=10_000, seen_partitions=4)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        payload_rows = []
        for b in store.buckets():
            entries, _ = store.list_objects(b, max_keys=1000)
            for e in entries:
                data, ctype = store.get_object(b, e["key"])
                payload_rows.append((b, e["key"], data, ctype))
        payloads = spark.createDataFrame(
            payload_rows,
            "bucket string, key string, content binary, "
            "resp_content_type string")

        d_store = CrawlDriver(spark, str(tmp_path / "ws"), cfg,
                              object_store_root=store.root)
        d_store.seed(frontier)
        s_store = d_store.run(3)

        d_table = CrawlDriver(spark, str(tmp_path / "wt"), cfg)
        d_table.seed(frontier)
        s_table = d_table.run(3, payloads=payloads)

        assert [(s.admitted, s.stored, s.failed) for s in s_store] == \
            [(s.admitted, s.stored, s.failed) for s in s_table]
        get = lambda d: sorted(
            (r.url, r.contents) for r in
            d.read_committed("indexed").select("url", "contents").collect())
        assert get(d_store) == get(d_table)


class TestRobotsFromStore:
    def test_driver_autofetches_robots_in_store_mode(self, spark, store,
                                                     tmp_path):
        """respect_robots + object_store_root: the driver fetches each
        bucket's robots.txt object itself — no install_robots call — and
        the rules route E1 discards; buckets without robots.txt allow
        everything."""
        store.put_object("fess-0", "robots.txt",
                         b"User-agent: *\nDisallow: /files/doc-1\n")
        cfg = CrawlConfig(region=REGION, respect_robots=True,
                          bloom_expected=1000, seen_partitions=4)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        driver = CrawlDriver(spark, str(tmp_path / "wh"), cfg,
                             object_store_root=store.root)
        driver.seed(frontier)
        summary = driver.run_round(0)
        # fess-0/files/doc-1.txt disallowed → discarded; fess-1 untouched;
        # the robots.txt object itself is a listable object (stored)
        assert summary.discarded == 1
        stored_urls = {r.url for r in
                       driver.read_committed("indexed").collect()}
        assert not any("fess-0" in u and "doc-1" in u for u in stored_urls)
        assert any("fess-1" in u and "doc-1" in u for u in stored_urls)
        # bodies cached in the robots snapshot table for later rounds
        assert driver.robots.exists()
        assert driver.robots.read().count() == 1


class TestEndpointOverride:
    def test_robots_hosts_match_endpoint_frontier_urls(self, spark,
                                                       tmp_path):
        """With an endpoint override, fetch_robots_bodies must emit the
        same virtual-hosted hosts the frontier URLs carry, or the
        broadcast join silently matches nothing."""
        from fess_ds_s3_spark.sources.object_store import fetch_robots_bodies
        st = FsObjectStore(str(tmp_path / "es"))
        st.put_object("b1", "robots.txt", b"User-agent: *\nDisallow: /x\n")
        st.put_object("b1", "k.txt", b"data")
        cfg = CrawlConfig(region="us-east-1",
                          endpoint="http://minio.local:9000")
        bodies = fetch_robots_bodies(spark, st.root, cfg)
        hosts = {r.host for r in bodies.collect()}
        # port-less, like parse_url(url, 'HOST') — the join key everywhere
        assert hosts == {"b1.minio.local"}
        from fess_ds_s3_spark.plans.round import prepare_frontier
        listing = list_objects_df(spark, st.root, cfg)
        frontier = prepare_frontier(_frontier_from_listing(listing), cfg)
        f_hosts = {r.host for r in frontier.select("host").collect()}
        assert hosts <= f_hosts


class TestStoreSpecs:
    def test_as_store_spec_normalization(self, tmp_path):
        from fess_ds_s3_spark.sources.object_store import (FsStoreSpec,
                                                           as_store_spec)
        spec = as_store_spec(str(tmp_path))
        assert isinstance(spec, FsStoreSpec)
        assert as_store_spec(spec) is spec
        with pytest.raises(TypeError):
            as_store_spec(42)

    def test_specs_are_picklable(self, tmp_path):
        import pickle
        from fess_ds_s3_spark.sources.object_store import (FsStoreSpec,
                                                           S3StoreSpec)
        from tests.store_fixtures import LatencyFsStoreSpec
        for spec in (FsStoreSpec(str(tmp_path)),
                     LatencyFsStoreSpec(str(tmp_path), 0.01),
                     S3StoreSpec(region=REGION, endpoint="http://m:9000")):
            assert pickle.loads(pickle.dumps(spec)) == spec

    def test_latency_spec_round_equals_fs_spec(self, spark, store):
        """The latency test double is output-transparent: a round through
        LatencyFsStoreSpec produces exactly the FsStoreSpec rows."""
        from tests.store_fixtures import LatencyFsStoreSpec
        cfg = CrawlConfig(region=REGION)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        plain = round_plan.run_round(frontier, cfg,
                                     object_store_root=store.root)
        lat = round_plan.run_round(
            frontier, cfg,
            object_store_root=LatencyFsStoreSpec(store.root, 0.001))
        cols = ["url", "status", "contents", "mimetype"]
        assert sorted(map(tuple, plain.processed.select(*cols).collect())) \
            == sorted(map(tuple, lat.processed.select(*cols).collect()))


class TestFetchConcurrency:
    def _admitted(self, spark, store, n_rows):
        from fess_ds_s3_spark.operators.filters import with_status_columns
        cfg = CrawlConfig(region=REGION)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        # replicate rows so one task holds n_rows GETs
        reps = spark.range(n_rows // 10 + 1).select(
            F.col("id").alias("rep"))
        many = (round_plan.prepare_frontier(frontier, cfg)
                .crossJoin(reps).limit(n_rows).repartition(1))
        return with_status_columns(many)

    def test_pool_overlaps_get_latency(self, spark, store):
        """Against a 100 ms/GET store, a 32-thread pool gives ≥8× per-task
        speedup over the serial loop (the reference's fixedThreadPool
        intent, AmazonS3DataStore.java:421-427) with identical outputs."""
        import time as _t
        from tests.store_fixtures import LatencyFsStoreSpec
        admitted = self._admitted(spark, store, 96).persist()
        admitted.count()
        spec = LatencyFsStoreSpec(store.root, 0.1)
        t0 = _t.time()
        serial = fetch_objects(admitted, spec, fetch_concurrency=1)
        serial_rows = sorted(
            (r.key, bytes(r.content) if r.content is not None else None)
            for r in serial.collect())
        serial_s = _t.time() - t0
        t0 = _t.time()
        conc = fetch_objects(admitted, spec, fetch_concurrency=32)
        conc_rows = sorted(
            (r.key, bytes(r.content) if r.content is not None else None)
            for r in conc.collect())
        conc_s = _t.time() - t0
        admitted.unpersist()
        assert conc_rows == serial_rows
        assert serial_s / conc_s >= 8, (serial_s, conc_s)

    def test_invalid_concurrency_rejected(self, spark, store):
        with pytest.raises(ValueError):
            fetch_objects(spark.range(1), store.root, fetch_concurrency=0)


class TestS3Adapter:
    """boto3 adapter driven through botocore's Stubber (no network): the
    same protocol surface as FsObjectStore — paged listing with StartAfter,
    get_object with ContentType, NoSuchKey → NoSuchKeyError."""

    def _client(self):
        import boto3
        return boto3.client("s3", region_name=REGION,
                            aws_access_key_id="k", aws_secret_access_key="s")

    def test_client_kwargs_mapping(self):
        from fess_ds_s3_spark.sources.object_store import s3_client_kwargs
        cfg = CrawlConfig(region="eu-west-1",
                          endpoint="http://minio.local:9000",
                          access_key_id="AK", secret_key="SK",
                          proxy_host="proxy", proxy_port="8080")
        kw = s3_client_kwargs(cfg)
        assert kw["region_name"] == "eu-west-1"
        assert kw["endpoint_url"] == "http://minio.local:9000"
        assert kw["aws_access_key_id"] == "AK"
        assert kw["aws_secret_access_key"] == "SK"
        assert kw["config_proxies"] == {"http": "http://proxy:8080",
                                        "https": "http://proxy:8080"}
        minimal = s3_client_kwargs(CrawlConfig(region=REGION))
        assert minimal == {"region_name": REGION}

    def test_get_object_and_nosuchkey(self):
        import io
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import S3ObjectStore
        client = self._client()
        stub = Stubber(client)
        stub.add_response(
            "get_object",
            {"Body": io.BytesIO(b"hogehoge"), "ContentType": "text/plain"},
            {"Bucket": "fess", "Key": "a.txt"})
        stub.add_client_error(
            "get_object", service_error_code="NoSuchKey",
            expected_params={"Bucket": "fess", "Key": "nope.txt"})
        store = S3ObjectStore(client)
        with stub:
            assert store.get_object("fess", "a.txt") == \
                (b"hogehoge", "text/plain")
            with pytest.raises(NoSuchKeyError):
                store.get_object("fess", "nope.txt")

    def test_listing_keyset_pagination(self):
        from datetime import datetime, timezone
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import S3ObjectStore
        ts = datetime(2020, 1, 1, tzinfo=timezone.utc)
        client = self._client()
        stub = Stubber(client)
        stub.add_response(
            "list_objects_v2",
            {"IsTruncated": True,
             "Contents": [
                 {"Key": "a", "Size": 1, "ETag": '"e1"', "LastModified": ts,
                  "StorageClass": "STANDARD"},
                 {"Key": "b", "Size": 2, "ETag": '"e2"', "LastModified": ts},
             ]},
            {"Bucket": "fess", "Prefix": "", "StartAfter": "", "MaxKeys": 2})
        stub.add_response(
            "list_objects_v2",
            {"IsTruncated": False,
             "Contents": [
                 {"Key": "c", "Size": 3, "ETag": '"e3"', "LastModified": ts},
             ]},
            {"Bucket": "fess", "Prefix": "", "StartAfter": "b", "MaxKeys": 2})
        store = S3ObjectStore(client)
        with stub:
            page1, nxt1 = store.list_objects("fess", max_keys=2)
            assert [e["key"] for e in page1] == ["a", "b"]
            assert page1[0]["etag"] == "e1"  # quotes stripped
            assert page1[1]["storage_class"] == "STANDARD"  # defaulted
            assert nxt1 == "b"
            page2, nxt2 = store.list_objects("fess", start_after=nxt1,
                                             max_keys=2)
            assert [e["key"] for e in page2] == ["c"]
            assert nxt2 is None

    def test_buckets(self):
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import S3ObjectStore
        client = self._client()
        stub = Stubber(client)
        stub.add_response("list_buckets",
                          {"Buckets": [{"Name": "zz"}, {"Name": "aa"}]}, {})
        with stub:
            assert S3ObjectStore(client).buckets() == ["aa", "zz"]

    def test_spec_from_config_validates(self):
        from fess_ds_s3_spark.sources.object_store import S3StoreSpec
        spec = S3StoreSpec.from_config(
            CrawlConfig(region=REGION, access_key_id="k", secret_key="s"))
        assert spec.region == REGION and spec.access_key_id == "k"


class TestReferenceFixtureThroughS3Adapter:
    """The reference's own integration fixture (LocalAmazonS3.java:52-64:
    buckets fess-0/fess-1 × files/sample-{0,1}.txt, bodies
    hogehoge/hugahuga) driven through the boto3 adapter — stubbed client,
    real page loop + GET mapping — then the standard round; golden
    objectMap fields per AmazonS3DataStoreTest.java:83-104."""

    FIXTURE = {("fess-%d" % b, "files/sample-%d.txt" % i):
               [b"hogehoge", b"hugahuga"][i]
               for b in (0, 1) for i in (0, 1)}

    def _stubbed_store(self):
        import io
        import boto3
        from datetime import datetime, timezone
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import S3ObjectStore
        ts = datetime(2020, 1, 1, tzinfo=timezone.utc)
        client = boto3.client("s3", region_name=REGION,
                              aws_access_key_id="k",
                              aws_secret_access_key="s")
        stub = Stubber(client)
        stub.add_response(
            "list_buckets",
            {"Buckets": [{"Name": "fess-0"}, {"Name": "fess-1"}]}, {})
        # responses queued in the crawl's exact call order: per bucket, one
        # listing page then a GET per listed key (Stubber is FIFO)
        for b in ("fess-0", "fess-1"):
            in_bucket = [(k, body) for (bb, k), body
                         in sorted(self.FIXTURE.items()) if bb == b]
            stub.add_response(
                "list_objects_v2",
                {"IsTruncated": False,
                 "Contents": [
                     {"Key": k, "Size": len(body), "ETag": f'"{k}"',
                      "LastModified": ts}
                     for k, body in in_bucket]},
                {"Bucket": b, "Prefix": "", "StartAfter": "",
                 "MaxKeys": 1000})
            for k, body in in_bucket:
                stub.add_response(
                    "get_object",
                    {"Body": io.BytesIO(body),
                     "ContentType": "application/octet-stream"},
                    {"Bucket": b, "Key": k})
        stub.activate()
        return S3ObjectStore(client)

    def test_golden_object_map_fields(self, spark):
        store = self._stubbed_store()
        cfg = CrawlConfig(region=REGION)
        # the reference crawl shape driver-side: bucket loop → page loop →
        # GET per key (AmazonS3DataStore.java:144-164), through boto3
        listing_rows, payload_rows = [], []
        for b in store.buckets():
            after = ""
            while True:
                entries, nxt = store.list_objects(b, start_after=after,
                                                  max_keys=cfg.max_keys)
                for e in entries:
                    listing_rows.append(
                        (b, e["key"], e["size"], e["etag"],
                         e["last_modified"]))
                    data, ctype = store.get_object(b, e["key"])
                    payload_rows.append((b, e["key"], data, ctype))
                if nxt is None:
                    break
                after = nxt
        assert len(listing_rows) == 4
        frontier = spark.createDataFrame(
            listing_rows,
            "bucket string, key string, size long, etag string, "
            "last_modified timestamp") \
            .withColumn("priority", F.lit(0)) \
            .withColumn("discovery_time",
                        F.to_timestamp(F.lit("2020-01-01")))
        payloads = spark.createDataFrame(
            payload_rows,
            "bucket string, key string, content binary, "
            "resp_content_type string")
        result = round_plan.run_round(frontier, cfg, payloads=payloads)
        rows = {(r.bucket_name, r.key): r for r in result.stored.collect()}
        assert len(rows) == 4
        for (b, k), body in self.FIXTURE.items():
            r = rows[(b, k)]
            # golden fields (AmazonS3DataStoreTest.java:92-98)
            assert r.url == f"https://{b}.s3.{REGION}.amazonaws.com/{k}"
            assert r.mimetype == "text/plain"   # content sniff overrides
            assert r.filetype == "txt"
            assert r.contents == body.decode()
            assert r.filename == k.rsplit("/", 1)[-1]
            assert r.management_url == (
                "https://s3.console.aws.amazon.com/s3/object/"
                f"{b}/{k}?region={REGION}")


class TestFetchConcurrencyWiring:
    def test_process_passes_number_of_threads(self, spark, store,
                                              monkeypatch):
        """plans/round.process must size the per-task GET pool from
        cfg.number_of_threads (the reference's fixedThreadPool bound)."""
        from fess_ds_s3_spark.plans import round as rp
        from fess_ds_s3_spark.sources import object_store as os_mod
        captured = {}
        orig = os_mod.fetch_objects

        def spy(admitted, root, *, fetch_concurrency=1, **kw):
            captured["fetch_concurrency"] = fetch_concurrency
            return orig(admitted, root, fetch_concurrency=fetch_concurrency,
                        **kw)

        monkeypatch.setattr(os_mod, "fetch_objects", spy)
        cfg = CrawlConfig(region=REGION, number_of_threads=7)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        rp.run_round(frontier, cfg,
                     object_store_root=store.root).processed.count()
        assert captured["fetch_concurrency"] == 7


class TestStoreErrorRouting:
    def test_per_object_store_error_becomes_failure_row(self, spark, store):
        """A GET that raises a non-NoSuchKey store error (throttle,
        permission, transient 5xx past client retries) routes that ROW to
        E2 failed under the exception's name and the crawl continues —
        the reference's per-object catch (AmazonS3DataStore.java:279-284),
        never a task failure."""
        cfg = CrawlConfig(region=REGION)
        listing = list_objects_df(spark, store.root, cfg)
        frontier = _frontier_from_listing(listing)
        from tests.store_fixtures import FaultyFsStoreSpec
        spec = FaultyFsStoreSpec(store.root, "doc-2")
        result = round_plan.run_round(frontier, cfg, object_store_root=spec)
        rows = {(r.bucket_name, r.key): r
                for r in result.processed.collect()}
        assert len(rows) == 10
        for b in ("fess-0", "fess-1"):
            bad = rows[(b, "files/doc-2.txt")]
            assert bad.status == "failed"
            assert bad.error_name == "RuntimeError"
            ok = rows[(b, "files/doc-0.txt")]
            assert ok.status == "stored"
            assert ok.contents == f"body-{b}-0"
        # stats taxonomy: store errors are crawling-access failures
        from fess_ds_s3_spark.plans.lineage import stats_events
        acts = {r.stats_key: r.action
                for r in stats_events(result.processed, 0).collect()}
        assert acts["fess-0@files/doc-2.txt"] == "ACCESS_EXCEPTION"


class TestAutoSharding:
    @pytest.fixture()
    def deep_store(self, tmp_path):
        st = FsObjectStore(str(tmp_path / "deep"))
        for lang in ("en", "es", "zh"):
            for i in range(4):
                st.put_object("b", f"docs/{lang}/f-{i}.txt", b"x")
        st.put_object("b", "README.txt", b"root-level")  # no group at all
        st.put_object("b", "docs/index.txt", b"mid-level")
        return st

    def test_common_prefixes_fs(self, deep_store):
        assert deep_store.list_common_prefixes("b") == ["docs/"]
        assert deep_store.list_common_prefixes("b", prefix="docs/") == \
            ["docs/en/", "docs/es/", "docs/zh/"]

    def test_discover_boundaries_bfs(self, deep_store):
        from fess_ds_s3_spark.sources.object_store import \
            discover_shard_boundaries
        b1 = discover_shard_boundaries(deep_store, "b", target=2)
        assert b1 == ["docs/"]
        b2 = discover_shard_boundaries(deep_store, "b", target=4)
        assert b2 == ["docs/", "docs/en/", "docs/es/", "docs/zh/"]

    def test_auto_shard_listing_complete(self, spark, deep_store):
        """Range-sharded listing ≡ the unsharded listing, INCLUDING keys
        under no discovered group (root-level and mid-level files) — the
        ranges partition the whole key space."""
        cfg = CrawlConfig(region=REGION, max_keys=3)
        plain = list_objects_df(spark, deep_store.root, cfg)
        sharded = list_objects_df(spark, deep_store.root, cfg,
                                  auto_shard_target=4)
        cols = ["bucket", "key", "size", "etag"]
        a = sorted(map(tuple, plain.select(*cols).collect()))
        b = sorted(map(tuple, sharded.select(*cols).collect()))
        assert a == b
        assert len(a) == 14
        keys = {k for _, k, _, _ in a}
        assert "README.txt" in keys and "docs/index.txt" in keys

    def test_s3_common_prefixes_paged(self):
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import S3ObjectStore
        import boto3
        client = boto3.client("s3", region_name=REGION,
                              aws_access_key_id="k",
                              aws_secret_access_key="s")
        stub = Stubber(client)
        stub.add_response(
            "list_objects_v2",
            {"IsTruncated": True, "NextContinuationToken": "tok",
             "CommonPrefixes": [{"Prefix": "a/"}, {"Prefix": "b/"}]},
            {"Bucket": "x", "Prefix": "", "Delimiter": "/"})
        stub.add_response(
            "list_objects_v2",
            {"IsTruncated": False,
             "CommonPrefixes": [{"Prefix": "c/"}]},
            {"Bucket": "x", "Prefix": "", "Delimiter": "/",
             "ContinuationToken": "tok"})
        with stub:
            assert S3ObjectStore(client).list_common_prefixes("x") == \
                ["a/", "b/", "c/"]

    def test_prefixes_and_auto_shard_mutually_exclusive(self, spark,
                                                        deep_store):
        with pytest.raises(ValueError):
            list_objects_df(spark, deep_store.root,
                            CrawlConfig(region=REGION),
                            prefixes=["a"], auto_shard_target=2)


class TestConditionalFetch:
    """if_none_match_col: conditional GETs skip unchanged bodies (304)."""

    def _admitted(self, spark, store, etag_fn):
        import hashlib
        rows = []
        for b in ("fess-0", "fess-1"):
            for i in range(5):
                body = f"body-{b}-{i}".encode()
                rows.append((b, f"files/doc-{i}.txt",
                             etag_fn(hashlib.md5(body).hexdigest(), i)))
        return spark.createDataFrame(
            rows, "bucket string, key string, prior string")

    def test_matching_etag_is_not_modified_no_body(self, spark, store):
        adm = self._admitted(spark, store,
                             lambda etag, i: etag if i % 2 == 0 else "stale")
        out = fetch_objects(adm, store.root,
                            if_none_match_col="prior").collect()
        by_key = {(r["bucket"], r["key"]): r for r in out}
        for (b, k), r in by_key.items():
            i = int(k[-5])
            if i % 2 == 0:
                assert r["_not_modified"] and r["_fetched"]
                assert r["content"] is None
            else:
                assert r["_not_modified"] is False
                assert bytes(r["content"]) == f"body-{b}-{i}".encode()

    def test_null_or_empty_prior_fetches_unconditionally(self, spark, store):
        adm = self._admitted(spark, store,
                             lambda etag, i: None if i % 2 else "")
        out = fetch_objects(adm, store.root,
                            if_none_match_col="prior").collect()
        assert all(r["_fetched"] and not r["_not_modified"]
                   and r["content"] is not None for r in out)

    def test_column_absent_without_feature(self, spark, store):
        adm = self._admitted(spark, store, lambda etag, i: etag)
        plain = fetch_objects(adm.drop("prior"), store.root)
        assert "_not_modified" not in plain.columns

    def test_missing_if_none_match_col_rejected(self, spark, store):
        adm = self._admitted(spark, store, lambda etag, i: etag)
        with pytest.raises(ValueError):
            fetch_objects(adm, store.root, if_none_match_col="nope")

    def test_s3_adapter_304_maps_to_not_modified(self):
        from botocore.stub import Stubber
        from fess_ds_s3_spark.sources.object_store import (NotModifiedError,
                                                           S3ObjectStore)
        import boto3
        client = boto3.client("s3", region_name=REGION,
                              aws_access_key_id="k",
                              aws_secret_access_key="s")
        stub = Stubber(client)
        stub.add_client_error(
            "get_object", service_error_code="304",
            http_status_code=304,
            expected_params={"Bucket": "fess", "Key": "a.txt",
                             "IfNoneMatch": '"abc"'})
        with stub:
            with pytest.raises(NotModifiedError):
                # unquoted caller etag gets the S3 quoting added
                S3ObjectStore(client).get_object("fess", "a.txt",
                                                 if_none_match="abc")


class TestFetchRetry:
    """The fetch stage has no retry loop of its own: the store client
    retries transient errors underneath, and one GET per row goes out."""

    def test_retry_with_pool_and_conditional(self, spark, store):
        import hashlib
        rows = []
        for b in ("fess-0", "fess-1"):
            for i in range(5):
                etag = hashlib.md5(f"body-{b}-{i}".encode()).hexdigest()
                rows.append((b, f"files/doc-{i}.txt",
                             etag if i % 2 == 0 else "stale"))
        adm = spark.createDataFrame(
            rows, "bucket string, key string, prior string").coalesce(1)
        out = fetch_objects(adm, store.root, fetch_concurrency=4,
                            if_none_match_col="prior").collect()
        for r in out:
            i = int(r["key"][-5])
            assert r["_not_modified"] == (i % 2 == 0)
            assert r["_fetch_error"] is None
