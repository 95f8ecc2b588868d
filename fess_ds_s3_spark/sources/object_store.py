"""Object-store source: distributed listing + batched-GET fetch stage.

The production shape of the reference's two S3 calls:

- **listing** (S3, ``AmazonS3Client.java:137-148``): ``listObjectsV2`` pages
  of ≤ ``max_keys`` keys, keyset-paginated with ``startAfter = lastKey``
  until exhaustion. Here: :func:`list_objects_df` fans the listing out as
  one task per (bucket, prefix) shard via ``mapInPandas``; each task runs
  the same page loop against the store. ``cfg.max_keys`` is consumed in its
  TRUE reference role — the listing page size — not as a crawl cap.
- **fetch** (S4, ``AmazonS3Client.java:150-152``): ``getObject`` per key.
  Here: :func:`fetch_objects` issues the GETs from inside ``mapInPandas``,
  one Arrow batch of admitted rows at a time — the stage a real deployment
  runs against an object store, with the same output contract as the
  payload-table join (``operators.extract.fetch_payloads``): ``content``,
  ``resp_content_type``, ``_fetched``; a missing key leaves ``_fetched``
  null and routes to E2 via ``route_fetch_miss``
  (NoSuchKeyException, ``AmazonS3DataStore.java:279-284``). The stage has
  no retry loop of its own: the client retries throttles and 5xx
  underneath, and an error it still raises routes the row to E2 under the
  exception name. Crawl rounds GET conditionally (``IfNoneMatch``)
  whenever their frontier carries the prior ETag as ``prev_etag``.
- **robots.txt**: :func:`fetch_robots_bodies` GETs each bucket's robots
  object in one driver-side loop. Hosts are buckets here, and the table is
  fetched once per crawl.

The store is **pluggable**: every Spark-side operator takes a
:class:`StoreSpec` — a small picklable description that each task
``connect()``s into a client implementing the two-method ``ObjectStore``
protocol (``get_object`` / ``list_objects`` [+ ``buckets``]). Shipped specs:

- :class:`FsStoreSpec` → :class:`FsObjectStore`, the local-filesystem
  stand-in (directory layout ``root/bucket/key`` + content-type sidecar)
  used by tests/fixtures in this network-less sandbox;
- :class:`CountingFsStoreSpec` → the same store logging every GET, the
  evidence double for fetch-avoidance features;
- :class:`S3StoreSpec` → :class:`S3ObjectStore`, the boto3 client built
  from the reference's validated parameter surface (region / endpoint /
  credentials / proxy, ``AmazonS3Client.java:67-114``). Tested against
  ``botocore.stub.Stubber`` (no network here); on a real deployment this is
  the production client for S3/MinIO.

Scale notes: listing parallelism = number of (bucket, prefix) shards — at
10^10 keys, shard by prefix (e.g. 256 hex prefixes per bucket) so no single
task pages a whole bucket. Fetch parallelism = partitioning of the admitted
batch (see plans/round.process: ``number_of_threads`` is a floor) × a
bounded per-task GET thread pool (``fetch_concurrency`` — the X1 analog of
the reference's ``fixedThreadPool(number_of_threads)``,
``AmazonS3DataStore.java:173-174,421-427``: against a ~50 ms/GET store a
serial task fetches ~20 objects/s; the pool overlaps that latency). Content
bytes never pass through the driver in either stage.
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Iterator, Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, BooleanType, LongType, StringType,
                               StructField, StructType, TimestampType)

from fess_ds_s3_spark.config import CrawlConfig

#: S3's default when no Content-Type was set on upload
DEFAULT_CONTENT_TYPE = "application/octet-stream"

_META_SUFFIX = ".#meta.json"


class NoSuchKeyError(KeyError):
    """Missing object (analog of S3 NoSuchKeyException)."""


class NotModifiedError(Exception):
    """Conditional GET matched ``if_none_match`` (analog of S3/HTTP 304:
    the object's ETag equals the caller's — no body transferred)."""


class FsObjectStore:
    """Local-filesystem object store: ``root/bucket/key`` (+ sidecar meta).

    Keys may contain ``/`` (mapped to directories). A sidecar file
    ``<key>.#meta.json`` holds the Content-Type; sidecars are invisible to
    listing and GET.
    """

    def __init__(self, root: str):
        self.root = root

    # ----- paths ------------------------------------------------------------

    def _bucket_dir(self, bucket: str) -> str:
        return os.path.join(self.root, bucket)

    def _object_path(self, bucket: str, key: str) -> str:
        if ".." in key.split("/"):
            raise ValueError(f"invalid key: {key!r}")
        return os.path.join(self._bucket_dir(bucket), *key.split("/"))

    # ----- write (fixture setup) -------------------------------------------

    def put_object(self, bucket: str, key: str, content: bytes,
                   content_type: str | None = None) -> None:
        path = self._object_path(bucket, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(content)
        if content_type is not None:
            with open(path + _META_SUFFIX, "w") as fh:
                json.dump({"content_type": content_type}, fh)

    # ----- read -------------------------------------------------------------

    def get_object(self, bucket: str, key: str, *,
                   if_none_match: str | None = None) -> tuple[bytes, str]:
        """GET: (content bytes, content type). Raises NoSuchKeyError on a
        missing key; with ``if_none_match`` set, raises NotModifiedError
        when the object's ETag (md5, matching the listing's) equals it —
        the S3 conditional-GET contract, no body read."""
        path = self._object_path(bucket, key)
        if not os.path.isfile(path):
            raise NoSuchKeyError(f"{bucket}/{key}")
        with open(path, "rb") as fh:
            data = fh.read()
        if (if_none_match is not None
                and hashlib.md5(data).hexdigest() == if_none_match):
            raise NotModifiedError(f"{bucket}/{key}")
        ctype = DEFAULT_CONTENT_TYPE
        if os.path.isfile(path + _META_SUFFIX):
            with open(path + _META_SUFFIX) as fh:
                ctype = json.load(fh).get("content_type", ctype)
        return data, ctype

    def buckets(self) -> list[str]:
        """All bucket names (getBuckets, AmazonS3Client.java:124-132)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(e for e in os.listdir(self.root)
                      if os.path.isdir(os.path.join(self.root, e)))

    def _all_keys(self, bucket: str) -> list[str]:
        """Every key in the bucket, ascending UTF-8 binary order (S3's
        listing collation)."""
        base = self._bucket_dir(bucket)
        keys = []
        for dirpath, _dirs, files in os.walk(base):
            for name in files:
                if name.endswith(_META_SUFFIX):
                    continue
                full = os.path.join(dirpath, name)
                keys.append(os.path.relpath(full, base).replace(os.sep, "/"))
        keys.sort(key=lambda k: k.encode("utf-8"))
        return keys

    def list_objects(self, bucket: str, prefix: str = "",
                     start_after: str = "",
                     max_keys: int = 1000) -> tuple[list[dict], str | None]:
        """One listing page: ≤ ``max_keys`` entries after ``start_after``;
        returns ``(entries, next_start_after)`` with ``None`` when the
        listing is exhausted — the keyset-pagination contract of
        listObjectsV2 (AmazonS3Client.java:139-147)."""
        matched = [k for k in self._all_keys(bucket)
                   if k.startswith(prefix)
                   and k.encode("utf-8") > start_after.encode("utf-8")]
        page = matched[:max_keys]
        entries = []
        for key in page:
            path = self._object_path(bucket, key)
            with open(path, "rb") as fh:
                data = fh.read()
            entries.append({
                "key": key,
                "size": len(data),
                "etag": hashlib.md5(data).hexdigest(),
                "last_modified": datetime.fromtimestamp(
                    int(os.path.getmtime(path)), tz=timezone.utc),
                "storage_class": "STANDARD",
            })
        next_after = page[-1] if len(matched) > max_keys else None
        return entries, next_after

    def list_common_prefixes(self, bucket: str, prefix: str = "",
                             delimiter: str = "/") -> list[str]:
        """Distinct ``prefix + <segment up to and including delimiter>``
        groups under ``prefix`` — the CommonPrefixes facet of a delimited
        listing (listObjectsV2 Delimiter semantics). Keys with no delimiter
        after the prefix contribute no group."""
        seen: set[str] = set()
        for key in self._all_keys(bucket):
            if not key.startswith(prefix):
                continue
            rest = key[len(prefix):]
            idx = rest.find(delimiter)
            if idx >= 0:
                seen.add(prefix + rest[:idx + len(delimiter)])
        return sorted(seen)


# ---------------------------------------------------------------------------
# Store protocol + picklable specs (the pluggable-client seam)
# ---------------------------------------------------------------------------

class ObjectStore(Protocol):
    """The two-method client surface every Spark-side operator consumes
    (the engine's analog of the reference's AmazonS3Client wrapper,
    AmazonS3Client.java:124-152)."""

    def get_object(self, bucket: str, key: str, *,
                   if_none_match: str | None = None) -> tuple[bytes, str]: ...

    def list_objects(self, bucket: str, prefix: str = "",
                     start_after: str = "",
                     max_keys: int = 1000) -> tuple[list[dict], str | None]: ...

    def list_common_prefixes(self, bucket: str, prefix: str = "",
                             delimiter: str = "/") -> list[str]: ...


class StoreSpec(Protocol):
    """Picklable store description; each Spark task ``connect()``s its own
    client (clients hold sockets/file handles and must not cross the
    driver→executor pickle boundary)."""

    def connect(self) -> ObjectStore: ...


@dataclass(frozen=True)
class FsStoreSpec:
    """Local-filesystem store (the sandbox stand-in)."""
    root: str

    def connect(self) -> "FsObjectStore":
        return FsObjectStore(self.root)


class _CountingStore:
    """Append one line per GET to a shared log file — lets a test count
    exactly how many GETs reached the store across all tasks (local-mode
    tasks share the filesystem; O_APPEND keeps small writes atomic)."""

    def __init__(self, inner, log_path: str):
        self._inner = inner
        self._log_path = log_path

    def get_object(self, bucket: str, key: str, **kw) -> tuple[bytes, str]:
        with open(self._log_path, "a") as fh:
            fh.write(f"{bucket}/{key}\n")
        return self._inner.get_object(bucket, key, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


@dataclass(frozen=True)
class CountingFsStoreSpec:
    """FsObjectStore that logs every GET to ``log_path`` — the evidence
    double for fetch-avoidance features such as conditional GETs: count
    the log's lines to know how many GETs the crawl actually issued."""
    root: str
    log_path: str

    def connect(self) -> _CountingStore:
        return _CountingStore(FsObjectStore(self.root), self.log_path)


def s3_client_kwargs(cfg: CrawlConfig) -> dict[str, Any]:
    """boto3 ``client('s3', ...)`` kwargs from the validated reference
    parameter surface (AmazonS3Client.java:67-114: region, endpoint
    override, basic credentials, HTTP proxy). Pure function so the mapping
    is testable without constructing a client."""
    kwargs: dict[str, Any] = {"region_name": cfg.region}
    if cfg.endpoint:
        kwargs["endpoint_url"] = cfg.endpoint
    if cfg.access_key_id and cfg.secret_key:
        kwargs["aws_access_key_id"] = cfg.access_key_id
        kwargs["aws_secret_access_key"] = cfg.secret_key
    if cfg.proxy_host:
        proxy = f"http://{cfg.proxy_host}:{int(str(cfg.proxy_port))}"
        kwargs["config_proxies"] = {"http": proxy, "https": proxy}
    return kwargs


class S3ObjectStore:
    """boto3-backed production client implementing the ObjectStore protocol.

    Same method shapes as :class:`FsObjectStore`, so every operator
    (listing page loop, batched fetch, robots fetch) is client-agnostic:

    - ``list_objects`` → ``list_objects_v2`` with ``StartAfter`` keyset
      pagination (AmazonS3Client.java:137-148); ``next_start_after`` is the
      page's last key while the listing is truncated, else None.
    - ``get_object`` → ``get_object``; a ``NoSuchKey`` client error maps to
      :class:`NoSuchKeyError` so E2 routing (AmazonS3DataStore.java:279-284)
      is store-independent.

    boto3 clients are thread-safe, so one client serves the whole per-task
    GET pool.
    """

    def __init__(self, client):
        self._client = client

    @classmethod
    def from_config(cls, cfg: CrawlConfig) -> "S3ObjectStore":
        import boto3
        from botocore.config import Config as BotoConfig
        kwargs = s3_client_kwargs(cfg)
        proxies = kwargs.pop("config_proxies", None)
        if proxies:
            kwargs["config"] = BotoConfig(proxies=proxies)
        return cls(boto3.client("s3", **kwargs))

    def get_object(self, bucket: str, key: str, *,
                   if_none_match: str | None = None) -> tuple[bytes, str]:
        from botocore.exceptions import ClientError
        kwargs: dict[str, Any] = {"Bucket": bucket, "Key": key}
        if if_none_match is not None:
            # S3 quotes listing ETags; accept either form from the caller
            kwargs["IfNoneMatch"] = (if_none_match
                                     if if_none_match.startswith('"')
                                     else f'"{if_none_match}"')
        try:
            resp = self._client.get_object(**kwargs)
        except ClientError as exc:
            code = exc.response.get("Error", {}).get("Code")
            if code in ("NoSuchKey", "404"):
                raise NoSuchKeyError(f"{bucket}/{key}") from exc
            if code in ("304", "NotModified"):
                raise NotModifiedError(f"{bucket}/{key}") from exc
            raise
        body = resp["Body"].read()
        return body, resp.get("ContentType") or DEFAULT_CONTENT_TYPE

    def buckets(self) -> list[str]:
        resp = self._client.list_buckets()
        return sorted(b["Name"] for b in resp.get("Buckets", []))

    def list_objects(self, bucket: str, prefix: str = "",
                     start_after: str = "",
                     max_keys: int = 1000) -> tuple[list[dict], str | None]:
        resp = self._client.list_objects_v2(
            Bucket=bucket, Prefix=prefix, StartAfter=start_after,
            MaxKeys=max_keys)
        entries = [{
            "key": obj["Key"],
            "size": int(obj["Size"]),
            "etag": obj.get("ETag", "").strip('"'),
            "last_modified": obj["LastModified"],
            "storage_class": obj.get("StorageClass", "STANDARD"),
        } for obj in resp.get("Contents", [])]
        next_after = (entries[-1]["key"]
                      if resp.get("IsTruncated") and entries else None)
        return entries, next_after

    def list_common_prefixes(self, bucket: str, prefix: str = "",
                             delimiter: str = "/") -> list[str]:
        """CommonPrefixes via delimited listObjectsV2, paged to exhaustion
        (ContinuationToken) — one group per first-level 'directory'."""
        prefixes: list[str] = []
        kwargs: dict[str, Any] = {"Bucket": bucket, "Prefix": prefix,
                                  "Delimiter": delimiter}
        while True:
            resp = self._client.list_objects_v2(**kwargs)
            prefixes.extend(p["Prefix"]
                            for p in resp.get("CommonPrefixes", []))
            token = resp.get("NextContinuationToken")
            if not resp.get("IsTruncated") or not token:
                break
            kwargs["ContinuationToken"] = token
        return sorted(set(prefixes))


@dataclass(frozen=True)
class S3StoreSpec:
    """Picklable S3 client description (region/endpoint/credentials/proxy —
    the validated S8 surface). NOTE: credentials ride the task-pickle like
    any Spark closure variable; on a real cluster prefer instance-profile /
    env credentials and leave them None here."""
    region: str
    endpoint: str | None = None
    access_key_id: str | None = None
    secret_key: str | None = None
    proxy_host: str | None = None
    proxy_port: str | None = None

    @classmethod
    def from_config(cls, cfg: CrawlConfig) -> "S3StoreSpec":
        from fess_ds_s3_spark.session import validate_client_params
        validate_client_params(cfg, require_credentials=False)
        return cls(region=cfg.region, endpoint=cfg.endpoint,
                   access_key_id=cfg.access_key_id, secret_key=cfg.secret_key,
                   proxy_host=cfg.proxy_host, proxy_port=cfg.proxy_port)

    def _cfg(self) -> CrawlConfig:
        return CrawlConfig(region=self.region, endpoint=self.endpoint,
                           access_key_id=self.access_key_id,
                           secret_key=self.secret_key,
                           proxy_host=self.proxy_host,
                           proxy_port=self.proxy_port)

    def connect(self) -> S3ObjectStore:
        return S3ObjectStore.from_config(self._cfg())


def as_store_spec(store: "str | StoreSpec") -> "StoreSpec":
    """Normalize the operator-facing store argument: a plain string is the
    FsObjectStore root (backward-compatible), anything else must already be
    a StoreSpec."""
    if isinstance(store, str):
        return FsStoreSpec(store)
    if not hasattr(store, "connect"):
        raise TypeError(f"not a store root or StoreSpec: {store!r}")
    return store


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

LISTING_SCHEMA = StructType([
    StructField("bucket", StringType(), False),
    StructField("key", StringType(), False),
    StructField("size", LongType(), False),
    StructField("etag", StringType(), False),
    StructField("last_modified", TimestampType(), False),
    StructField("storage_class", StringType(), False),
])


def discover_shard_boundaries(store: "ObjectStore", bucket: str,
                              target: int, *, delimiter: str = "/",
                              max_depth: int = 3) -> list[str]:
    """Discover ≈``target`` keyspace split points for one bucket from its
    CommonPrefixes (delimited listing), breadth-first up to ``max_depth``
    levels. Returns sorted prefix strings used as RANGE boundaries by
    :func:`list_objects_df` — coverage is complete for ANY boundary set
    (ranges partition the whole key space), so a key that matches no
    discovered group (e.g. directly under the bucket root) still lands in
    exactly one shard. Driver-side metadata calls only — one delimited
    listing per expanded level, the same cost class as the reference's
    bucket iteration."""
    frontier_p = [""]
    boundaries: list[str] = []
    for _ in range(max_depth):
        if len(boundaries) + 1 >= target or not frontier_p:
            break
        nxt: list[str] = []
        for p in frontier_p:
            children = store.list_common_prefixes(bucket, prefix=p,
                                                  delimiter=delimiter)
            nxt.extend(children)
        if not nxt:
            break
        boundaries = sorted(set(boundaries) | set(nxt))
        frontier_p = nxt
    return boundaries


def list_objects_df(spark: SparkSession, root: "str | StoreSpec",
                    cfg: CrawlConfig, *,
                    buckets: list[str] | None = None,
                    prefixes: list[str] | None = None,
                    auto_shard_target: int | None = None) -> DataFrame:
    """Distributed listing: one task per shard; each task pages its shard
    by ``cfg.max_keys`` to exhaustion — the reference's page loop
    (AmazonS3Client.java:139-147) run in parallel across shards.

    ``root``: FsObjectStore root path or any :class:`StoreSpec`.
    ``buckets`` defaults to the store's buckets filtered by ``cfg.buckets``
    (F4 membership).

    Sharding (pick one):

    - ``prefixes``: explicit prefix shards per bucket (the caller knows the
      key layout). Keys outside every prefix are NOT listed.
    - ``auto_shard_target``: the engine discovers ≈N split points per
      bucket from CommonPrefixes (:func:`discover_shard_boundaries`) and
      lists KEY RANGES between them — complete coverage of the bucket
      (keys under no discovered group included), no layout knowledge
      needed. This is the 10^9-keys/bucket path: no task walks a whole
      bucket, and listing parallelism = Σ per-bucket shards.
    - default: one shard per bucket (fine up to ~10^6 keys/bucket).
    """
    if prefixes is not None and auto_shard_target is not None:
        raise ValueError("pass either prefixes or auto_shard_target")
    spec = as_store_spec(root)
    store = spec.connect()
    names = buckets if buckets is not None else store.buckets()
    if cfg.buckets:
        names = [b for b in names if b in cfg.buckets]
    if auto_shard_target is not None:
        # range shards: (bucket, lo_exclusive, hi_inclusive]; "" lo = start,
        # None hi = unbounded tail — a partition of the full key space
        shards = []
        for b in names:
            bounds = discover_shard_boundaries(store, b, auto_shard_target)
            edges = [""] + bounds + [None]
            shards.extend((b, edges[i], edges[i + 1])
                          for i in range(len(edges) - 1))
    else:
        shards = [(b, p, None) for b in names for p in (prefixes or [""])]
    if not shards:
        return spark.createDataFrame([], LISTING_SCHEMA)
    range_mode = auto_shard_target is not None
    tasks = spark.createDataFrame(
        shards, "bucket string, lo string, hi string") \
        .repartition(len(shards))
    max_keys = cfg.max_keys

    def _list(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = spec.connect()
        for pdf in batches:
            for bucket, lo, hi in zip(pdf["bucket"], pdf["lo"], pdf["hi"]):
                # range mode: lo/hi are key-range edges (page by
                # start_after from lo, truncate past hi); prefix mode:
                # lo is the listing prefix
                after = lo if range_mode else ""
                prefix = "" if range_mode else lo
                hi_b = hi.encode("utf-8") if (range_mode
                                              and hi is not None) else None
                while True:
                    entries, nxt = local.list_objects(
                        bucket, prefix=prefix, start_after=after,
                        max_keys=max_keys)
                    if hi_b is not None:
                        entries = [e for e in entries
                                   if e["key"].encode("utf-8") <= hi_b]
                    if entries:
                        out = pd.DataFrame(entries)
                        out.insert(0, "bucket", bucket)
                        yield out[[f.name for f in LISTING_SCHEMA.fields]]
                    if nxt is None or (hi_b is not None
                                       and nxt.encode("utf-8") > hi_b):
                        break
                    after = nxt

    return tasks.mapInPandas(_list, LISTING_SCHEMA)


#: per-bucket robots object key (crawler convention mapped onto the store:
#: the virtual-hosted bucket is the "site", so its robots live at the root)
ROBOTS_KEY = "robots.txt"


def fetch_robots_bodies(spark: SparkSession, root: "str | StoreSpec",
                        cfg: CrawlConfig) -> DataFrame:
    """Fetch each bucket's ``robots.txt`` object into the ``(host, body)``
    bodies table that ``operators.robots`` consumes; hosts are the same
    virtual-hosted URL hosts the frontier carries
    (``functions.urls.object_url_py``), so the broadcast join lines up.

    Buckets are a small dim, so the GET loop runs driver-side — the same
    shape as the reference's bucket iteration
    (AmazonS3DataStore.java:146-148). A bucket without a robots object
    contributes no rules (RFC 9309: no robots.txt ⇒ everything allowed).
    Note the robots object itself is a listable object and will appear in
    listings like any other key; exclude it via ``exclude_pattern`` if it
    should not be indexed."""
    from urllib.parse import urlsplit

    from fess_ds_s3_spark.functions.urls import object_url_py
    store = as_store_spec(root).connect()
    names = store.buckets()
    if cfg.buckets:
        names = [b for b in names if b in cfg.buckets]
    rows = []
    for bucket in names:
        # .hostname, not .netloc: the engine's canonical host column is
        # parse_url(url, 'HOST') — port-less and lowercased — and the
        # robots broadcast join keys on it; a ported endpoint override
        # (e.g. minio.local:9000) must still line up
        host = urlsplit(
            object_url_py(bucket, "", cfg.region, cfg.endpoint)).hostname
        try:
            body, _ = store.get_object(bucket, ROBOTS_KEY)
        except NoSuchKeyError:
            continue
        rows.append((host, body.decode("utf-8", "replace")))
    return spark.createDataFrame(rows, "host string, body string")


def fetch_objects(admitted: DataFrame, root: "str | StoreSpec", *,
                  fetch_concurrency: int = 1,
                  if_none_match_col: str | None = None) -> DataFrame:
    """S4 production fetch: batched GETs from inside ``mapInPandas``.

    Output contract matches :func:`~fess_ds_s3_spark.operators.extract.
    fetch_payloads`: every input column is preserved (any stale
    ``resp_content_type``/``content`` from the listing frontier is replaced
    — the response type comes from the GET, not the listing, exactly like
    the reference reads ``response.contentType()``,
    AmazonS3DataStore.java:215) plus:

    - ``content`` (binary) — the object bytes, null on miss;
    - ``resp_content_type`` — the store's Content-Type;
    - ``_fetched`` — true on success, null on a missing key so
      ``route_fetch_miss`` routes the row to E2 (NoSuchKeyException);
    - ``_fetch_error`` — exception class name for OTHER per-object store
      errors (throttle, permission, transient 5xx): the row routes to E2
      under that name and the crawl CONTINUES, mirroring the reference's
      catch of AmazonServiceException per object
      (AmazonS3DataStore.java:279-284) instead of failing the whole task.
      The client's own retry policy (boto3 retries transient errors before
      raising) still applies underneath.

    ``fetch_concurrency``: bounded per-task GET thread pool — the X1 analog
    of the reference's ``fixedThreadPool(number_of_threads)`` fanning out
    per-object fetches (AmazonS3DataStore.java:173-174,421-427). Against a
    remote store a GET is latency-bound (~50 ms), so a serial task caps at
    ~20 objects/s; the pool overlaps round-trips (results keep row order —
    the pool maps, it does not reorder). Default 1 = the reference's
    default ``number_of_threads``. Per-round GET totals stay bounded by
    admissions; global concurrency ≤ tasks × fetch_concurrency.

    ``if_none_match_col``: name of an input column carrying a prior ETag
    (e.g. ``prev_etag`` from an incremental listing diff) — each GET goes
    out conditional (``IfNoneMatch``), and an unchanged object transfers NO
    body: the row comes back with ``_fetched`` true, ``content`` null and a
    ``_not_modified`` true flag (the column is only present when the
    feature is on). Route ``_not_modified`` rows to the "unchanged" path
    BEFORE extraction — they deliberately carry no bytes. At 10^9 objects
    this is the listing-to-fetch race guard: the diff already picked
    changed candidates, and the conditional GET makes the skip exact even
    when an object reverts between the listing and the fetch. Null/empty
    prior ETags fetch unconditionally.
    """
    spec = as_store_spec(root)
    if fetch_concurrency < 1:
        raise ValueError("fetch_concurrency must be >= 1")
    if if_none_match_col is not None \
            and if_none_match_col not in admitted.columns:
        raise ValueError(f"if_none_match_col {if_none_match_col!r} "
                         "is not an input column")
    conditional = if_none_match_col is not None
    drop = {"content", "resp_content_type", "_fetched", "_fetch_error"}
    if conditional:
        drop.add("_not_modified")
    base = [f for f in admitted.schema.fields if f.name not in drop]
    carry = [f.name for f in base]
    extra = [
        StructField("content", BinaryType(), True),
        StructField("resp_content_type", StringType(), True),
        StructField("_fetched", BooleanType(), True),
        StructField("_fetch_error", StringType(), True),
    ]
    if conditional:
        extra.append(StructField("_not_modified", BooleanType(), True))
    out_schema = StructType(base + extra)

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = spec.connect()

        def one(bucket: str, key: str, etag):
            # result: (content, ctype, _fetched, _fetch_error[, _not_mod])
            kw = {}
            if conditional and etag is not None and etag != "":
                kw["if_none_match"] = etag
            try:
                data, ctype = store.get_object(bucket, key, **kw)
                return data, ctype, True, None, False
            except NoSuchKeyError:
                return None, None, None, None, None
            except NotModifiedError:
                return None, None, True, None, True
            except Exception as exc:  # per-object store error
                return None, None, None, type(exc).__name__, None

        pool = (ThreadPoolExecutor(max_workers=fetch_concurrency)
                if fetch_concurrency > 1 else None)
        try:
            for pdf in batches:
                etags = (pdf[if_none_match_col] if conditional
                         else [None] * len(pdf))
                triples = list(zip(pdf["bucket"], pdf["key"], etags))
                if pool is not None:
                    results = list(pool.map(lambda t: one(*t), triples))
                else:
                    results = [one(*t) for t in triples]
                out = pdf[carry].copy()
                out["content"] = [r[0] for r in results]
                out["resp_content_type"] = [r[1] for r in results]
                out["_fetched"] = pd.array([r[2] for r in results],
                                           dtype="boolean")
                out["_fetch_error"] = [r[3] for r in results]
                if conditional:
                    out["_not_modified"] = pd.array(
                        [r[4] for r in results], dtype="boolean")
                yield out
        finally:
            if pool is not None:
                pool.shutdown(wait=False)

    return admitted.mapInPandas(_fetch, out_schema)
