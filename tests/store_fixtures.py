"""Fault-injection object-store specs for the fetch-stage tests.

Each spec is a picklable description that a Spark task ``connect()``s into
an :class:`~fess_ds_s3_spark.sources.object_store.FsObjectStore` wrapped
with one injected behaviour: per-GET latency or a permanent store error
for marked keys.

Executors unpickle these classes. The module registers itself with
cloudpickle so they travel by value: Python workers need not import the
test tree.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass

from pyspark import cloudpickle

from fess_ds_s3_spark.sources.object_store import FsObjectStore

cloudpickle.register_pickle_by_value(sys.modules[__name__])


class _LatencyStore:
    """Wrap any store with a fixed per-GET latency — models a remote object
    store's round-trip so fetch-concurrency wins are measurable in tests."""

    def __init__(self, inner, get_latency_s: float):
        self._inner = inner
        self._latency = get_latency_s

    def get_object(self, bucket: str, key: str, **kw) -> tuple[bytes, str]:
        time.sleep(self._latency)
        return self._inner.get_object(bucket, key, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


@dataclass(frozen=True)
class LatencyFsStoreSpec:
    """FsObjectStore + injected per-GET latency (test double for a ~N-ms
    round-trip store; listing stays instant — it is the GETs whose latency
    the per-task thread pool must overlap)."""
    root: str
    get_latency_s: float = 0.05

    def connect(self) -> _LatencyStore:
        return _LatencyStore(FsObjectStore(self.root), self.get_latency_s)


class _FaultyStore:
    """Raise a non-NoSuchKey store error (throttle/permission analog) for
    keys containing a marker — the error-routing test double."""

    def __init__(self, inner, fail_key_marker: str):
        self._inner = inner
        self._marker = fail_key_marker

    def get_object(self, bucket: str, key: str, **kw) -> tuple[bytes, str]:
        if self._marker and self._marker in key:
            raise RuntimeError("SlowDown: reduce request rate")
        return self._inner.get_object(bucket, key, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


@dataclass(frozen=True)
class FaultyFsStoreSpec:
    """FsObjectStore that raises a RuntimeError for GETs whose key contains
    ``fail_key_marker`` — exercises the per-object store-error → E2
    failure-row routing (the reference's AmazonServiceException catch,
    AmazonS3DataStore.java:279-284) without a real flaky store."""
    root: str
    fail_key_marker: str

    def connect(self) -> _FaultyStore:
        return _FaultyStore(FsObjectStore(self.root), self.fail_key_marker)
