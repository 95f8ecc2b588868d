"""Snapshot-table storage: Iceberg-semantics checkpointing for the crawl state.

The north rule calls for Iceberg tables ("checkpointed to Iceberg snapshots
so the crawl resumes exactly with per-partition lineage"). This sandbox has
no Iceberg runtime jar (and no network to fetch one), so this module provides
the same *semantics* over plain parquet:

- **stage(df)** → writes the data files to a fresh directory and commits
  nothing: Iceberg's data-file write. A staged directory is invisible to
  every read until a commit names it; an uncommitted one is an orphan.
- **append(df | staged)** → a new immutable snapshot: the delta is written
  (or was staged) to its own directory; the manifest records the
  cumulative list of data directories. Committing a staged handle is
  Iceberg's ``newAppend().appendFile(...).commit()``: a manifest write only.
- **overwrite(df | staged)** → a new snapshot whose data-file list is reset.
- **read(snapshot_id=None)** → DataFrame over exactly the data files of that
  snapshot (default: current) — time travel.
- **commit is atomic** — manifest written to a temp file then ``os.replace``.
- per-snapshot **lineage metadata** (round id, parent snapshot, caller
  metrics) is stored in the manifest, satisfying the "per-partition lineage +
  metrics" requirement together with ``plans.lineage``.
- the manifest is the **table metadata** Iceberg reads without a scan:
  ``schemas`` maps each committed data directory to its Spark schema (reads
  pass their union, in commit order, to ``.schema()``: no inference job),
  and ``rows`` maps each directory staged by ``stage_rows`` to its rows (a
  small ledger's ``rows()`` is then a JSON read). Directories committed
  without them fall back to mergeSchema inference and a Spark read.

Splitting the write lets a caller stage several tables' data files
concurrently and then commit their manifests serially in a fixed order
(plans/crawl.py does this per round).

On a real cluster, swap this class for Iceberg by replacing ``append`` with
``df.writeTo(name).append()`` and ``read`` with
``spark.read.option("snapshot-id", ...).table(name)`` — the round pipeline
only touches this interface (see plans/round.py), nothing else changes.

The reference's resume primitive is keyset pagination (``startAfter =
lastKey``, AmazonS3Client.java:144-146); snapshots generalize it: a crashed
run re-reads the last committed snapshot and continues bit-identically
(tested in tests/test_crawl_resume.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    mode: str  # append | overwrite
    data_dirs: list[str]
    metadata: dict[str, Any] = field(default_factory=dict)
    delta_dir: str | None = None  # files added by this snapshot alone

    @property
    def delta(self) -> str:
        # pre-delta_dir manifests: an append's own files are the last entry
        return self.delta_dir or self.data_dirs[-1]


@dataclass(frozen=True)
class Staged:
    """Data files written by :meth:`SnapshotTable.stage`, not yet committed."""
    root: str  # the owning table's root directory
    rel: str   # the data directory, relative to ``root``
    schema: dict  # the files' Spark schema, ``StructType.jsonValue()``
    rows: list | None = None  # the rows themselves (stage_rows only)


def _merged_schema(schemas: dict[str, Any],
                   dirs: list[str]) -> StructType | None:
    """Union of the recorded schemas of ``dirs`` in first-appearance order;
    None when a schema is missing or a column's recorded types differ."""
    fields: dict[str, dict[str, Any]] = {}
    for d in dirs:
        if d not in schemas:
            return None
        for f in schemas[d]["fields"]:
            if fields.setdefault(f["name"], f)["type"] != f["type"]:
                return None
    return StructType.fromJson({"fields": list(fields.values())})


class SnapshotTable:
    """A named, versioned parquet table under a warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.name = name
        self.root = os.path.join(warehouse, name)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    # ----- manifest ---------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "snapshots": []}
        with open(self._manifest_path) as fh:
            return json.load(fh)

    def _commit(self, manifest: dict[str, Any]) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # ----- public API -------------------------------------------------------

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._load()["snapshots"]]

    def current_snapshot_id(self) -> int | None:
        return self._load()["current"]

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def _snapshot(self, manifest: dict[str, Any],
                  snapshot_id: int | None) -> Snapshot | None:
        if snapshot_id is None:
            snapshot_id = manifest["current"]
            if snapshot_id is None:
                return None
        for s in manifest["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return Snapshot(**s)
        raise KeyError(f"{self.name}: no snapshot {snapshot_id}")

    def stage(self, df: DataFrame) -> Staged:
        """Write ``df``'s data files to a fresh directory without committing
        them; pass the handle to :meth:`append` or :meth:`overwrite`."""
        rel = os.path.join("data", f"snap-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return Staged(self.root, rel, df.schema.jsonValue())

    def stage_rows(self, rows: list[tuple], schema: StructType) -> Staged:
        """Stage a few driver-side rows with no Spark job: pyarrow writes
        the data file, and the rows ride the manifest from the commit on,
        where :meth:`rows` reads them without a scan."""
        rel = os.path.join("data", f"snap-{uuid.uuid4().hex}")
        os.makedirs(os.path.join(self.root, rel))
        records = [dict(zip(schema.names, r)) for r in rows]
        pq.write_table(pa.Table.from_pylist(records, to_arrow_schema(schema)),
                       os.path.join(self.root, rel, "part-00000.parquet"))
        return Staged(self.root, rel, schema.jsonValue(), records)

    def _new(self, data: DataFrame | Staged, mode: str,
             metadata: dict[str, Any] | None) -> int:
        staged = data if isinstance(data, Staged) else self.stage(data)
        if staged.root != self.root:
            raise ValueError(f"{self.name}: data staged for {staged.root}")
        manifest = self._load()
        parent = self._snapshot(manifest, None)
        dirs = [staged.rel] if mode == "overwrite" else (
            (parent.data_dirs if parent else []) + [staged.rel])
        snap_id = (parent.snapshot_id + 1) if parent else 1
        manifest.setdefault("schemas", {})[staged.rel] = staged.schema
        if staged.rows is not None:
            manifest.setdefault("rows", {})[staged.rel] = staged.rows
        manifest["snapshots"].append({
            "snapshot_id": snap_id,
            "parent_id": parent.snapshot_id if parent else None,
            "mode": mode,
            "data_dirs": dirs,
            "delta_dir": staged.rel,  # the files ADDED by this snapshot alone
            "metadata": {"committed_at": time.time(), **(metadata or {})},
        })
        manifest["current"] = snap_id
        self._commit(manifest)
        return snap_id

    def append(self, data: DataFrame | Staged,
               metadata: dict[str, Any] | None = None) -> int:
        return self._new(data, "append", metadata)

    def overwrite(self, data: DataFrame | Staged,
                  metadata: dict[str, Any] | None = None) -> int:
        return self._new(data, "overwrite", metadata)

    def compact(self, partitions: int | None = None,
                metadata: dict[str, Any] | None = None) -> int:
        """Fold the cumulative table into ONE data directory (a new
        overwrite snapshot, ``kind=compaction``): a long-running crawl
        appends a delta per round, so cumulative reads fan out over O(rounds)
        directories of small files — compaction resets that to one.

        Only correct for tables read CUMULATIVELY (``read()``), like the
        crawl frontier. Ledger-delta read paths (``read_deltas`` over
        ledgered snapshot ids — seen/indexed/failures) are unaffected:
        their old delta dirs stay on disk and keep resolving.

        ``partitions``: optional repartition before the write so the
        compacted snapshot has a bounded file count."""
        df = self.read()
        if partitions:
            df = df.repartition(partitions)
        return self.overwrite(df, {"kind": "compaction",
                                   **(metadata or {})})

    def expire_snapshots(self, *, keep_last: int = 1,
                         protect_ids: Iterable[int] = (),
                         reference: str = "cumulative") -> dict[str, int]:
        """Iceberg ``expire_snapshots`` analog: bound manifest + data-file
        growth on long crawls. Retains the CURRENT snapshot, the last
        ``keep_last`` manifest entries, and every id in ``protect_ids``
        (snapshot ids a ledger still references); every other manifest
        entry is expired, and data directories no retained snapshot
        references are deleted.

        ``reference`` picks what "references" means, matching the
        table's read path:

        - ``"cumulative"`` (default) — a retained snapshot references its
          full ``data_dirs`` list (tables read via :meth:`read`, e.g. the
          frontier). On an append-only table this deletes nothing until a
          :meth:`compact` resets the current snapshot's dir list — the
          Iceberg idiom: compaction makes files unreferenced, expiration
          reclaims them.
        - ``"delta"`` — a retained snapshot references only its OWN delta
          dir (tables read exclusively via :meth:`read_deltas` over
          ledgered ids, e.g. the seen table behind a checkpoint).
          Retained entries' ``data_dirs`` are rewritten to drop deleted
          dirs, so a cumulative :meth:`read` stays well-defined (it
          returns the retained deltas' rows only).

        Crash-safe ordering: the pruned manifest commits FIRST
        (atomically), then unreferenced dirs are deleted — a crash in
        between leaves harmless orphan directories, never a manifest
        entry pointing at deleted data. Only dirs owned by EXPIRED
        entries are deletion candidates, so an in-flight append's
        still-uncommitted dir can never be touched.

        Returns ``{"expired": n_entries, "deleted_dirs": n_dirs}``.
        """
        if reference not in ("cumulative", "delta"):
            raise ValueError(f"unknown reference mode {reference!r}")
        manifest = self._load()
        snaps = manifest["snapshots"]
        if not snaps:
            return {"expired": 0, "deleted_dirs": 0}
        keep = {int(i) for i in protect_ids}
        if manifest["current"] is not None:
            keep.add(manifest["current"])
        if keep_last > 0:
            keep.update(s["snapshot_id"] for s in snaps[-keep_last:])
        retained = [s for s in snaps if s["snapshot_id"] in keep]
        expired = [s for s in snaps if s["snapshot_id"] not in keep]
        if not expired:
            return {"expired": 0, "deleted_dirs": 0}
        referenced: set[str] = set()
        for s in retained:
            if reference == "cumulative":
                referenced.update(s["data_dirs"])
            d = s.get("delta_dir") or (s["data_dirs"][-1]
                                       if s["data_dirs"] else None)
            if d:
                referenced.add(d)
        if reference == "delta":
            for s in retained:
                s["data_dirs"] = [d for d in s["data_dirs"]
                                  if d in referenced]
        candidates: set[str] = set()
        for s in expired:
            candidates.update(s["data_dirs"])
            if s.get("delta_dir"):
                candidates.add(s["delta_dir"])
        manifest["snapshots"] = retained
        for rel in candidates - referenced:
            manifest.get("schemas", {}).pop(rel, None)
            manifest.get("rows", {}).pop(rel, None)
        self._commit(manifest)
        deleted = 0
        for rel in sorted(candidates - referenced):
            path = os.path.join(self.root, rel)
            if os.path.isdir(path):
                shutil.rmtree(path)
                deleted += 1
        return {"expired": len(expired), "deleted_dirs": deleted}

    def _scan(self, manifest: dict[str, Any], dirs: list[str]) -> DataFrame:
        paths = [os.path.join(self.root, d) for d in dirs]
        schema = _merged_schema(manifest.get("schemas", {}), dirs)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        # no usable recorded schema: infer it; mergeSchema keeps columns a
        # later delta gained (without it one arbitrary file's schema wins)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        manifest = self._load()
        snap = self._snapshot(manifest, snapshot_id)
        if snap is None or not snap.data_dirs:
            raise KeyError(f"{self.name}: table has no snapshots yet")
        return self._scan(manifest, snap.data_dirs)

    def rows(self) -> list[dict[str, Any]]:
        """The current snapshot's rows, for small ledger tables: read from
        the manifest, or collected by a Spark read when a directory has none
        recorded (staged by :meth:`stage`, or committed before rows were)."""
        manifest = self._load()
        snap = self._snapshot(manifest, None)
        if snap is None:
            return []
        recorded = manifest.get("rows", {})
        if all(d in recorded for d in snap.data_dirs):
            return [r for d in snap.data_dirs for r in recorded[d]]
        return [r.asDict() for r in
                self._scan(manifest, snap.data_dirs).collect()]

    def read_deltas(self, snapshot_ids: list[int]) -> DataFrame:
        """DataFrame over exactly the files ADDED by the given snapshots.

        This is the crash-safe read path: a crashed round's orphan appends
        have snapshot ids that never reach the rounds ledger, so reading the
        ledgered snapshot deltas (instead of the cumulative current
        snapshot) keeps orphan rows invisible even after the round is
        replayed and committed (Iceberg analog: per-snapshot incremental
        scan pinned by the ledger)."""
        manifest = self._load()
        dirs = [self._snapshot(manifest, sid).delta for sid in snapshot_ids]
        if not dirs:
            raise KeyError(f"{self.name}: no snapshots requested")
        return self._scan(manifest, dirs)

    def metadata(self, snapshot_id: int | None = None) -> dict[str, Any]:
        snap = self._snapshot(self._load(), snapshot_id)
        return snap.metadata if snap else {}


class Catalog:
    """Tiny named-table catalog over one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.spark, self.warehouse, name)
