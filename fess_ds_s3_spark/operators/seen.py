"""URL-seen set (F5): exact ledger + partitioned bloom filter + cuckoo fallback.

Absent in the reference — an S3 listing is duplicate-free per bucket, so
fess-ds-s3 never deduplicates (its only "identity" is the crawler-stats key
``bucket@key``, AmazonS3DataStore.java:196). The north rule requires a
URL-seen set that scales to a 10^10-URL frontier, so this module provides:

1. **Exact ledger** — a ``seen`` table ``(url_hash:long, canonical_url:string)``;
   membership test is a plain ``left_anti`` join. This is the correctness
   oracle and the confirm step behind the bloom pre-filter.

2. **Partitioned bloom filter** — ``P = cfg.seen_partitions`` independent
   bitset blobs (P fixed in config, *independent of parallelism*, so results
   are deterministic across cluster sizes). A URL belongs to partition
   ``pmod(murmur3(url), P)`` and is hashed into the blob by double hashing
   ``pos_i = (h1 + i*h2) mod m`` with h1 = Murmur3-32 (``F.hash``) and
   h2 = xxhash64 (``F.xxhash64``), both computed JVM-side; the Python side
   only does vectorized numpy bit arithmetic inside cogrouped
   ``applyInArrow`` kernels. No per-row Python. One fold kernel writes
   blobs (a round's update is one pass; a build folds into no blobs).

3. **Cuckoo filter fallback** — same partitioning, but blobs are cuckoo
   tables (bucketed 16-bit fingerprints, 4 slots/bucket) supporting
   **deletion** (e.g. forced re-crawl of expired URLs), which blooms cannot.

Scale notes: blob size per partition is sized from ``bloom_expected`` /
``bloom_fpp``; membership at scale uses a **cogroup** on the partition id so
each task streams only its own partition's frontier rows + one blob —
no broadcast of the full filter, no blob duplication through a join.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, BooleanType, IntegerType, LongType,
                               StructField, StructType)

from fess_ds_s3_spark.config import CrawlConfig

BLOOM_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("bits", BinaryType(), False),
    StructField("m_bits", LongType(), False),
    StructField("k_hashes", IntegerType(), False),
])

CUCKOO_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("table", BinaryType(), False),   # uint16 fingerprints
    StructField("n_buckets", LongType(), False),
])

_BLOOM_ARROW = to_arrow_schema(BLOOM_SCHEMA)
_CUCKOO_ARROW = to_arrow_schema(CUCKOO_SCHEMA)

_CUCKOO_SLOTS = 4
_CUCKOO_MAX_KICKS = 500


def bloom_params(expected: int, fpp: float) -> tuple[int, int]:
    """Optimal (m_bits, k_hashes); m rounded up to a byte multiple."""
    m = math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8
    k = max(1, round(m / expected * math.log(2)))
    return m, k


def with_seen_keys(df: DataFrame, cfg: CrawlConfig,
                   url: str = "canonical_url") -> DataFrame:
    """Attach (part_id, h1, h2) — all JVM-side, whole-stage-codegen friendly."""
    return (
        df.withColumn("url_hash", F.xxhash64(url))
        .withColumn("part_id",
                    F.pmod(F.hash(url), F.lit(cfg.seen_partitions))
                    .cast("int"))
        .withColumn("h1", F.hash(url).cast("long"))
        # force h2 odd (SQL bitwise |) so double hashing cycles all m positions
        .withColumn("h2", F.expr(f"xxhash64(`{url}`) | 1L"))
    )


# ---------------------------------------------------------------------------
# numpy bit kernels (vectorized; shared by build and probe)
# ---------------------------------------------------------------------------

def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) int64 bit positions via double hashing; deterministic."""
    i = np.arange(k, dtype=np.int64)[None, :]
    with np.errstate(over="ignore"):
        pos = h1[:, None] + i * h2[:, None]  # int64 wraparound is fine
    return np.mod(pos, m)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes → bool[n] (all bits set = maybe seen)."""
    probes = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return probes.all(axis=1)


# ---------------------------------------------------------------------------
# Bloom build / merge / probe
# ---------------------------------------------------------------------------

def _fold_blobs(part_id: int, rows) -> tuple[np.ndarray, int, int]:
    """OR-fold one partition's bloom blob rows ``(bits, m_bits, k_hashes)``
    into one bitset. Appended deltas and unioned tables leave several rows
    per partition; dropping any would silently lose filter state and
    re-admit seen URLs.

    Raises if the rows disagree on ``m_bits`` OR ``k_hashes``: an OR of
    bitsets built with different hash counts is NOT a bloom filter of
    their union — probing it with either k yields false negatives."""
    rows = iter(rows)
    blob, m0, k0 = next(rows)
    m0, k0 = int(m0), int(k0)
    bits = np.frombuffer(blob, dtype=np.uint8)
    for blob, m, k in rows:
        more = np.frombuffer(blob, dtype=np.uint8)
        if int(m) != m0 or int(k) != k0 or len(more) != len(bits):
            raise ValueError(
                f"bloom part {part_id}: blob rows disagree on "
                f"(m_bits, k_hashes): ({m0}, {k0}) vs ({int(m)}, {int(k)}) "
                "— cannot OR-merge filters with different parameters")
        bits = bits | more
    return bits, m0, k0


def empty(spark, schema: StructType) -> DataFrame:
    """An empty ``schema`` frame, planned as a local relation (no RDD scan)."""
    return spark.createDataFrame([], schema).where(F.lit(False))


def _rows(table: pa.Table, *names: str):
    return zip(*(table[name].to_pylist() for name in names))


def _bloom_fold(blooms: DataFrame, df: DataFrame, cfg: CrawlConfig,
                url: str) -> DataFrame:
    """The one kernel that writes bloom blobs: per part, OR the previous
    blob rows into a zeroed ``bloom_params(cfg)`` bitset, set URL bits."""
    m, k = bloom_params(cfg.bloom_expected, cfg.bloom_fpp)
    keyed = with_seen_keys(df, cfg, url).select("part_id", "h1", "h2")

    def _fold(key, keys: pa.Table, prev: pa.Table) -> pa.Table:
        pid = key[0].as_py()
        # a zeroed bytearray with cfg's (m, k) leads: checked, writable
        prev_rows = _rows(prev, "bits", "m_bits", "k_hashes")
        bits, _, _ = _fold_blobs(pid, [(bytearray(m // 8), m, k), *prev_rows])
        _set_bits(bits, _positions(keys["h1"].to_numpy(),
                                   keys["h2"].to_numpy(), k, m))
        return pa.Table.from_pydict(
            {"part_id": [pid], "bits": [bits.tobytes()],
             "m_bits": [m], "k_hashes": [k]}, schema=_BLOOM_ARROW)

    return (keyed.groupBy("part_id").cogroup(blooms.groupBy("part_id"))
            .applyInArrow(_fold, BLOOM_SCHEMA))


def build_bloom(df: DataFrame, cfg: CrawlConfig,
                url: str = "canonical_url") -> DataFrame:
    """Per-partition bloom blobs of a URL DataFrame: the fold over no blobs."""
    return _bloom_fold(empty(df.sparkSession, BLOOM_SCHEMA), df, cfg, url)


def merge_blooms(blooms: DataFrame, urls: DataFrame, cfg: CrawlConfig,
                 url: str = "canonical_url") -> DataFrame:
    """Add ``urls`` to the blob table ``blooms`` in one cogrouped pass;
    raises on an ``(m_bits, k_hashes)`` mismatch with ``cfg``."""
    return _bloom_fold(blooms, urls, cfg, url)


#: broadcast the whole filter when its payload is below this (driver+executor
#: memory trade-off; at 10^10-URL scale blobs exceed this and cogroup is used)
BLOOM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def bloom_maybe_seen_broadcast(frontier: DataFrame, blobs: list,
                               cfg: CrawlConfig,
                               url: str = "canonical_url",
                               flag: str = "maybe_seen") -> DataFrame:
    """Shuffle-free probe: blobs (collected rows) are broadcast to executors
    and tested in a scalar pandas UDF — one narrow projection, stays in the
    same stage as the scan. The fast path whenever the filter fits in
    memory (a 10^8-URL seen-set at 1% fpp is ~120 MB — broadcastable).
    """
    spark = frontier.sparkSession
    by_part: dict[int, list] = {}
    for r in blobs:
        by_part.setdefault(int(r["part_id"]), []).append(
            (r["bits"], r["m_bits"], r["k_hashes"]))
    blob_map = {pid: _fold_blobs(pid, rows) for pid, rows in by_part.items()}
    bc = spark.sparkContext.broadcast(blob_map)

    @pandas_udf(BooleanType())
    def _probe(part_id: pd.Series, h1: pd.Series, h2: pd.Series) -> pd.Series:
        blobs_local = bc.value
        pid = part_id.to_numpy(np.int64)
        h1n = h1.to_numpy(np.int64)
        h2n = h2.to_numpy(np.int64)
        out = np.zeros(len(pid), dtype=bool)
        for p in np.unique(pid):
            entry = blobs_local.get(int(p))
            if entry is None:
                continue
            bits, m, k = entry
            mask = pid == p
            pos = _positions(h1n[mask], h2n[mask], k, m)
            out[mask] = _test_bits(bits, pos)
        return pd.Series(out)

    # The probe is a pure function of the URL, but it is declared
    # NONDETERMINISTIC on purpose: filter_unseen branches on the flag
    # (definitely-new / needs-confirm), and because the flag depends only
    # on the upstream aggregate's GROUPING KEY, Catalyst may push each
    # branch's filter below the dedup aggregate — legal row-wise, but it
    # specializes the exchange input per branch, defeating ReuseExchange
    # and re-executing the whole scan+partial-agg+probe subtree per branch
    # (measured: a second full-scale 32-task stage, +185 CPU-s at 32M
    # rows). Blocking reordering keeps one shared Exchange; per-row
    # results are unchanged (pure function), which the equivalence tests
    # pin; the plan shape is asserted in tests/test_invariance.py.
    _probe = _probe.asNondeterministic()

    keyed = with_seen_keys(frontier, cfg, url)
    return (keyed.withColumn(flag, _probe(F.col("part_id"), F.col("h1"),
                                          F.col("h2")))
            .drop("h1", "h2"))


def _cogrouped_probe(frontier: DataFrame, blobs: DataFrame, cfg: CrawlConfig,
                     url: str, flag: str, member) -> DataFrame:
    """Carry every frontier column and append ``flag``, cogrouped with the
    blob rows on ``part_id``; ``member(part_id, rows, blobs)`` tests one
    partition's keyed rows against its (non-empty) blob rows."""
    keyed = with_seen_keys(frontier, cfg, url)
    carry = [c for c in keyed.columns if c not in ("h1", "h2")]
    out_schema = StructType([keyed.schema[c] for c in carry]
                            + [StructField(flag, BooleanType(), False)])
    # timestamps arrive in the session time zone, the result must be UTC
    out_arrow = to_arrow_schema(out_schema)

    def _probe(key, rows: pa.Table, blob: pa.Table) -> pa.Table:
        hits = (member(key[0].as_py(), rows, blob)
                if rows.num_rows and blob.num_rows
                else np.zeros(rows.num_rows, dtype=bool))
        return (rows.select(carry).append_column(flag, pa.array(hits))
                .cast(out_arrow))

    return (keyed.groupBy("part_id").cogroup(blobs.groupBy("part_id"))
            .applyInArrow(_probe, out_schema))


def _bloom_member(pid: int, rows: pa.Table, blobs: pa.Table) -> np.ndarray:
    bits, m, k = _fold_blobs(pid, _rows(blobs, "bits", "m_bits", "k_hashes"))
    return _test_bits(bits, _positions(rows["h1"].to_numpy(),
                                       rows["h2"].to_numpy(), k, m))


def bloom_maybe_seen(frontier: DataFrame, blooms: DataFrame, cfg: CrawlConfig,
                     url: str = "canonical_url",
                     flag: str = "maybe_seen") -> DataFrame:
    """Cogrouped probe → frontier rows with a ``maybe_seen`` boolean. False
    ⇒ definitely unseen (bloom guarantee); True ⇒ confirm against the exact
    ledger. The at-scale path (no driver collection); prefer
    :func:`maybe_seen_auto`, which broadcasts when the filter is small."""
    return _cogrouped_probe(frontier, blooms, cfg, url, flag, _bloom_member)


def bloom_size_bytes(cfg: CrawlConfig) -> int:
    """Total blob payload for a full filter at this config (metadata-only)."""
    m, _ = bloom_params(cfg.bloom_expected, cfg.bloom_fpp)
    return cfg.seen_partitions * (m // 8)


def maybe_seen_auto(frontier: DataFrame, blooms: DataFrame, cfg: CrawlConfig,
                    url: str = "canonical_url",
                    flag: str = "maybe_seen",
                    size_bytes: int | None = None) -> DataFrame:
    """Pick the probe strategy by filter size: collect+broadcast when the
    blob payload is ≤ BLOOM_BROADCAST_MAX_BYTES (shuffle-free, branch-safe),
    else the cogrouped streaming probe.

    ``size_bytes``: known total blob payload (the crawl driver carries it
    in the ``seen_bloom`` snapshot metadata); absent, it is sized from
    ``cfg`` (:func:`bloom_size_bytes`). Either way the choice runs no job.

    The estimate is re-checked against the ACTUAL collected payload: a
    blooms table built under another config (a resume after changing
    ``bloom_expected``/``seen_partitions``) can dwarf it, and broadcasting
    that to every executor would multiply the driver-memory damage, so an
    undershot estimate falls back to the cogrouped streaming probe."""
    if size_bytes is None:
        size_bytes = bloom_size_bytes(cfg)
    if size_bytes <= BLOOM_BROADCAST_MAX_BYTES:
        rows = blooms.collect()
        actual = sum(len(r["bits"]) for r in rows)
        if actual <= BLOOM_BROADCAST_MAX_BYTES:
            return bloom_maybe_seen_broadcast(frontier, rows, cfg, url, flag)
    return bloom_maybe_seen(frontier, blooms, cfg, url, flag)


def anti_join_seen_exact(frontier: DataFrame, seen: DataFrame,
                         url: str = "canonical_url") -> DataFrame:
    """J4 exact anti-join: keep frontier rows whose URL is NOT in ``seen``.

    ``seen`` needs only a ``canonical_url`` column. This is the correctness
    oracle; at scale, call :func:`filter_unseen` instead (bloom pre-filter
    shrinks the join's left side to bloom-positive rows only).
    """
    return frontier.join(
        seen.select(F.col(url)).distinct(), on=url, how="left_anti")


def _confirm_maybe_seen(flagged: DataFrame, seen_exact: DataFrame,
                        url: str) -> DataFrame:
    """Branch a pre-filter's ``maybe_seen`` flag: definitely-new rows pass,
    maybe-seen rows are confirmed against the exact ledger, union."""
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    needs_confirm = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = anti_join_seen_exact(needs_confirm, seen_exact, url)
    return definitely_new.unionByName(confirmed_new)


def filter_unseen(frontier: DataFrame, seen_exact: DataFrame,
                  blooms: DataFrame | None, cfg: CrawlConfig,
                  url: str = "canonical_url",
                  bloom_size_bytes: int | None = None) -> DataFrame:
    """Scale path: bloom pre-filter → exact confirm, union definite-new rows.

    Identical output to :func:`anti_join_seen_exact` (bloom has no false
    negatives); the exact join's left side shrinks to ``fpp × |frontier|``
    + true duplicates.

    Plan-shape note: this branches (definitely-new / needs-confirm) and
    unions. Call it AFTER the pipeline's first shuffle so both branches hang
    off the same Exchange and Spark's ReuseExchange computes the upstream
    (scan + canonicalize UDF) once — measured 10× cheaper than persisting
    the flagged frame (columnar cache build of wide string rows dominates).
    plans/round.py orders the round accordingly (dedup shuffle first).
    """
    if blooms is None:
        return anti_join_seen_exact(frontier, seen_exact, url)
    return _confirm_maybe_seen(
        maybe_seen_auto(frontier, blooms, cfg, url,
                        size_bytes=bloom_size_bytes), seen_exact, url)


def filter_unseen_cuckoo(frontier: DataFrame, seen_exact: DataFrame,
                         cuckoo_blobs: DataFrame, cfg: CrawlConfig,
                         url: str = "canonical_url") -> DataFrame:
    """Cuckoo-filter variant of :func:`filter_unseen` (the deletable
    seen-set, F5 fallback). Identical output to the exact anti-join —
    cuckoo filters, like blooms, have no false negatives."""
    return _confirm_maybe_seen(
        cuckoo_maybe_seen(frontier, cuckoo_blobs, cfg, url), seen_exact, url)


# ---------------------------------------------------------------------------
# Cuckoo filter fallback (supports delete)
# ---------------------------------------------------------------------------

def _cuckoo_fingerprint(h1: np.ndarray) -> np.ndarray:
    fp = (h1.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _cuckoo_index2(i1: np.ndarray, fp: np.ndarray, n: int) -> np.ndarray:
    # partner bucket: i2 = (i1 ^ (fp * 0x5bd1e995)) mod n  (murmur-mix)
    mix = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(2**63 - 1)
    return np.mod(i1.astype(np.uint64) ^ mix, np.uint64(n)).astype(np.int64)


class _CuckooTable:
    """Writable in-UDF copy of a uint16 cuckoo blob, n_buckets × 4 slots."""

    def __init__(self, table: bytes, n_buckets: int):
        self.t = np.frombuffer(table, dtype=np.uint16).reshape(
            n_buckets, _CUCKOO_SLOTS).copy()
        self.n = n_buckets

    def _replace(self, bucket: int, old: int, new: int) -> bool:
        """Set the first slot of ``bucket`` holding ``old`` to ``new``."""
        row = self.t[bucket]
        hit = np.where(row == old)[0]
        if len(hit):
            row[hit[0]] = new
        return bool(len(hit))

    def insert(self, i1: int, fp: int) -> bool:
        i2 = int(_cuckoo_index2(np.array([i1]), np.array([fp], np.uint16),
                                self.n)[0])
        if self._replace(i1, 0, fp) or self._replace(i2, 0, fp):
            return True
        # kick: deterministic slot choice (no RNG → reproducible blobs)
        bucket, cur = i1, fp
        for kick in range(_CUCKOO_MAX_KICKS):
            slot = kick % _CUCKOO_SLOTS
            cur, self.t[bucket, slot] = int(self.t[bucket, slot]), cur
            bucket = int(_cuckoo_index2(
                np.array([bucket]), np.array([cur], np.uint16), self.n)[0])
            if self._replace(bucket, 0, cur):
                return True
        return False  # over-full: the last kicked fingerprint is lost

    def delete(self, i1: int, fp: int) -> bool:
        i2 = int(_cuckoo_index2(np.array([i1]), np.array([fp], np.uint16),
                                self.n)[0])
        return self._replace(i1, fp, 0) or self._replace(i2, fp, 0)


def cuckoo_capacity(expected: int) -> int:
    """Buckets for ~95% load headroom, power of two for cheap mod."""
    need = math.ceil(expected / (_CUCKOO_SLOTS * 0.84))
    return 1 << max(4, (need - 1).bit_length())


def _cuckoo_index1(h1: np.ndarray, n: int) -> np.ndarray:
    return np.mod(h1.astype(np.uint64), np.uint64(n)).astype(np.int64)


def build_cuckoo(df: DataFrame, cfg: CrawlConfig,
                 url: str = "canonical_url") -> DataFrame:
    """Build per-partition cuckoo blobs (deletable seen-set):
    :func:`cuckoo_update` adding every URL to empty tables. Raises when
    a partition's URLs overflow a table sized from ``bloom_expected``."""
    adds = df.select(F.col(url), F.lit("add").alias("op"))
    return cuckoo_update(empty(df.sparkSession, CUCKOO_SCHEMA), adds, cfg, url)


def cuckoo_update(blobs: DataFrame, changes: DataFrame, cfg: CrawlConfig,
                  url: str = "canonical_url", op: str = "op") -> DataFrame:
    """Apply ±deltas (op ∈ {'add','del'}) to cuckoo blobs, cogrouped; a
    partition with no blob row starts from an empty table. Of several blob
    rows per partition (the probe ORs over all), adds go into the first, a
    delete empties the first slot holding the fingerprint, and every row
    is kept. Raises when an add overflows the first row's table, and on
    any other op (a mistyped delete must not insert)."""
    keyed = with_seen_keys(changes, cfg, url).select("part_id", "h1", F.col(op))
    n_default = cuckoo_capacity(cfg.bloom_expected)

    def _apply(key, ops: pa.Table, blob: pa.Table) -> pa.Table:
        pid = key[0].as_py()
        tables = [_CuckooTable(t, n)
                  for t, n in _rows(blob, "table", "n_buckets")] or [
            _CuckooTable(bytes(2 * _CUCKOO_SLOTS * n_default), n_default)]
        h1 = ops["h1"].to_numpy()
        fps = _cuckoo_fingerprint(h1).tolist()
        i1s = [_cuckoo_index1(h1, ck.n).tolist() for ck in tables]
        for j, (fp, o) in enumerate(zip(fps, ops[op].to_pylist())):
            if o == "add":
                if not tables[0].insert(i1s[0][j], fp):
                    raise ValueError(
                        f"cuckoo part {pid}: insert failed after "
                        f"{_CUCKOO_MAX_KICKS} kicks in a table of "
                        f"{tables[0].n} buckets — bloom_expected="
                        f"{cfg.bloom_expected} is too small for this "
                        "partition's URLs (an over-full table evicts a "
                        "stored fingerprint, a false negative)")
            elif o == "del":
                for ck, i1 in zip(tables, i1s):
                    if ck.delete(i1[j], fp):
                        break
            else:
                raise ValueError(
                    f"cuckoo part {pid}: op {o!r} is neither 'add' nor "
                    "'del'")
        return pa.Table.from_pydict(
            {"part_id": [pid] * len(tables),
             "table": [ck.t.tobytes() for ck in tables],
             "n_buckets": [ck.n for ck in tables]}, schema=_CUCKOO_ARROW)

    return (keyed.groupBy("part_id").cogroup(blobs.groupBy("part_id"))
            .applyInArrow(_apply, CUCKOO_SCHEMA))


def _cuckoo_member(pid: int, rows: pa.Table, blobs: pa.Table) -> np.ndarray:
    h1 = rows["h1"].to_numpy()
    fp = _cuckoo_fingerprint(h1)
    # cuckoo tables can't be bit-merged — probe EVERY blob row and OR
    # the verdicts, so appended deltas never silently lose state
    hits = np.zeros(len(h1), dtype=bool)
    for table, n in _rows(blobs, "table", "n_buckets"):
        slots = np.frombuffer(table, dtype=np.uint16).reshape(n, _CUCKOO_SLOTS)
        i1 = _cuckoo_index1(h1, n)
        for bucket in (i1, _cuckoo_index2(i1, fp, n)):
            hits |= (slots[bucket] == fp[:, None]).any(axis=1)
    return hits


def cuckoo_maybe_seen(frontier: DataFrame, blobs: DataFrame, cfg: CrawlConfig,
                      url: str = "canonical_url",
                      flag: str = "maybe_seen") -> DataFrame:
    """Probe cuckoo blobs; same contract as :func:`bloom_maybe_seen`."""
    return _cogrouped_probe(frontier, blobs, cfg, url, flag, _cuckoo_member)
