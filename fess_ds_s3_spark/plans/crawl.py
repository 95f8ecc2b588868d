"""Multi-round crawl driver: round loop + snapshot checkpointing + resume.

The reference's ``storeData`` (AmazonS3DataStore.java:144-164) runs one
list→process pass; its resume primitive is keyset pagination (``startAfter =
lastKey``, AmazonS3Client.java:144-146). The engine generalizes both:

- each **round** is one declarative DataFrame pipeline (plans/round.py)
  whose outputs are committed to snapshot tables (sources/snapshots.py):
  ``indexed`` (S5), ``failures`` (S6), ``stats`` + ``lineage`` (S7),
  ``seen`` / ``seen_bloom`` (F5), ``frontier`` (link-extracted discoveries),
  and a ``rounds`` ledger mapping round → snapshot ids.
- **resume**: the driver re-reads the last committed round from the
  ``rounds`` ledger, whose rows (like the ``cycles`` table's) ride its
  snapshot manifest, so round bookkeeping reads JSON and runs no Spark job;
  a crash between commits replays the round idempotently because admission
  is a pure function of (frontier snapshot, seen snapshot, config) — all
  nondeterminism is confined to task timing, never to committed state
  (SURVEY.md §4.3).
- **link extraction** closes the crawl loop: stored documents' media_ref
  spans become next-round frontier candidates (discovery_time = round
  sequence, priority = parent priority + 1).

Each round stages, then commits (sources/snapshots.py). Staging writes a
sink's data files and commits nothing: ``indexed`` first, which materializes
the cached round batch, then every other sink concurrently — none reads
another's output. Only after every stage finished do the manifests commit,
serially on the calling thread: ``indexed``, ``failures``, ``stats``,
``lineage``, ``seen``, ``seen_bloom``, ``frontier`` links, ``link_edges``,
and the ``rounds`` ledger LAST. If any stage raises, nothing commits. The
ledger commit is the round's commit point and records the *snapshot id of
every sink commit*; all reads — the driver's own (``committed_seen``) and
user-facing (``read_committed``) — are unions of exactly those ledgered
snapshot deltas. A crash before the ledger commit leaves orphan data
directories or snapshots whose ids never reach the ledger, so they stay
invisible FOREVER — including after the round is replayed and committed
(replay commits new snapshots; the orphans' ids are still absent from the
ledger). A crash after the ledger commit resumes at round N+1. Replay is
deterministic because scheduling only reads frontier rows with
``round <= round_id`` (orphan link-candidates are stamped round N+1 and thus
invisible to a round-N replay; a committed round N+1 sees both the orphan
and replayed candidate copies, which are identical rows collapsed by
in-batch dedup). The bloom blob may contain uncommitted URLs after a crash —
harmless: bloom positives are always confirmed against the exact committed
ledger, so extra bits cost a little confirm work, never correctness.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)
from pyspark.util import inheritable_thread_target

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import seen as seen_ops
from fess_ds_s3_spark.operators.extract import extract_links
from fess_ds_s3_spark.plans import lineage as lineage_ops
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.sources.snapshots import (Catalog, SnapshotTable,
                                              Staged)

SEEN_SCHEMA = StructType([
    StructField("canonical_url", StringType(), True),
    StructField("url_hash", LongType(), True),
    StructField("round", IntegerType(), True),
])

ROUNDS_SCHEMA = StructType([
    StructField("round", IntegerType(), False),
    StructField("frontier_snapshot", IntegerType(), True),
    StructField("seen_snapshot", IntegerType(), True),
    # per-sink snapshot ids: THE read path — committed reads union exactly
    # these snapshots' deltas, so orphan appends from crashed attempts
    # (absent from the ledger) can never become visible
    StructField("indexed_snapshot", IntegerType(), True),
    StructField("failures_snapshot", IntegerType(), True),
    StructField("stats_snapshot", IntegerType(), True),
    StructField("lineage_snapshot", IntegerType(), True),
    StructField("admitted", LongType(), True),
    StructField("stored", LongType(), True),
    StructField("discarded", LongType(), True),
    StructField("failed", LongType(), True),
])


CYCLES_SCHEMA = StructType([
    StructField("cycle", IntegerType(), False),
    StructField("start_round", IntegerType(), False),
    StructField("candidates", LongType(), True),
    StructField("deleted", LongType(), True),
])


@dataclass
class RoundSummary:
    round_id: int
    admitted: int
    stored: int
    discarded: int
    failed: int
    new_links: int
    #: conditional-fetch 304s (bodies not transferred; prior doc current)
    unchanged: int = 0


@dataclass
class CycleSummary:
    cycle: int
    start_round: int
    candidates: int
    deleted: int


class CrawlDriver:
    """Owns the table catalog and the round loop for one crawl.

    ``per_round_cap``: optional global admission LIMIT per round (O2).
    Default None — a round admits everything its politeness budgets allow,
    and ``run()`` loops until the frontier drains, which is
    outcome-equivalent to the reference (its ``max_keys`` is only a listing
    page size and the crawl loops pages to exhaustion,
    AmazonS3Client.java:139-147 — the engine consumes ``cfg.max_keys`` in
    exactly that role in ``sources.object_store.list_objects_df``). Setting
    a cap is an explicit engine-only knob for bounding round size; with a
    finite ``n_rounds`` it can leave frontier URLs uncrawled.

    ``object_store_root``: fetched-mode crawls GET content through the
    production fetch stage (``sources.object_store.fetch_objects``) against
    this store instead of a pre-fetched ``payloads`` table. Accepts an
    FsObjectStore root path or any ``StoreSpec`` (e.g. ``S3StoreSpec`` for
    a real S3/MinIO deployment). Store-mode rounds GET conditionally
    (``IfNoneMatch``) whenever the frontier carries ``prev_etag``, which
    ``begin_incremental_cycle`` writes when ``etag`` is a version column:
    an object that still matches its prior ETag lands as ``unchanged``.

    ``use_authority``: harvest host link edges each round and, once
    ``refresh_authority()`` ran, schedule by host authority.

    Every round merges its seen delta into the seen bloom and, once a bloom
    exists, probes it, confirming positives against the exact committed
    seen set (round 0 runs the exact anti-join alone). Robots ``Crawl-delay``
    converts into per-round budgets at 60 s per round
    (``operators.robots.crawl_delay_budgets``).
    """

    def __init__(self, spark: SparkSession, warehouse: str, cfg: CrawlConfig,
                 *, per_round_cap: int | None = None,
                 object_store_root=None,
                 use_authority: bool = False):
        if per_round_cap is not None and per_round_cap <= 0:
            raise ValueError("per_round_cap must be positive or None")
        self.spark = spark
        self.cfg = cfg
        self.per_round_cap = per_round_cap
        self.object_store_root = object_store_root
        self.catalog = Catalog(spark, warehouse)
        self.frontier = self.catalog.table("frontier")
        self.seen = self.catalog.table("seen")
        self.seen_bloom = self.catalog.table("seen_bloom")
        self.indexed = self.catalog.table("indexed")
        self.failures = self.catalog.table("failures")
        self.stats = self.catalog.table("stats")
        self.lineage = self.catalog.table("lineage")
        self.rounds = self.catalog.table("rounds")
        self.robots = self.catalog.table("robots")
        self.seen_checkpoint = self.catalog.table("seen_checkpoint")
        # incremental re-crawl cycles (operators/incremental.py)
        self.listing = self.catalog.table("listing")
        self.tombstones = self.catalog.table("tombstones")
        self.cycles = self.catalog.table("cycles")
        # adaptive re-crawl schedule (change-rate fold, priority source)
        self.schedule = self.catalog.table("schedule")
        # host-graph authority (operators/graph.py): link edges harvested
        # per round; refresh_authority() folds them into admission
        # priority (decisive under a per_round_cap, where it picks WHICH
        # hosts fill the budget — within-host order is unaffected since
        # authority is a host-level score)
        self.use_authority = use_authority
        self.link_edges = self.catalog.table("link_edges")
        self.authority = self.catalog.table("authority")

    # ----- state ------------------------------------------------------------

    def last_round(self) -> int:
        """Highest committed round id, or -1 (resume entry point)."""
        return max((r["round"] for r in self.rounds.rows()), default=-1)

    def seed(self, frontier_df: DataFrame) -> int:
        """Install the seed frontier (round 0 candidates).

        Canonicalization happens HERE, once per URL ever — the frontier
        stores ``canonical_url`` so every later round schedules on a plain
        column (pure JVM) instead of re-running the canonicalize UDF per
        round per DAG branch."""
        return self.frontier.append(
            round_plan.prepare_frontier(frontier_df, self.cfg),
            {"kind": "seed"})

    def install_robots(self, robots_bodies: DataFrame) -> int:
        """Install fetched robots.txt bodies ``(host, body)`` — the data
        the F6 operator and Crawl-delay budgets are derived from each round
        when ``cfg.respect_robots`` is set. Overwrite semantics: the table
        always holds the latest full fetch (robots files supersede, they
        don't accumulate). The total body byte count rides the snapshot
        metadata so each round's rules join can size-gate its broadcast
        without a per-round job (same pattern as the bloom blob sizing)."""
        bodies = robots_bodies.select("host", "body")
        stats = bodies.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("body")).alias("b")).first()
        return self.robots.overwrite(
            bodies, {"kind": "robots", "n_hosts": int(stats["n"] or 0),
                     "body_bytes": int(stats["b"] or 0)})

    def _robots_rules(self) -> tuple[DataFrame, int | None]:
        """(rules dim, total robots body bytes) for this crawl. In store
        mode the driver fetches the per-bucket ``robots.txt`` objects
        itself on first use (then caches them in the robots snapshot
        table); otherwise the caller must have installed bodies — the knob
        must never silently do nothing (the X5 parsed-but-unused
        anti-pattern, SURVEY.md §2.12)."""
        from fess_ds_s3_spark.operators import robots as robots_ops
        if not self.robots.exists():
            if self.object_store_root is not None:
                from fess_ds_s3_spark.sources.object_store import \
                    fetch_robots_bodies
                self.install_robots(fetch_robots_bodies(
                    self.spark, self.object_store_root, self.cfg))
            else:
                raise ValueError(
                    "respect_robots=true but no robots bodies installed — "
                    "call CrawlDriver.install_robots(bodies_df) with "
                    "(host, body) rows first (an empty DataFrame is valid: "
                    "no rules = everything allowed), or run in object-store "
                    "mode where robots.txt objects are fetched automatically")
        rules_bytes = self.robots.metadata().get("body_bytes")
        return robots_ops.robots_rules_table(self.robots.read()), rules_bytes

    def _ledgered(self, snap_col: str,
                  after_round: int = -1) -> tuple[list[int], list[int]]:
        """(snapshot ids, legacy round ids) from the committed ledger,
        restricted to rounds > ``after_round`` (used by checkpointed reads
        to union only the deltas a checkpoint does not already fold in).

        Legacy rounds are ledger rows without a per-sink snapshot id —
        written by engines before the per-sink ledger columns existed
        (≤ 0.1.x); their sink rows are only reachable through the
        cumulative table."""
        rows = [(r["round"], r.get(snap_col)) for r in self.rounds.rows()
                if r["round"] > after_round]
        # distinct: a linkless round ledgers the frontier's snapshot again
        ids = sorted({r[1] for r in rows if r[1] is not None})
        legacy_rounds = sorted(r[0] for r in rows if r[1] is None)
        return ids, legacy_rounds

    def _committed(self, table, snap_col: str,
                   after_round: int = -1) -> DataFrame | None:
        """Committed rows of one sink from rounds > ``after_round``: the
        ledgered snapshot deltas, plus a legacy-compat path for rounds
        committed by a pre-snapshot-column engine (ADVICE r2): those rounds
        fall back to the old ``round <= last committed`` read over the
        cumulative table, so an upgrade never makes previously committed
        rows invisible."""
        ids, legacy_rounds = self._ledgered(snap_col, after_round=after_round)
        parts = []
        if ids:
            parts.append(table.read_deltas(ids))
        if legacy_rounds and table.exists():
            legacy = table.read()
            if "round" in legacy.columns:
                legacy = legacy.filter(F.col("round").isin(legacy_rounds))
            parts.append(legacy)
        if not parts:
            return None
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra, allowMissingColumns=True)
        return out

    def committed_seen(self, min_round: int = 0) -> DataFrame:
        """Seen rows from ledger-committed snapshots only (crash-replay
        safety: orphan appends never become visible).

        With a seen CHECKPOINT installed (``compact_seen``), the read is
        checkpoint ∪ ledgered deltas of rounds after it — O(1) + O(rounds
        since checkpoint) directories instead of O(all rounds).

        ``min_round`` scopes the seen-set to rounds ≥ it — the incremental
        re-crawl generation boundary (``cycle_start``): URLs seen by
        earlier cycles become re-admittable without deleting anything.
        Bloom blobs keep accumulating across cycles; harmless, because a
        bloom positive is always confirmed against this scoped exact set."""
        out = self._committed(self.seen, "seen_snapshot",
                              after_round=self._checkpoint_round())
        if self.seen_checkpoint.exists():
            ckpt = self.seen_checkpoint.read()
            out = ckpt if out is None else ckpt.unionByName(
                out, allowMissingColumns=True)
        if out is None:
            return seen_ops.empty(self.spark, SEEN_SCHEMA)
        if min_round > 0:
            out = out.filter(
                F.coalesce(F.col("round"), F.lit(0)) >= min_round)
        return out

    def _checkpoint_round(self) -> int:
        """Last round the seen checkpoint folds in (-1: none)."""
        if not self.seen_checkpoint.exists():
            return -1
        return int(self.seen_checkpoint.metadata().get("through_round", -1))

    def compact_seen(self) -> int:
        """Checkpoint the committed seen-set: fold every ledgered delta up
        to the last committed round into ONE snapshot of the
        ``seen_checkpoint`` table (atomic overwrite; built exclusively
        from ledger-committed rows, so orphan appends stay invisible
        through a checkpoint exactly as before). The per-round seen read —
        the hottest read in the crawl — then stops fanning over O(rounds)
        delta directories. Call every O(10-100) rounds alongside
        ``compact_frontier``; safe at any point between rounds, crash-safe
        (a torn write leaves the previous checkpoint current)."""
        last = self.last_round()
        n_parts = max(self.cfg.seen_partitions, 1)
        return self.seen_checkpoint.overwrite(
            self.committed_seen().repartition(n_parts),
            {"through_round": last, "kind": "seen-checkpoint"})

    def read_committed(self, table_name: str) -> DataFrame:
        """User-facing read of a sink table: union of exactly the snapshot
        deltas recorded in the rounds ledger (never the cumulative current
        snapshot, which may contain orphan appends from crashed rounds),
        with a legacy fallback for pre-0.2 ledger rows (see _committed)."""
        table = self.catalog.table(table_name)
        out = self._committed(table, f"{table_name}_snapshot")
        if out is not None:
            return out
        # no committed snapshots yet: empty frame with the table's schema
        return table.read().limit(0)

    # ----- one round ----------------------------------------------------------

    def run_round(self, round_id: int,
                  payloads: DataFrame | None = None,
                  host_budgets: DataFrame | None = None,
                  docs: DataFrame | None = None) -> RoundSummary:
        """Execute + commit round ``round_id``.

        ``docs``: optional (doc_id, spans) payload table joined to stored
        rows by doc_id for link extraction (interleaved text+media docs).
        """
        cfg = self.cfg
        start = self.cycle_start()
        frontier_df = self.frontier.read()
        if "round" in frontier_df.columns:
            # Replay determinism: schedule round N only over frontier rows
            # discovered for rounds ≤ N. Orphan link-candidates appended by
            # a crashed round-N attempt carry round N+1 and are invisible to
            # the replay; once committed, the replayed append duplicates
            # them with identical rows, collapsed by in-batch dedup.
            # The lower bound is the incremental-cycle boundary: an active
            # cycle schedules ONLY its own candidate rows (pre-cycle
            # pending rows were either crawled or superseded by the diff).
            rnd = F.coalesce(F.col("round"), F.lit(0))
            frontier_df = frontier_df.filter(
                (rnd <= F.lit(round_id)) & (rnd >= F.lit(start)))
        if self.use_authority and self.authority.exists():
            from fess_ds_s3_spark.operators.graph import authority_priority
            frontier_df = authority_priority(frontier_df,
                                             self.authority.read())
        seen_df = self.committed_seen(min_round=start)
        blooms, bloom_size = None, None
        if self.seen_bloom.exists():
            blooms = self.seen_bloom.read()
            # blob payload size rides in the snapshot metadata so the
            # broadcast-vs-cogroup probe choice costs zero Spark jobs
            meta = self.seen_bloom.metadata()
            bloom_size = meta.get("size_bytes")

        robots_rules, robots_rules_bytes = None, None
        if cfg.respect_robots:
            from fess_ds_s3_spark.operators import robots as robots_ops
            # F6: disallow rules route admitted rows to E1 discards inside
            # process(); Crawl-delay rules tighten the per-host politeness
            # budgets (least-of when the caller also passed budgets)
            robots_rules, robots_rules_bytes = self._robots_rules()
            host_budgets = robots_ops.merge_host_budgets(
                host_budgets,
                robots_ops.crawl_delay_budgets(robots_rules, cfg))

        # conditional GETs once cycle candidates carry the prior ETag (seed
        # and link rows lack the column, or read it as null, and fetch
        # unconditionally)
        inm_col = ("prev_etag" if self.object_store_root is not None
                   and "prev_etag" in frontier_df.columns else None)
        result = round_plan.run_round(
            frontier_df, cfg, payloads=payloads,
            object_store_root=self.object_store_root,
            if_none_match_col=inm_col,
            seen_exact=seen_df.select("canonical_url"),
            blooms=blooms, host_budgets=host_budgets,
            robots_rules=robots_rules,
            robots_rules_bytes=robots_rules_bytes,
            # O2: optional per-round admission cap (engine knob; None =
            # admit everything budgets allow, reference-outcome-equivalent)
            global_cap=self.per_round_cap,
            bloom_size_bytes=bloom_size)

        observed, obs = lineage_ops.observe_round(result.processed)
        # Cache the small admitted batch: it feeds 5 writes below.
        admitted = result.admitted.persist()
        processed = observed.withColumn("round", F.lit(round_id)).persist()
        meta = {"round": round_id}

        # 1. indexed (S5), staged alone: it materializes the cached batch
        # and fills the round's Observation before the other sinks read it
        stored_cols = [c for c in processed.columns if c != "content"]
        indexed_data = self.indexed.stage(
            processed.filter(F.col("status") == "stored").select(*stored_cols))
        metrics: dict[str, Any] = dict(obs.get)

        # 2. every other sink reads only the cached batch, never another
        # sink's output: stage them concurrently. Frames are built here, on
        # the calling thread; only the data-file writes run in the pool.
        writes = [
            (self.failures, processed.filter(F.col("status") == "failed")
             .select("url", "error_name", "error_message", "round")),
            (self.stats, lineage_ops.stats_events(processed, round_id)),
            (self.lineage, lineage_ops.partition_lineage(admitted, round_id)),
            # seen delta: every admitted URL, stored or not
            (self.seen, result.seen_delta.withColumn("round",
                                                     F.lit(round_id))),
        ]
        writes.append((self.seen_bloom,
                       seen_ops.build_bloom(result.seen_delta, cfg)
                       if blooms is None else
                       seen_ops.merge_blooms(blooms, result.seen_delta, cfg)))
        obs_links = obs_edges = None
        if docs is not None:
            from pyspark.sql import Observation
            # 3. link extraction → next-round frontier candidates. Join
            # stored rows to their span payloads: by doc_id when the docs
            # table carries one, else by url
            join_key = "doc_id" if ("doc_id" in docs.columns
                                    and "doc_id" in processed.columns) else "url"
            sel = [join_key] + (["priority"]
                                if "priority" in processed.columns else [])
            if self.use_authority and join_key != "host":
                sel.append("host")
            stored_docs = (processed.filter(F.col("status") == "stored")
                           .select(*sel).join(docs, join_key))
            if "doc_id" not in stored_docs.columns:
                stored_docs = stored_docs.withColumn("doc_id", F.col("url"))
            links = extract_links(stored_docs)
            # counts ride the staged writes as observations — no extra
            # Spark job recomputing link extraction; an empty delta is
            # then never committed
            obs_links = Observation()
            writes.append((self.frontier, self._frontier_candidates(
                links, round_id + 1).observe(
                    obs_links, F.count(F.lit(1)).alias("n"))))
            if self.use_authority:
                # host link edges for the authority fold: parent host →
                # linked URL's host
                from fess_ds_s3_spark.functions.text import url_host
                from fess_ds_s3_spark.operators.extract import \
                    links_from_spans
                edges = (stored_docs
                         .select(F.col("host").alias("src"),
                                 F.explode(links_from_spans("spans"))
                                 .alias("_u"))
                         .select("src", url_host(F.col("_u")).alias("dst"))
                         .filter(F.col("src").isNotNull()
                                 & F.col("dst").isNotNull())
                         .distinct())
                obs_edges = Observation()
                writes.append((self.link_edges, edges.observe(
                    obs_edges, F.count(F.lit(1)).alias("n"))))
        staged = dict(zip((t.name for t, _ in writes),
                          self._stage_all(writes)))

        # 4. commits: manifests only, on the calling thread, in a fixed
        # order; snapshot ids go into the rounds ledger and until that
        # commit every one of them is an invisible orphan
        indexed_snap = self.indexed.append(indexed_data, meta)
        failures_snap = self.failures.append(staged["failures"], meta)
        stats_snap = self.stats.append(staged["stats"], meta)
        lineage_snap = self.lineage.append(staged["lineage"], meta)
        seen_snap = self.seen.append(staged["seen"], meta)
        self.seen_bloom.overwrite(
            staged["seen_bloom"],
            {"round": round_id,
             # metadata-only sizing for next round's probe choice — the
             # merge validates every blob shares these parameters
             "size_bytes": seen_ops.bloom_size_bytes(cfg)})
        new_links = 0
        if obs_links is not None:
            new_links = int(obs_links.get["n"])
            if new_links:
                self.frontier.append(staged["frontier"],
                                     {"round": round_id + 1, "kind": "links"})
        if obs_edges is not None and int(obs_edges.get["n"]):
            self.link_edges.append(staged["link_edges"], meta)
        frontier_snap = self.frontier.current_snapshot_id()

        # 5. round ledger — THE commit point
        summary = RoundSummary(
            round_id=round_id,
            admitted=int(metrics.get("admitted") or 0),
            stored=int(metrics.get("stored") or 0),
            discarded=int(metrics.get("discarded") or 0),
            failed=int(metrics.get("failed") or 0),
            new_links=new_links,
            unchanged=int(metrics.get("unchanged") or 0))
        self.rounds.append(self.rounds.stage_rows(
            [(round_id, frontier_snap, seen_snap, indexed_snap,
              failures_snap, stats_snap, lineage_snap, summary.admitted,
              summary.stored, summary.discarded, summary.failed)],
            ROUNDS_SCHEMA), meta)
        admitted.unpersist()
        processed.unpersist()
        return summary

    def _stage_all(self, writes: list[tuple[SnapshotTable, DataFrame]]
                   ) -> list[Staged]:
        """Stage each ``(table, frame)`` write on its own thread and return
        the handles in order. If any stage raises, wait for the rest and
        re-raise: the caller then commits nothing."""
        target = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [pool.submit(target(table.stage), df)
                       for table, df in writes]
        return [f.result() for f in futures]

    def _frontier_candidates(self, links: DataFrame,
                             round_id: int) -> DataFrame:
        """Shape link-extracted URLs as frontier rows (canonicalized at
        ingestion, like seed()). The seen-set (next round) handles
        duplicates; priority = parent priority + 1 so discovered links
        always schedule AFTER their parents' tier (seeds default to
        priority 0 → first-generation links 1, their links 2, …). A link
        discovered by several parents keeps the min via in-batch dedup
        (priority leads the rank columns)."""
        from fess_ds_s3_spark.functions.urls import canonicalize_url
        parent = (F.col("parent_priority")
                  if "parent_priority" in links.columns
                  else F.lit(0))
        return links.select(
            F.lit("_links").alias("bucket"),
            F.regexp_replace("url", "^https?://[^/]+/", "").alias("key"),
            F.col("url"),
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
            F.lit(0).cast("long").alias("size"),
            F.md5("url").alias("etag"),
            F.to_timestamp(F.lit("2020-01-01")).alias("last_modified"),
            F.lit(None).cast("string").alias("owner_id"),
            F.lit(None).cast("string").alias("owner_display_name"),
            F.lit("STANDARD").alias("storage_class"),
            (F.coalesce(parent, F.lit(0)) + 1).cast("int").alias("priority"),
            # deterministic discovery order: round sequence, not wall clock
            F.to_timestamp(F.lit("2020-01-01")).alias("discovery_time"),
            F.lit(round_id).alias("round"),
            canonicalize_url(F.col("url")).alias("canonical_url"),
        )

    def compact_frontier(self, partitions: int | None = None) -> int:
        """Fold the frontier's per-round link deltas into one compacted
        snapshot (SnapshotTable.compact). Safe between rounds at any time:
        scheduling reads the frontier CUMULATIVELY with the ``round <= N``
        replay filter, and compaction preserves every row (orphan
        link-candidates included — they were already visible to cumulative
        reads and stay in-batch-dedup-collapsible). On a long crawl call
        this every O(10-100) rounds so the per-round frontier scan stops
        fanning over O(rounds) small-file directories. ``partitions``
        bounds the compacted file count (e.g. frontier_rows × row_bytes /
        128 MB)."""
        return self.frontier.compact(partitions,
                                     {"round": self.last_round()})

    def vacuum(self, keep_last: int = 2) -> dict[str, dict[str, int]]:
        """Bound a long crawl's on-disk metadata + small-file growth:
        expire old snapshots (SnapshotTable.expire_snapshots) of every
        STATE table, scoped to what each table's committed read path can
        still touch:

        - cumulative-read tables (frontier, listing, schedule, robots,
          seen_bloom, seen_checkpoint) keep their current snapshot +
          ``keep_last`` entries; on append-only tables this reclaims
          nothing until the matching ``compact_*`` resets the dir list —
          the Iceberg idiom (compact makes unreferenced, expire deletes).
          The FRONTIER additionally protects every ledgered
          ``frontier_snapshot`` id: those deltas are the committed read
          path (``read_committed("frontier")`` → ``read_deltas``), i.e.
          commit history like the sinks — expiring them would strand the
          ledger on deleted snapshots. Post-compaction the frontier
          therefore reclaims only ORPHAN deltas (crashed-attempt appends
          whose ids never reached the ledger).
        - the ``seen`` table is read ONLY via ledgered deltas
          (committed_seen), so it expires in delta mode, protecting every
          ledgered seen-snapshot id newer than the seen checkpoint (and
          ALL of them when no checkpoint exists). Rounds the checkpoint
          folds in no longer need their delta dirs. With legacy
          (pre-snapshot-column) ledger rows present, the seen table is
          skipped entirely — their rows are only reachable cumulatively.

        SINK tables (indexed, failures, stats, lineage) and the ledgers
        (rounds, cycles, tombstones) are never touched: their deltas ARE
        the crawl's output/commit history; trimming them is a data-
        retention decision, not hygiene. Call alongside
        ``compact_frontier()`` / ``compact_seen()`` every O(10-100)
        rounds; crash-safe at any point between rounds (manifest commits
        before any file deletion)."""
        out: dict[str, dict[str, int]] = {}
        frontier_ids, _ = self._ledgered("frontier_snapshot")
        for name, table, protect in (
                ("frontier", self.frontier, frontier_ids),
                ("listing", self.listing, ()),
                ("schedule", self.schedule, ()),
                ("robots", self.robots, ()),
                ("seen_bloom", self.seen_bloom, ()),
                ("seen_checkpoint", self.seen_checkpoint, ())):
            out[name] = table.expire_snapshots(keep_last=keep_last,
                                               protect_ids=protect)
        ids, legacy_rounds = self._ledgered(
            "seen_snapshot", after_round=self._checkpoint_round())
        if legacy_rounds:
            out["seen"] = {"expired": 0, "deleted_dirs": 0}
        else:
            out["seen"] = self.seen.expire_snapshots(
                keep_last=keep_last, protect_ids=ids, reference="delta")
        return out

    # ----- host authority ----------------------------------------------------

    def refresh_authority(self) -> int:
        """Fold every harvested link edge into fresh authority ranks
        (operators/graph.host_authority — fixed-point integer PageRank)
        and install them as the admission priority source: subsequent
        rounds run with ``priority = -rank`` per host. Call every
        O(10-100) rounds (like compaction) — authority shifts slowly and
        each refresh costs the K-iteration rank job. Returns the number
        of ranked hosts (0 when no edges exist yet — the authority table
        is then left untouched)."""
        if not self.use_authority:
            raise ValueError("driver was built with use_authority=False")
        if not self.link_edges.exists():
            return 0
        from fess_ds_s3_spark.operators.graph import host_authority
        edges = self.link_edges.read().select("src", "dst").distinct()
        ranks = host_authority(edges)
        from pyspark.sql import Observation
        obs = Observation()
        ranks = ranks.observe(obs, F.count(F.lit(1)).alias("n"))
        staged = self.authority.stage(ranks)
        n = int(obs.get["n"])
        if n:
            self.authority.overwrite(staged, {"round": self.last_round()})
        return n

    # ----- incremental re-crawl cycles ---------------------------------------

    def cycle_start(self) -> int:
        """First round of the ACTIVE incremental cycle, or 0 (whole-crawl
        window — no cycle ever began). Scheduling and the seen-set are
        scoped to rounds ≥ this boundary."""
        return max((r["start_round"] for r in self.cycles.rows()), default=0)

    def begin_incremental_cycle(self, listing_df: DataFrame, *,
                                version_cols=("etag", "size"),
                                adaptive_priority: bool = False,
                                ) -> CycleSummary:
        """Start a re-crawl cycle from a fresh listing snapshot: diff it
        against the stored previous listing (operators/incremental.py),
        seed ONLY the changed fraction (added + modified) as next-round
        frontier candidates, record deletion tombstones, and open a new
        seen-set generation so modified URLs are re-admittable without
        deleting anything from the ledger.

        First call (no stored listing) treats the whole listing as added —
        a full crawl — and later calls are incremental. The cycles-table
        append is the commit point; a crash before it leaves orphan
        candidate/tombstone appends that a re-run makes effective again
        (candidate duplicates collapse in in-batch dedup, tombstone
        duplicates collapse in read_live_index's max-round resolution), so
        re-running ``begin_incremental_cycle`` after a crash is always
        safe. Begin a cycle only after the previous one drained
        (``run(..., stop_when_empty=True)`` until ``admitted == 0``):
        change detection is listing-vs-listing, so a pending-but-uncrawled
        URL whose object did not change since the last listing classifies
        as unchanged and will not be re-seeded.
        The stored listing is overwritten BEFORE the commit point:
        a crash between the two can only make the next diff see an
        already-handled change as unchanged after a successful re-run —
        never lose one (the re-run recommits the cycle window over the
        crashed attempt's still-visible candidates)."""
        from pyspark.sql import Observation
        from fess_ds_s3_spark.operators import incremental as inc
        start_round = self.last_round() + 1
        cycle_id = max((r["cycle"] for r in self.cycles.rows()),
                       default=0) + 1

        # the prior ETag rides each candidate row so store-mode rounds GET
        # conditionally; null for added rows
        keep_prev = ("etag",) if "etag" in version_cols else ()
        if self.listing.exists():
            diff = inc.listing_diff(listing_df, self.listing.read(),
                                    version_cols=version_cols)
            cand = inc.recrawl_candidates(
                diff, version_cols=version_cols, keep_prev=keep_prev)
            tombs = inc.deletion_tombstones(diff)
            diff_all = diff.select("bucket", "key", "change")
        else:
            cand = listing_df.withColumn("change", F.lit("added"))
            for c in keep_prev:
                cand = cand.withColumn(f"prev_{c}",
                                       F.lit(None).cast("string"))
            tombs = listing_df.select("bucket", "key").limit(0)
            diff_all = listing_df.select(
                "bucket", "key", F.lit("added").alias("change"))

        priority = F.lit(0).cast("int")
        if adaptive_priority:
            # Fold this cycle's diff into the running change-rate schedule
            # (operators/incremental.update_schedule: state IS the
            # aggregate — one join per cycle, no raw history). Idempotence
            # guard: a crashed re-run whose fold already committed must
            # not double-count this cycle's observations — the schedule
            # snapshot's own metadata records the folded cycle.
            folded = self.schedule.metadata().get("cycle")
            if not (self.schedule.exists() and folded == cycle_id):
                prev_sched = (self.schedule.read()
                              if self.schedule.exists() else None)
                self.schedule.overwrite(
                    inc.update_schedule(prev_sched, diff_all, cycle_id),
                    {"cycle": cycle_id})
            sched = self.schedule.read()
            # hot objects (high change_rate) get LOW priority ints — they
            # lead the per-host (priority, discovery-time) admission order
            prio_int = F.least(
                F.lit(9), F.greatest(F.lit(0), F.floor(
                    (F.lit(1.0) - F.col("change_rate")) * 10)),
            ).cast("int")
            cand = cand.join(
                sched.select("bucket", "key", prio_int.alias("_prio")),
                on=["bucket", "key"], how="left")
            priority = F.coalesce(F.col("_prio"), F.lit(0)).cast("int")

        size_col = (F.col("size") if "size" in cand.columns
                    else F.lit(0))  # size absent iff not in version_cols
        cand_cols = [
            F.col("bucket"), F.col("key"),
            size_col.cast("long").alias("size"),
            priority.alias("priority"),
            # deterministic discovery order: cycle sequence, not clock
            F.to_timestamp(F.lit("2020-01-01")).alias("discovery_time")]
        cand_cols += [F.col(f"prev_{c}") for c in keep_prev]
        cand_rows = round_plan.prepare_frontier(
            cand.select(*cand_cols), self.cfg
        ).withColumn("round", F.lit(start_round))
        obs_c = Observation()
        cand_rows = cand_rows.observe(obs_c, F.count(F.lit(1)).alias("n"))
        staged = self.frontier.stage(cand_rows)
        n_cand = int(obs_c.get["n"])
        if n_cand:
            self.frontier.append(
                staged, {"round": start_round, "kind": "recrawl-candidates",
                         "cycle": cycle_id})

        obs_t = Observation()
        tomb_rows = (tombs.withColumn("round",
                                      F.lit(start_round).cast("int"))
                     .observe(obs_t, F.count(F.lit(1)).alias("n")))
        staged = self.tombstones.stage(tomb_rows)
        n_tomb = int(obs_t.get["n"])
        if n_tomb:
            self.tombstones.append(staged,
                                   {"round": start_round, "cycle": cycle_id})

        self.listing.overwrite(listing_df, {"cycle": cycle_id})
        summary = CycleSummary(cycle=cycle_id, start_round=start_round,
                               candidates=n_cand, deleted=n_tomb)
        # commit point: the cycle (and its seen-generation boundary) exists
        # once this row is visible
        self.cycles.append(self.cycles.stage_rows(
            [(cycle_id, start_round, n_cand, n_tomb)], CYCLES_SCHEMA),
            {"cycle": cycle_id})
        return summary

    def read_live_index(self) -> DataFrame:
        """The CURRENT document set across all cycles: committed indexed
        rows resolved to the latest round per object key, minus keys whose
        latest tombstone is newer than that row (deleted and not since
        re-created). One shuffle on the natural key; max_by partial-
        aggregates map-side, so the resolution is a single hash aggregate
        even over 10^9 indexed rows."""
        idx = self.read_committed("indexed")
        # indexed rows carry the objectMap's `bucket_name` (P5); raw
        # frontier-shaped sinks carry `bucket` — resolve either
        bcol = "bucket" if "bucket" in idx.columns else "bucket_name"
        latest = (idx.groupBy(bcol, "key")
                  .agg(F.max_by(F.struct(*idx.columns), F.col("round"))
                       .alias("_row"))
                  .select("_row.*"))
        if not self.tombstones.exists():
            return latest
        last_tomb = (self.tombstones.read()
                     .groupBy(F.col("bucket").alias(bcol), "key")
                     .agg(F.max("round").alias("_tomb_round")))
        return (latest.join(last_tomb, [bcol, "key"], "left")
                .filter(F.col("_tomb_round").isNull()
                        | (F.col("round") > F.col("_tomb_round")))
                .drop("_tomb_round"))

    # ----- loop ---------------------------------------------------------------

    def run(self, n_rounds: int, payloads: DataFrame | None = None,
            host_budgets: DataFrame | None = None,
            docs: DataFrame | None = None,
            stop_when_empty: bool = True) -> list[RoundSummary]:
        """Run/resume the crawl for up to ``n_rounds`` further rounds."""
        summaries = []
        start = self.last_round() + 1
        for round_id in range(start, start + n_rounds):
            summary = self.run_round(round_id, payloads=payloads,
                                     host_budgets=host_budgets, docs=docs)
            summaries.append(summary)
            if stop_when_empty and summary.admitted == 0:
                break
        return summaries
