"""One scheduling round as a single declarative DataFrame pipeline.

Spark-equivalent of the reference lifecycle (SURVEY.md §3.1):

    frontier scan → canonicalize → seen anti-membership → in-batch dedup →
    per-host politeness ranking + budget admission → filter chain
    (include/exclude, size) → fetch join → MIME filter → extract → project →
    status splits (stored / discarded / failed) + seen delta

Design for 100 TB scale:

- **Schedule on narrow columns.** Everything up to admission touches only
  (url, host, bucket, key, size, priority, discovery_time) — never contents
  or spans; payload columns join back *after* admission shrinks the data
  (column pruning + late materialization, SURVEY.md §4.1).
- **Admission is the only heavy shuffle** (window over host); skew-aware
  salting bounds per-task input (operators/politeness.py).
- **Filters route, never drop** — one pass produces all three sinks + stats;
  E1/E2/E3 semantics preserved exactly (operators/filters.py).
- **Determinism**: every ordering has a total tie-break (… , url); output is
  invariant under partition count / parallelism (tested).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.functions.urls import build_object_url, canonicalize_url
from fess_ds_s3_spark.operators import politeness, seen as seen_ops
from fess_ds_s3_spark.operators.extract import (fetch_payloads,
                                                route_extract,
                                                route_fetch_miss)
from fess_ds_s3_spark.operators.filters import (STATUS_DISCARDED,
                                                STATUS_FAILED, STATUS_PENDING,
                                                STATUS_STORED,
                                                STATUS_UNCHANGED,
                                                apply_max_size_guard,
                                                apply_mimetype_filter,
                                                apply_url_filter,
                                                bucket_filter,
                                                with_status_columns)
from fess_ds_s3_spark.operators.project import build_object_map


@dataclass
class RoundResult:
    """All outputs of one round; each is a (lazily evaluated) DataFrame."""
    admitted: DataFrame     # admission log: host, host_rank, url, ...
    processed: DataFrame    # routed rows with status column
    stored: DataFrame
    discarded: DataFrame
    failed: DataFrame
    seen_delta: DataFrame   # canonical_url + url_hash of every admitted URL


def prepare_frontier(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Attach url (if absent), canonical_url, host. Narrow, codegen-friendly."""
    df = bucket_filter(frontier, cfg)
    # Contract: a frontier with a non-void `url` column has it fully
    # populated (listing stages always emit it). Don't coalesce with the
    # constructed URL — Python UDFs inside a coalesce are extracted into an
    # unconditional ArrowEvalPython projection, so the percent-encoding UDF
    # would run on every row and chain a second JVM→Py boundary in front of
    # canonicalize (measured ~4× stage slowdown at 2M rows).
    if "url" not in df.columns or dict(df.dtypes).get("url") == "void":
        df = (df.drop("url") if "url" in df.columns else df).withColumn(
            "url", build_object_url("bucket", "key", cfg.region,
                                    cfg.endpoint))
    # canonical_url is a property of the URL: the frontier stores it at
    # ingestion time (CrawlDriver.seed / link extraction), so per-round
    # scheduling is pure JVM. Computing it here per round would pay the
    # Python boundary once per round per DAG branch — and Catalyst's filter
    # pushdown through the dedup window re-splits the UDF chain into double
    # evaluation (measured 4× per-row Python cost at 2M rows).
    if ("canonical_url" not in df.columns
            or dict(df.dtypes).get("canonical_url") == "void"):
        df = ((df.drop("canonical_url") if "canonical_url" in df.columns
               else df)
              .withColumn("canonical_url", canonicalize_url(F.col("url"))))
    if "host" not in df.columns or dict(df.dtypes).get("host") == "void":
        df = (df.drop("host") if "host" in df.columns else df).withColumn(
            "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
    return df


def dedup_in_batch(df: DataFrame,
                   rank_by=politeness.DEFAULT_RANK_COLS) -> DataFrame:
    """First-by-rank per canonical URL within the batch (oracle: in-batch
    dedup before budget counting).

    Implemented as ``groupBy(canonical_url).min(struct(rank_by, rest))``
    rather than a row_number window: identical winner (the struct compares
    lexicographically and ``rank_by`` ends with the unique ``url`` tie-break)
    but a hash aggregate gets MAP-SIDE PARTIAL COMBINE — duplicate URLs
    collapse before the shuffle — and skips the window's per-partition sort
    entirely. At 10^10-URL frontiers with re-discovered links this is the
    difference between shuffling the frontier and shuffling its distinct
    set."""
    rank_cols = [c for c in rank_by]
    others = [c for c in df.columns
              if c not in rank_cols and c != "canonical_url"]
    agg = (df.groupBy("canonical_url")
           .agg(F.min(F.struct(*rank_cols, *others)).alias("_w")))
    # restore the caller's column order
    return agg.select(*[
        F.col("canonical_url") if c == "canonical_url"
        else F.col(f"_w.{c}").alias(c)
        for c in df.columns])


#: columns the scheduler actually needs — everything else is
#: late-materialized after admission (narrow scheduling: the politeness and
#: dedup shuffles are memory-bandwidth-bound, so every byte per row counts)
SCHEDULE_COLS = ("bucket", "key", "url", "canonical_url", "host", "size",
                 "priority", "discovery_time")


def schedule(frontier: DataFrame, cfg: CrawlConfig, *,
             seen_exact: DataFrame | None = None,
             blooms: DataFrame | None = None,
             host_budgets: DataFrame | None = None,
             use_salting: bool = True,
             narrow: bool = True,
             global_cap: int | None = None,
             bloom_size_bytes: int | None = None) -> DataFrame:
    """Scheduling half of the round: returns the admitted batch with
    ``host_rank`` (the within-host admission sequence).

    ``narrow=True`` projects to SCHEDULE_COLS before the shuffles; callers
    that need the full frontier row (run_round) join it back on ``url``
    AFTER admission shrinks the data (late materialization).

    ``global_cap``: per-round admission LIMIT across all hosts — the O2
    analog of the reference's listing page size (``max_keys``,
    AmazonS3Client.java:137-148: one page of ≤ max_keys objects per
    request; here one round = one page of work, the next round resumes
    after it, like ``startAfter``). Deterministic total order
    (priority, discovery_time, url) → Spark plans a distributed top-K
    (TakeOrderedAndProject), never a full global sort. One whale host
    full of high-priority URLs can take the whole page, exactly like a
    listing page would.
    """
    df = prepare_frontier(frontier, cfg)
    if narrow:
        keep = [c for c in df.columns
                if c in SCHEDULE_COLS or c == "round"]
        df = df.select(*keep)
    # Order matters for plan shape: the dedup aggregate is the pipeline's
    # first shuffle, placed BEFORE the seen filter (semantics-preserving:
    # the min-rank survivor per canonical URL is the same whether duplicates
    # are removed before or after the unseen check). Every later branch —
    # the bloom union, the hot-host count, the two politeness windows — then
    # hangs off this Exchange and ReuseExchange evaluates the expensive
    # pre-shuffle subtree (scan + canonicalize UDF) exactly once. No
    # persist: caching wide string rows costs more than the recompute.
    df = dedup_in_batch(df)
    if seen_exact is not None:
        df = seen_ops.filter_unseen(df, seen_exact, blooms, cfg,
                                    bloom_size_bytes=bloom_size_bytes)
    if use_salting:
        # Hot hosts from the RAW frontier, not the filtered pipeline: a
        # narrow groupBy(host) with full column pruning (no UDF, no dedup
        # shuffle). Filtering only shrinks per-host counts, so this flags a
        # superset of the truly-hot hosts — salting a non-hot host is
        # correctness-neutral. Computing it downstream instead would
        # re-execute the UDF+dedup subtree (pruning changes the exchange
        # schema, defeating ReuseExchange). A frontier without a host
        # column leaves the count to admit_per_host_salted.
        hot = (politeness.find_hot_hosts(frontier, cfg)
               if "host" in frontier.columns else None)
        admitted = politeness.admit_per_host_salted(
            df, cfg, host_budgets=host_budgets, hot_hosts=hot)
    else:
        admitted = politeness.admit_per_host(df, cfg,
                                             host_budgets=host_budgets)
    return politeness.cap_round(admitted, global_cap)


def process(admitted: DataFrame, cfg: CrawlConfig,
            payloads: DataFrame | None = None, *,
            robots_rules: DataFrame | None = None,
            robots_rules_bytes: int | None = None,
            object_store_root=None,
            if_none_match_col: str | None = None) -> DataFrame:
    """Processing half: filter chain + fetch + extract + project. Returns
    the wide documents rows with status routing columns.

    Routing order for fetched rows mirrors the reference exactly:
    urlFilter (E1) → robots (E1, when ``robots_rules`` is given — north-rule
    addition, same discard routing as the urlFilter miss,
    AmazonS3DataStore.java:203-210) → getObject miss (E2) → MIME allowlist
    (E1, AmazonS3DataStore.java:215-221) → max-size (E2, :223-226) → extract
    (E3). In particular an object that is both MIME-unsupported and
    oversize is a *discard*, not a failure row — the reference checks
    contentType first. In listing-only mode (no payload table) there is no
    response type, so only the size guard applies.

    Fetch source: ``payloads`` (a pre-fetched content table, joined on
    (bucket, key)) or ``object_store_root`` (the production-shaped stage —
    ``sources.object_store.fetch_objects`` issues batched GETs from inside
    ``mapInPandas``). Exactly one may be given.

    ``if_none_match_col`` (store mode only): a column of prior ETags. Each
    GET goes out with ``IfNoneMatch``; a 304 carries no body and routes
    the row to ``unchanged`` before any pending-only stage sees it.
    """
    if payloads is not None and object_store_root is not None:
        raise ValueError("pass either payloads or object_store_root, not both")
    if if_none_match_col is not None and object_store_root is None:
        raise ValueError("if_none_match_col requires object_store_root "
                         "(conditional GETs run in the store fetch stage)")
    df = with_status_columns(admitted)
    df = apply_url_filter(df, cfg)
    if robots_rules is not None:
        from fess_ds_s3_spark.operators.robots import apply_robots_filter
        df = apply_robots_filter(df, robots_rules, cfg,
                                 rules_bytes=robots_rules_bytes)
    if payloads is not None or object_store_root is not None:
        if payloads is not None:
            df = fetch_payloads(df, payloads)
        else:
            from fess_ds_s3_spark.sources.object_store import fetch_objects
            # number_of_threads also bounds the per-task GET pool inside the
            # fetch stage — the reference's fixedThreadPool is an upper
            # bound on concurrent fetches against the store, and this keeps
            # that throttling intent expressible per task (global GET
            # concurrency ≤ tasks × number_of_threads; documented divergence:
            # it is not a global cap on a wide cluster).
            df = fetch_objects(df, object_store_root,
                               fetch_concurrency=cfg.number_of_threads,
                               if_none_match_col=if_none_match_col)
            if if_none_match_col is not None:
                # conditional-fetch 304: the object did not change since
                # the prior ETag — no body came back; the row is a
                # first-class "unchanged" outcome (previously indexed doc
                # stays current), invisible to every downstream
                # pending-only routing stage.
                df = df.withColumn(
                    "status",
                    F.when(F.coalesce(F.col("_not_modified"), F.lit(False))
                           & (F.col("status") == STATUS_PENDING),
                           F.lit(STATUS_UNCHANGED))
                    .otherwise(F.col("status")))
        # X1 fan-out: the reference's fixedThreadPool(number_of_threads)
        # parallelizes per-object fetch+extract; the analog is the partition
        # width of the Python extraction stage. The knob is a FLOOR, not a
        # cap: a reference-style small value (e.g. 4) must never force a
        # full content-byte shuffle down to 4 partitions on a big cluster,
        # so the repartition only fires when the requested width EXCEEDS the
        # cluster's natural parallelism; otherwise the stage keeps its
        # existing (≥ requested) partitioning and no shuffle is added.
        natural = df.sparkSession.sparkContext.defaultParallelism
        if cfg.number_of_threads > natural:
            df = df.repartition(cfg.number_of_threads)
        df = route_fetch_miss(df)
        df = apply_mimetype_filter(df, cfg)
        df = apply_max_size_guard(df, cfg)
        df = route_extract(df, cfg)
    else:
        df = apply_max_size_guard(df, cfg)
        # listing-only crawl (no payload table): metadata-only store
        df = (df.withColumn("resp_content_type",
                            F.lit(None).cast("string"))
              .withColumn("contents", F.lit(None).cast("string"))
              .withColumn("status",
                          F.when(F.col("status") == "pending",
                                 F.lit(STATUS_STORED))
                          .otherwise(F.col("status"))))
    return build_object_map(df, cfg)


def run_round(frontier: DataFrame, cfg: CrawlConfig, *,
              payloads: DataFrame | None = None,
              seen_exact: DataFrame | None = None,
              blooms: DataFrame | None = None,
              host_budgets: DataFrame | None = None,
              robots_rules: DataFrame | None = None,
              robots_rules_bytes: int | None = None,
              object_store_root=None,
              if_none_match_col: str | None = None,
              global_cap: int | None = None,
              bloom_size_bytes: int | None = None) -> RoundResult:
    """Full round. The admitted batch is the pivot: it is small (budget-
    bounded), so caching it avoids recomputing the scheduling shuffle for
    each of the three sink writes + the seen delta."""
    admitted = schedule(
        frontier, cfg, seen_exact=seen_exact, blooms=blooms,
        host_budgets=host_budgets, narrow=True, global_cap=global_cap,
        bloom_size_bytes=bloom_size_bytes)
    # late materialization: join the wide frontier columns back onto the
    # (budget-bounded, small) admitted batch only. One row per url on the
    # right, chosen by min (priority, discovery_time, …) — the same winner
    # the dedup rank picked, so re-discovered URLs join deterministically.
    wide_cols = [c for c in frontier.columns
                 if c not in admitted.columns and c not in ("url", "host",
                                                            "canonical_url")]
    if wide_cols:
        prepared = prepare_frontier(frontier, cfg)
        # Prune the frontier to the admitted URL set BEFORE the per-url
        # winner aggregation: the admitted batch is budget-bounded (small),
        # so a broadcast left-semi join keeps the wide-column aggregate from
        # shuffling the ENTIRE frontier every round — Catalyst cannot push
        # the final join below the aggregate on its own (plan shape asserted
        # in tests/test_invariance.py).
        pruned = prepared.join(F.broadcast(admitted.select("url").distinct()),
                               on="url", how="left_semi")
        one_per_url = (pruned
                       .groupBy("url")
                       .agg(F.min(F.struct("priority", "discovery_time",
                                           *wide_cols)).alias("_w"))
                       .select("url", *[F.col(f"_w.{c}").alias(c)
                                        for c in wide_cols]))
        admitted = admitted.join(one_per_url, on="url", how="left")
    processed = process(admitted, cfg, payloads, robots_rules=robots_rules,
                        robots_rules_bytes=robots_rules_bytes,
                        object_store_root=object_store_root,
                        if_none_match_col=if_none_match_col)
    return RoundResult(
        admitted=admitted,
        processed=processed,
        stored=processed.filter(F.col("status") == STATUS_STORED),
        discarded=processed.filter(F.col("status") == STATUS_DISCARDED),
        failed=processed.filter(F.col("status") == STATUS_FAILED),
        seen_delta=admitted.select(
            "canonical_url",
            F.xxhash64("canonical_url").alias("url_hash")).distinct(),
    )
