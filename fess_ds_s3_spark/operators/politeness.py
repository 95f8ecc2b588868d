"""Per-host politeness scheduler (W1) with skew-aware salting.

Absent in the reference — its implicit "scheduling" is ascending
lexicographic (bucket, key) order from the S3 listing paged by ``max_keys``
(AmazonS3Client.java:137-148). The engine generalizes this to an explicit
priority queue, required by the north rule:

- canonical crawl order: ``(priority ASC, discovery_time ASC, url ASC)``
  within a host; all ties broken by url, so admission is a total order and
  deterministic under any partitioning/parallelism.
- per-host budget: admit the top-``budget`` rows per host per round
  (crawl-delay budgets: budget ≈ round_duration / crawl_delay).
- reference-equivalent mode: ``rank_by=("bucket", "key")`` with
  ``partition_by="bucket"`` reproduces the reference's crawl order exactly
  (O1: binary/UTF-8 collation — Spark string ordering is binary, matching
  S3's UTF-8 binary key order).

Skew handling (SURVEY.md §4.2): a window over ``partitionBy(host)`` puts an
entire hot host's frontier rows into a single task. For hosts whose frontier
count exceeds ``salt_threshold``, we pre-rank within ``k`` salts
(``salt = pmod(xxhash64(url), k)``), keeping the full budget per salt —
the per-host top-``budget`` rows each rank ≤ budget inside their own salt,
so the salted survivors are always a superset — then a second window over
the ≤ k×budget survivors restores the exact global top-``budget`` per host.
Output is bit-identical to the unsalted version; only the shuffle shape
changes (max task input for a hot host drops by ~k).

This module is the one admission core: budget resolution
(``_with_budget``), the per-host rank-and-cut (:func:`admit_per_host`) and
the round cap (:func:`cap_round`) serve both the shuffle round
(plans/round.py) and the host-bucketed round (plans/bucketed.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig

#: canonical deterministic crawl order within a host (ties → url)
DEFAULT_RANK_COLS: tuple[str, ...] = ("priority", "discovery_time", "url")


def rank_within_host(df: DataFrame,
                     partition_by: str | Sequence[str] = "host",
                     rank_by: Sequence[str] = DEFAULT_RANK_COLS,
                     rank_col: str = "host_rank") -> DataFrame:
    """Attach 1-based deterministic rank within each host (or bucket)."""
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    window = Window.partitionBy(*parts).orderBy(*[F.col(c).asc() for c in rank_by])
    return df.withColumn(rank_col, F.row_number().over(window))


def _with_budget(df: DataFrame, cfg: CrawlConfig,
                 host_budgets: DataFrame | None,
                 partition_by: str = "host"):
    """Resolve each row's per-round budget: returns ``(df, budget)``, the
    frame (with a ``budget_per_round`` column when ``host_budgets`` is
    given) and the budget expression. Hosts absent from the dim fall back
    to ``cfg.default_host_budget``. A host listed more than once keeps its
    least budget — the least-of rule ``robots.merge_host_budgets`` applies —
    so the broadcast join never fans a frontier row out."""
    default = F.lit(cfg.default_host_budget)
    if host_budgets is None:
        return df, default
    per_host = (host_budgets.groupBy(F.col("host").alias(partition_by))
                .agg(F.min("budget_per_round").alias("budget_per_round")))
    joined = df.join(F.broadcast(per_host), on=partition_by, how="left")
    return joined, F.coalesce(F.col("budget_per_round"), default)


def admit_per_host(
    df: DataFrame,
    cfg: CrawlConfig,
    host_budgets: DataFrame | None = None,
    partition_by: str = "host",
    rank_by: Sequence[str] = DEFAULT_RANK_COLS,
) -> DataFrame:
    """Admit the top-``budget`` frontier rows per host for this round.

    ``host_budgets``: optional small dim ``(host, budget_per_round)`` —
    broadcast-joined; hosts not present fall back to
    ``cfg.default_host_budget``, a repeated host keeps its least budget.
    Returns the admitted rows with a ``host_rank`` column (the within-host
    admission sequence).
    """
    budgeted, budget = _with_budget(df, cfg, host_budgets, partition_by)
    ranked = rank_within_host(budgeted, partition_by, rank_by)
    admitted = ranked.filter(F.col("host_rank") <= budget)
    if host_budgets is None:
        return admitted
    return admitted.drop("budget_per_round")


def find_hot_hosts(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Hosts with more than ``cfg.salt_threshold`` rows in ``df``."""
    return (df.groupBy("host").count()
            .filter(F.col("count") > cfg.salt_threshold).select("host"))


def admit_per_host_salted(
    df: DataFrame,
    cfg: CrawlConfig,
    host_budgets: DataFrame | None = None,
    hot_hosts: DataFrame | None = None,
    rank_by: Sequence[str] = DEFAULT_RANK_COLS,
) -> DataFrame:
    """Skew-aware admission: identical output to :func:`admit_per_host`,
    but hot hosts are pre-ranked within ``cfg.salt_buckets`` salts so no
    single window task materializes a whole hot host.

    ``hot_hosts``: optional small dim ``(host)`` of hosts to salt; if None it
    is computed from a cheap count (one extra narrow aggregation — at scale,
    feed this from the previous round's metrics instead).

    Two-pass structure:
      pass 1 — window over (host, salt): keep rank ≤ budget within each salt.
               This upper-bounds survivors at k × budget per host but cuts
               the max task input for a hot host by ~k.
      pass 2 — :func:`admit_per_host` on the ≤ k×budget survivors: exact
               global top-budget per host. Cheap because pass 1 already
               shrank the data to scheduler-output scale.
    """
    hot = find_hot_hosts(df, cfg) if hot_hosts is None else hot_hosts
    flagged = df.join(
        F.broadcast(hot.select("host").withColumn("_hot", F.lit(True))),
        on="host", how="left")
    salted = flagged.withColumn(
        "_salt",
        F.when(F.col("_hot").isNotNull(),
               F.pmod(F.xxhash64("url"), F.lit(cfg.salt_buckets)).cast("int"))
        .otherwise(F.lit(0)))
    salted, budget = _with_budget(salted, cfg, host_budgets)

    # Pass 1: per-(host, salt) pre-rank; each salt keeps the full budget so
    # pass 2 always sees a superset of the true per-host top-budget.
    survivors = (rank_within_host(salted, ("host", "_salt"), rank_by,
                                  rank_col="_pre_rank")
                 .filter(F.col("_pre_rank") <= budget))
    # Pass 2: exact per-host rank and cut over the shrunken survivor set.
    return admit_per_host(
        survivors.drop("_hot", "_salt", "_pre_rank", "budget_per_round"),
        cfg, host_budgets=host_budgets, rank_by=rank_by)


def cap_round(admitted: DataFrame, global_cap: int | None,
              rank_by: Sequence[str] = DEFAULT_RANK_COLS) -> DataFrame:
    """Apply the per-round admission cap to an admitted batch: the global
    top-``global_cap`` by ``rank_by`` — a distributed top-K
    (TakeOrderedAndProject), never a full global sort. A no-op when
    ``global_cap`` is None."""
    if global_cap is None:
        return admitted
    return (admitted.orderBy(*[F.col(c).asc() for c in rank_by])
            .limit(global_cap))


def reference_order_admission(df: DataFrame, max_keys: int) -> DataFrame:
    """Reference-equivalent crawl order: per-bucket ascending binary key
    order, first ``max_keys`` keys (one listing page = one admission batch).

    Mirrors S3/O1: ``getObjects`` (AmazonS3Client.java:137-148) emits keys in
    ascending lexicographic UTF-8 order per bucket, paged by ``max_keys``.
    """
    return (rank_within_host(df, partition_by="bucket", rank_by=("key",),
                             rank_col="page_rank")
            .filter(F.col("page_rank") <= max_keys))


def host_budget(backlog: DataFrame, budget: int, *,
                host_col: str = "host", pending_col: str = "pending",
                exact_remainders: bool = True) -> DataFrame:
    """Distribute a global per-round fetch budget across hosts
    proportionally to backlog — largest-remainder apportionment, fully
    integer and deterministic.  Returns ``(host, pending, quota)``.

    Semantics: with ``T = Σ pending``,

    - ``T ≤ budget`` → every host gets its whole backlog (``quota =
      pending``; the budget is not binding).
    - ``T > budget`` → ``quota = ⌊pending·B/T⌋`` plus one extra unit
      for the ``B - Σ⌊·⌋`` hosts with the largest remainder
      ``pending·B mod T`` (ties by host ascending).  ``Σ quota = B``
      exactly, and ``quota ≤ pending`` always (⌊pending·B/T⌋ <
      pending when B < T, so the +1 never overshoots).
    - ``T = 0`` or ``budget = 0`` → all quotas 0.

    With the per-host cap (admit_per_host) bounding each host, this
    bounds the ROUND — together they give "fetch at most B objects this
    round, spread fairly by backlog, never more per host than it has".
    The crawl round itself caps with :func:`cap_round`'s page top-K.

    Scale note: the exact leftover distribution ranks remainders with a
    GLOBAL window over the host table (one row per host — small next
    to the frontier, but a single-task sort at extreme host counts).
    ``exact_remainders=False`` skips it: quotas are the floor shares
    only (undershoots B by < #hosts units) and the plan stays fully
    parallel — the right trade at 10^8+ hosts.  Integer range: needs
    ``max(pending) · budget < 2^63`` (document-scale safe; pre-scale
    the budget unit otherwise).
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    pend = F.col(pending_col).cast("long")
    tot_df = backlog.agg(F.sum(pend).alias("_tot"))
    b = F.lit(budget).cast("long")
    shared = (backlog.select(F.col(host_col).alias("host"),
                             pend.alias("pending"))
              .crossJoin(F.broadcast(tot_df))
              .select("host", "pending",
                      F.coalesce(F.col("_tot"), F.lit(0).cast("long"))
                      .alias("_t"),
                      (F.col("pending") * b).alias("_num")))
    # `div` = integral division (exact at any magnitude — float floor
    # would lose precision past 2^53)
    base = shared.select(
        "host", "pending", "_t",
        F.when(F.col("_t") <= 0, F.lit(0).cast("long"))
        .otherwise(F.expr("_num div _t")).alias("_fl"),
        F.when(F.col("_t") <= 0, F.lit(0).cast("long"))
        .otherwise(F.col("_num") % F.col("_t")).alias("_rem"))
    if exact_remainders:
        leftover_df = base.agg(
            (b - F.coalesce(F.sum("_fl"), F.lit(0).cast("long")))
            .alias("_left"))
        w = Window.orderBy(F.col("_rem").desc(), F.col("host").asc())
        base = (base.crossJoin(F.broadcast(leftover_df))
                .withColumn("_rk", F.row_number().over(w)))
        bump = F.when((F.col("_t") > b) & (F.col("_rk") <= F.col("_left")),
                      F.lit(1).cast("long")).otherwise(F.lit(0)
                                                       .cast("long"))
    else:
        bump = F.lit(0).cast("long")
    quota = (F.when(F.col("_t") <= 0, F.lit(0).cast("long"))
             .when(F.col("_t") <= b, F.col("pending"))
             .otherwise(F.col("_fl") + bump))
    return base.select("host", "pending", quota.alias("quota"))
