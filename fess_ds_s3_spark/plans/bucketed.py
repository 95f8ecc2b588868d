"""Host-bucketed frontier: scheduling rounds with ZERO exchanges.

The standard round (plans/round.py) shuffles the frontier twice per round —
the dedup aggregate on ``canonical_url``, then the politeness window on
``host``. At a 10^10-URL frontier those two exchanges ARE the round: every
byte of the frontier crosses the network twice per scheduling cycle.

This module moves that cost from per-round to once-at-ingest, using storage
partitioning (Spark bucketed tables):

- **Ingest** repartitions new frontier rows by ``host`` and writes them into
  a table ``CLUSTERED BY (host) INTO n BUCKETS``. Spark's bucketed write
  uses the same Murmur3 hash as ``HashPartitioning``, so a scan of the table
  reports ``HashPartitioning(host, n)`` to Catalyst.
- **The seen set lives IN the table** as ``committed = true`` rows (the
  Nutch-CrawlDb model: one status-carrying URL table, cf. Apache Nutch's
  generate/update cycle — public design). The unseen check is then a window
  ``max(committed)`` over ``(host, canonical_url)`` instead of a join, so it
  needs no exchange either.
- **Scheduling** is three window functions that all hang off the bucketed
  scan's partitioning — ``HashPartitioning(host)`` satisfies
  ``ClusteredDistribution`` for both ``(host, canonical_url)`` (subset rule)
  and ``(host)``:

      row_number over (host, canonical_url)  -- in-batch dedup (rn = 1)
      max(committed) over (host, canonical_url)  -- URL-seen filter
      row_number over (host)                 -- politeness admission rank

  The executed plan contains **no Exchange at all** (asserted in
  tests/test_bucketed.py): one bucketed FileScan, two sorts, two
  WindowExecs with ``WindowGroupLimit`` top-k pushdown. Per-round network
  traffic drops from O(frontier) to zero; the only shuffle left in the
  system is the one-time ``repartition(n, host)`` on each (small) ingest
  delta of newly discovered links.

Semantics are identical to ``plans.round.schedule`` (same dedup winner —
the rank order ends with the unique ``url`` tie-break — same unseen set,
same admission ranks); equality is test-pinned. Budget resolution, the
per-host rank-and-cut and the round cap are the shared admission core in
``operators/politeness.py``; this module differs from the shuffle round
only in input layout.

Skew precondition: a bucket is one task, so every host must fit one bucket
task. A host larger than that belongs on the salted shuffle round
(``plans.round.schedule``, ``politeness.admit_per_host_salted``), which is
the round ``CrawlDriver`` runs.

Reference parity note: the reference has no frontier table at all — its
"frontier" is the in-flight S3 listing page (AmazonS3Client.java:137-148).
This module is a north-rule addition (10^10-URL frontier scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import politeness
from fess_ds_s3_spark.plans.round import prepare_frontier

#: canonical column set of a bucketed frontier table, with Spark SQL types.
#: ``committed = true`` rows are URL-seen markers (only host/canonical_url
#: are meaningful on them); ``committed = false`` rows are pending frontier.
FRONTIER_TABLE_COLUMNS: tuple[tuple[str, str], ...] = (
    ("bucket", "string"),
    ("key", "string"),
    ("url", "string"),
    ("canonical_url", "string"),
    ("host", "string"),
    ("size", "bigint"),
    ("priority", "int"),
    ("discovery_time", "bigint"),
    ("committed", "boolean"),
)


def _conform(df: DataFrame, committed: bool) -> DataFrame:
    """Project to the table schema, filling absent columns with typed
    nulls so appends from heterogeneous sources line up."""
    cols = []
    for name, typ in FRONTIER_TABLE_COLUMNS:
        if name == "committed":
            cols.append(F.lit(committed).alias("committed"))
        elif name in df.columns:
            cols.append(F.col(name).cast(typ).alias(name))
        else:
            cols.append(F.lit(None).cast(typ).alias(name))
    return df.select(*cols)


def ingest_frontier(df: DataFrame, cfg: CrawlConfig, *, table: str,
                    path: str, n_buckets: int,
                    mode: str = "append") -> None:
    """Write frontier rows (pending, ``committed = false``) into the
    host-bucketed table, creating it on first write.

    This is the ONE shuffle in the bucketed design: ``repartition(n, host)``
    aligns tasks with buckets (same Murmur3 hash), so each task writes
    exactly one file into its own bucket — n files per ingest, not
    n × tasks. Amortized: ingest deltas are newly discovered links (small);
    every subsequent scheduling round reads the table shuffle-free.
    """
    prepared = _conform(prepare_frontier(df, cfg), committed=False)
    (prepared.repartition(n_buckets, "host")
     .write.mode(mode).format("parquet")
     .bucketBy(n_buckets, "host")
     .option("path", path)
     .saveAsTable(table))


def mark_committed(admitted: DataFrame, *, table: str, path: str,
                   n_buckets: int) -> None:
    """Append URL-seen markers (``committed = true``) for an admitted batch.

    The marker carries only (host, canonical_url); scheduling treats any
    group containing a marker as seen, and the pending rows it supersedes
    stay in the table — exactly the seen-delta append the snapshot ledger
    does, but colocated with the frontier so the probe costs no join.
    """
    markers = _conform(
        admitted.select("host", "canonical_url",
                        F.col("canonical_url").alias("url")).distinct(),
        committed=True)
    (markers.repartition(n_buckets, "host")
     .write.mode("append").format("parquet")
     .bucketBy(n_buckets, "host")
     .option("path", path)
     .saveAsTable(table))


def schedule_bucketed(frontier: DataFrame, cfg: CrawlConfig, *,
                      host_budgets: DataFrame | None = None,
                      rank_by=politeness.DEFAULT_RANK_COLS,
                      global_cap: int | None = None) -> DataFrame:
    """One scheduling round over a host-bucketed frontier scan:
    dedup → seen filter → politeness admission, with zero exchanges.

    ``frontier`` must be a scan of a table bucketed by ``host`` (e.g.
    ``spark.table(name)``) carrying the ``committed`` column; semantics
    (and output columns: the pending schema + ``host_rank``) match
    ``plans.round.schedule`` over the equivalent pending/seen split.

    Both dedup windows share one WindowExec: same partitioning
    ``(host, canonical_url)`` and ordering ``(committed, *rank_by)`` —
    pending rows order before markers, so the rn-1 row is the same winner
    ``dedup_in_batch`` picks, and ``max(committed)`` over the full frame
    flags seen groups without a join.
    """
    order = [F.col("committed").asc()] + [F.col(c).asc() for c in rank_by]
    w_rank = Window.partitionBy("host", "canonical_url").orderBy(*order)
    w_full = w_rank.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    deduped = (frontier
               .withColumn("_rn", F.row_number().over(w_rank))
               .withColumn("_seen", F.max("committed").over(w_full))
               .filter((F.col("_rn") == 1) & ~F.col("_seen"))
               .drop("_rn", "_seen", "committed"))
    admitted = politeness.admit_per_host(deduped, cfg,
                                         host_budgets=host_budgets,
                                         rank_by=rank_by)
    return politeness.cap_round(admitted, global_cap, rank_by)
