"""Gap-based sessionization over an event stream.

Classic analytics operator: group each user's events into sessions that
break when the gap to the previous event exceeds a threshold — an
events-table operator (the gate's ``sessionize`` entry runs it over the
events table, DuckDB-oracled).

:func:`sessionize` / :func:`session_stats` use lag + cumulative-sum
window functions: per-event session ids, microsecond-exact integer math
(``unix_micros``), bit-for-bit oracle-checkable. A NEW session starts
when ``gap > gap_seconds`` (strictly greater). The test suite pins
:func:`session_stats` against Spark's built-in ``F.session_window``
aggregation on the fixture (the built-in closes a session at
``gap >= gapDuration``; on real microsecond timestamps that measure-zero
boundary never fires).

Scale notes (10^12 events):
- one shuffle on the user/entity key; within-partition sort by
  (ts, event_id) — Spark's window exec spills, so whale users work but
  serialize.
- event-time ties are broken by ``event_id``, so session ids are
  deterministic at any parallelism.

Reference scope: no analog in fess-ds-s3 (north-rule addition).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["sessionize", "session_stats"]


def _micros(ts_col: str, base_ts: str | None):
    """Event time as an exact BIGINT microsecond count. ``base_ts=None``
    → epoch micros via ``unix_micros`` (a TIMESTAMP_NTZ column is cast
    through the session timezone — the production default; run sessions
    under one fixed ``spark.sql.session.timeZone``). A naive base like
    ``"2024-01-01 00:00:00"`` → micros since that base computed with
    TIMESTAMP_NTZ arithmetic, fully timezone-INDEPENDENT (what the
    cross-engine oracle uses)."""
    if base_ts is None:
        return F.unix_micros(F.col(ts_col).cast("timestamp"))
    return F.expr(f"timestampdiff(MICROSECOND, "
                  f"TIMESTAMP_NTZ '{base_ts}', "
                  f"cast({ts_col} as timestamp_ntz))")


def sessionize(events: DataFrame, *, user_col: str = "user_id",
               ts_col: str = "ts", id_col: str = "event_id",
               gap_seconds: int = 1800,
               base_ts: str | None = None) -> DataFrame:
    """Append ``us`` (event time in microseconds — see :func:`_micros`)
    and ``session_id`` (1-based per-user session ordinal) to ``events``.
    A session breaks when the gap to the user's previous event exceeds
    ``gap_seconds`` strictly."""
    gap_us = int(gap_seconds) * 1_000_000
    w = Window.partitionBy(user_col).orderBy("us", id_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_us = events.withColumn("us", _micros(ts_col, base_ts))
    is_new = (F.lag("us").over(w).isNull()
              | ((F.col("us") - F.lag("us").over(w)) > gap_us))
    return (with_us
            .withColumn("_new", is_new.cast("long"))
            .withColumn("session_id", F.sum("_new").over(run))
            .drop("_new"))


def session_stats(events: DataFrame, *, user_col: str = "user_id",
                  ts_col: str = "ts", id_col: str = "event_id",
                  gap_seconds: int = 1800,
                  base_ts: str | None = None) -> DataFrame:
    """Per-session summary: ``(user_col, session_id, n_events,
    start_us, end_us)`` — integer columns only, oracle-exact."""
    s = sessionize(events, user_col=user_col, ts_col=ts_col,
                   id_col=id_col, gap_seconds=gap_seconds,
                   base_ts=base_ts)
    return (s.groupBy(user_col, "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us")))
