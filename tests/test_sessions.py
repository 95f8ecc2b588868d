"""Sessionization (operators/sessions.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fess_ds_s3_spark.operators import sessions
from fess_ds_s3_spark.operators.sessions import _micros

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def session_stats_native(events, *, user_col="user_id", ts_col="ts",
                         gap_seconds=1800, base_ts=None):
    """Oracle for :func:`sessions.session_stats` via the built-in
    ``F.session_window``: ``(user_col, n_events, start_us, end_us)`` with
    start/end as the min/max EVENT times (the raw window end includes the
    +gap padding)."""
    win = F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds")
    return (events
            .groupBy(F.col(user_col), win.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min(_micros(ts_col, base_ts)).alias("start_us"),
                 F.max(_micros(ts_col, base_ts)).alias("end_us"))
            .select(user_col, "n_events", "start_us", "end_us"))


def _events(spark, rows):
    # rows: (event_id, user_id, seconds_offset)
    data = [(eid, uid, BASE + dt.timedelta(seconds=s))
            for eid, uid, s in rows]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp")


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        ev = _events(spark, [
            (0, 1, 0), (1, 1, 100), (2, 1, 2000),   # 1900s gap > 1800
            (3, 1, 2100),
            (4, 2, 0),
        ])
        got = {r.event_id: r.session_id
               for r in sessions.sessionize(ev).collect()}
        assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1}

    def test_exact_gap_does_not_split(self, spark):
        # strictly-greater semantics: a gap of exactly 1800s stays
        ev = _events(spark, [(0, 1, 0), (1, 1, 1800), (2, 1, 3601)])
        got = {r.event_id: r.session_id
               for r in sessions.sessionize(ev).collect()}
        assert got == {0: 1, 1: 1, 2: 2}

    def test_tie_break_deterministic(self, spark):
        # identical timestamps: event_id orders, session unaffected
        ev = _events(spark, [(5, 1, 0), (3, 1, 0), (9, 1, 10)])
        got = sessions.sessionize(ev).collect()
        assert {r.session_id for r in got} == {1}


class TestSessionStats:
    def test_summary(self, spark):
        ev = _events(spark, [(0, 1, 0), (1, 1, 100), (2, 1, 2000)])
        got = {(r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
               for r in sessions.session_stats(ev).collect()}
        base_us = int(BASE.replace(
            tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        assert got == {
            (1, 1): (2, base_us, base_us + 100_000_000),
            (1, 2): (1, base_us + 2_000_000_000, base_us + 2_000_000_000),
        }

    def test_native_matches_window_variant_on_fixture(self, spark):
        # real events fixture: the two implementations agree
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        a = sessions.session_stats(ev).select(
            "user_id", "n_events", "start_us", "end_us")
        b = session_stats_native(ev)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
