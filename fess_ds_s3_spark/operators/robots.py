"""robots.txt rules (F6): parse → rules dim table → broadcast-join filter.

Absent in the reference (S3 has no robots); required by the north rule. The
engine treats robots as data, not side-effectful fetches:

1. **parse_robots_txt** — pure-Python parser with RFC 9309 longest-match
   semantics (modern crawler behavior; NOTE: stdlib ``urllib.robotparser``
   still uses legacy first-match-in-file-order for Allow/Disallow conflicts
   and will disagree where an Allow overrides a shorter Disallow). Used
   inside a pandas UDF and by the oracle; produces rule rows ``(host,
   agent, rule_kind, path_prefix, crawl_delay)`` — the FIXTURES.md §6 shape.
   Rule patterns are stored RAW (wildcards intact); matching decodes.
2. **robots_rules_table** — vectorized parse of fetched robots bodies
   (one row per host) into the rules dim table.
3. **apply_robots_filter** — broadcast-join the (small) rules table onto the
   frontier by host + vectorized longest-prefix allow/deny decision.
   Disallowed rows are E1 discards (reason ``robots``), mirroring the
   urlFilter-miss semantics (AmazonS3DataStore.java:203-210).

Matching semantics implemented (RFC 9309): ``*`` matches any character
sequence and a terminal ``$`` anchors the end of the path; the
most-specific (longest-pattern) matching rule wins; tie → Allow; no
matching rule → allowed; rules for the configured agent override ``*``
rules entirely when an agent-specific group exists. Rule pattern and
probed path are compared in the SAME encoding: both are percent-decoded
before matching (RFC 9309 §2.2.2 normalization; caveat: an encoded ``%2F``
inside a rule is not distinguished from a literal ``/`` — acceptable for
object-store key paths, documented here rather than silently divergent).
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import unquote, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, StringType,
                               StructField, StructType)

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators.filters import STATUS_DISCARDED, STATUS_PENDING

DISCARD_ROBOTS = "robots"

RULE_TYPE = StructType([
    StructField("agent", StringType(), True),
    StructField("rule_kind", StringType(), True),   # allow | disallow
    StructField("path_prefix", StringType(), True),
    StructField("crawl_delay", DoubleType(), True),
])

RULES_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("agent", StringType(), True),
    StructField("rule_kind", StringType(), True),
    StructField("path_prefix", StringType(), True),
    StructField("crawl_delay", DoubleType(), True),
])


# ---------------------------------------------------------------------------
# parsing (shared: pandas UDF + oracle)
# ---------------------------------------------------------------------------

def parse_robots_txt(body: str) -> list[dict]:
    """Parse a robots.txt body into rule dicts. Group semantics: consecutive
    ``User-agent`` lines open a group; rules apply to all its agents."""
    rules: list[dict] = []
    agents: list[str] = []
    group_open = False  # collecting user-agent lines
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not group_open:
                agents = []
                group_open = True
            agents.append(value.lower())
            continue
        group_open = False
        if field in ("allow", "disallow"):
            if not agents:
                continue
            # empty Disallow means "allow all" — record as allow ""
            kind = "allow" if (field == "allow" or value == "") else "disallow"
            for agent in agents:
                rules.append({"agent": agent, "rule_kind": kind,
                              "path_prefix": value, "crawl_delay": None})
        elif field == "crawl-delay":
            try:
                delay = float(value)
            except ValueError:
                continue
            for agent in agents:
                rules.append({"agent": agent, "rule_kind": "delay",
                              "path_prefix": None, "crawl_delay": delay})
    return rules


@lru_cache(maxsize=8192)
def _compiled_rule(pattern: str) -> "re.Pattern[str]":
    """RFC 9309 rule pattern → anchored-prefix regex: ``*`` matches any
    character sequence, a terminal ``$`` anchors the path end; everything
    else is literal. Pattern and path are both percent-decoded before
    comparison (same-encoding rule)."""
    pat = unquote(pattern or "")
    anchored = pat.endswith("$")
    if anchored:
        pat = pat[:-1]
    body = ".*".join(re.escape(part) for part in pat.split("*"))
    return re.compile("^" + body + ("$" if anchored else ""))


def rule_matches(pattern: str, path: str) -> bool:
    """Does one RFC 9309 rule pattern match a (raw, possibly
    percent-encoded) URL path?"""
    return _compiled_rule(pattern).match(unquote(path or "/")) is not None


def robots_allowed(rules: list[dict], agent: str, path: str) -> bool:
    """RFC 9309 longest-match decision for one path. Specificity = pattern
    length in octets (wildcards count as written), ties → Allow."""
    agent = agent.lower()
    specific = [r for r in rules if r["agent"] == agent
                and r["rule_kind"] in ("allow", "disallow")]
    pool = specific or [r for r in rules if r["agent"] == "*"
                        and r["rule_kind"] in ("allow", "disallow")]
    best_len, allowed = -1, True
    for r in pool:
        prefix = r["path_prefix"] or ""
        if rule_matches(prefix, path):
            plen = len(prefix)
            if plen > best_len or (plen == best_len
                                   and r["rule_kind"] == "allow"):
                best_len = plen
                allowed = r["rule_kind"] == "allow"
    return allowed


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

@pandas_udf(ArrayType(RULE_TYPE))
def _parse_rules(bodies: pd.Series) -> pd.Series:
    return bodies.map(lambda b: [
        (r["agent"], r["rule_kind"], r["path_prefix"], r["crawl_delay"])
        for r in parse_robots_txt(b)])


def robots_rules_table(robots_bodies: DataFrame,
                       host: str = "host",
                       body: str = "body") -> DataFrame:
    """(host, body) → exploded rules dim table (FIXTURES.md §6 shape)."""
    return (robots_bodies
            .select(F.col(host), F.explode(_parse_rules(F.col(body)))
                    .alias("r"))
            .select(host, F.col("r.agent").alias("agent"),
                    F.col("r.rule_kind").alias("rule_kind"),
                    F.col("r.path_prefix").alias("path_prefix"),
                    F.col("r.crawl_delay").alias("crawl_delay")))


#: broadcast the grouped rules dim only while its source bodies fit
#: comfortably in executor memory; past this, a plain shuffle join on host
#: produces identical routing (same gate pattern as the bloom probe's
#: broadcast-vs-cogroup switch, operators/seen.py:maybe_seen_auto)
ROBOTS_BROADCAST_MAX_BYTES = 64 << 20


def apply_robots_filter(df: DataFrame, rules: DataFrame, cfg: CrawlConfig,
                        url: str = "url",
                        rules_bytes: int | None = None) -> DataFrame:
    """Route robots-disallowed pending rows → discarded(robots).

    The rules table is collected per host group and joined on host, then
    the longest-match decision runs vectorized per Arrow batch. The join is
    a **size-gated broadcast**: for object-store crawls (hosts = buckets)
    the rules dim is tiny and broadcasting is free, but a web-shaped crawl
    with millions of hosts × rules could exceed driver/executor memory —
    so callers that know the rules size (``rules_bytes``: total robots body
    bytes, carried in the crawl driver's robots snapshot metadata) get an
    automatic fallback to a plain shuffle join past
    ``ROBOTS_BROADCAST_MAX_BYTES``. Routing is identical on both paths
    (tested); unknown size keeps the broadcast (the small-dim common case).
    """
    agent = cfg.user_agent.lower()
    grouped = (rules.groupBy("host")
               .agg(F.collect_list(F.struct("agent", "rule_kind",
                                            "path_prefix", "crawl_delay"))
                    .alias("host_rules")))
    if rules_bytes is not None and rules_bytes > ROBOTS_BROADCAST_MAX_BYTES:
        joined = df.join(grouped, on="host", how="left")
    else:
        joined = df.join(F.broadcast(grouped), on="host", how="left")

    @pandas_udf(BooleanType())
    def _allowed(urls: pd.Series, host_rules: pd.Series) -> pd.Series:
        out = []
        for u, rl in zip(urls, host_rules):
            if rl is None or len(rl) == 0:
                out.append(True)
                continue
            path = urlsplit(u).path or "/"
            rules_list = [{"agent": r["agent"], "rule_kind": r["rule_kind"],
                           "path_prefix": r["path_prefix"],
                           "crawl_delay": r["crawl_delay"]} for r in rl]
            out.append(robots_allowed(rules_list, agent, path))
        return pd.Series(out)

    denied = ((F.col("status") == STATUS_PENDING)
              & ~_allowed(F.col(url), F.col("host_rules")))
    return (joined
            .withColumn("discard_reason",
                        F.when(denied, F.lit(DISCARD_ROBOTS))
                        .otherwise(F.col("discard_reason")))
            .withColumn("status",
                        F.when(denied, F.lit(STATUS_DISCARDED))
                        .otherwise(F.col("status")))
            .drop("host_rules"))


def merge_host_budgets(a: DataFrame | None,
                       b: DataFrame | None) -> DataFrame | None:
    """Combine two per-host budget dims: full-outer join on host, budget =
    least of the two (politeness must respect BOTH constraints — e.g. a
    caller-provided budget AND a robots Crawl-delay-derived one). Either
    side may be None."""
    if a is None:
        return b
    if b is None:
        return a
    left = a.select("host", F.col("budget_per_round").alias("_ba"))
    right = b.select("host", F.col("budget_per_round").alias("_bb"))
    return (left.join(right, on="host", how="full_outer")
            # F.least skips nulls, so a host present on one side only
            # keeps that side's budget
            .select("host",
                    F.least("_ba", "_bb").alias("budget_per_round")))


def crawl_delay_budgets(rules: DataFrame, cfg: CrawlConfig,
                        round_seconds: float = 60.0) -> DataFrame:
    """Derive per-host politeness budgets from Crawl-delay rules:
    budget_per_round = floor(round_seconds / delay), min 1."""
    agent = cfg.user_agent.lower()
    delays = (rules.filter(F.col("rule_kind") == "delay")
              .filter(F.col("agent").isin(agent, "*"))
              .withColumn("_pref",
                          F.when(F.col("agent") == agent, 0).otherwise(1)))
    from pyspark.sql import Window
    w = Window.partitionBy("host").orderBy("_pref")
    return (delays.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("host",
                    F.greatest(F.lit(1),
                               F.floor(F.lit(round_seconds)
                                       / F.col("crawl_delay")))
                    .cast("int").alias("budget_per_round"),
                    (F.col("crawl_delay") * 1000).cast("long")
                    .alias("crawl_delay_ms")))
