"""Single-threaded pure-Python transcription of the reference crawl.

Transcribes the *semantics* of ``AmazonS3DataStore.storeData``
(AmazonS3DataStore.java:144-288) — config parse, bucket iteration
(:166-189), per-object pipeline (:191-288) with E1/E2/E3 error routing —
plus the engine-only extensions (URL-seen set, per-host politeness budgets,
multi-round link extraction) in their simplest possible sequential form.

This is the ground truth the Spark engine is tested against (SURVEY.md
§5.2.2): identical admission order, URL-seen set, stored/discarded/failed
partition, and per-doc span sequences. Deliberately naive — clarity over
speed; never used in the hot path.

Also here: the scalar Python twins only the oracle needs
(:func:`management_url_py`, :func:`crawl_delay_of`) and the reference-exact
fixture (:func:`reference_frontier`, :func:`reference_payloads`) the golden
tests run on.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.functions.urls import (canonicalize_url_py,
                                             java_uri_encode_path,
                                             object_url_py)
from fess_ds_s3_spark.sources import synthetic

DISCARD_URL_FILTER = "url_filter"
DISCARD_MIMETYPE = "mimetype"
ERROR_MAX_LENGTH = "MaxLengthExceededException"


def management_url_py(bucket: str, key: str, region: str) -> str:
    """P2: AWS console object URL (getManagementUrl, :412-415) — the
    scalar twin of ``functions.urls.build_management_url``."""
    encoded = java_uri_encode_path(key)
    return (f"https://s3.console.aws.amazon.com/s3/object/{bucket}/{encoded}"
            f"?region={region}")


def crawl_delay_of(rules: list[dict], agent: str) -> float | None:
    """The Crawl-delay a parsed robots.txt gives ``agent`` (its own group
    first, then ``*``) — the scalar twin of the delay lookup in
    ``operators.robots.crawl_delay_budgets``."""
    agent = agent.lower()
    for pick in (agent, "*"):
        for r in rules:
            if r["agent"] == pick and r["rule_kind"] == "delay":
                return r["crawl_delay"]
    return None


@dataclass
class OracleResult:
    admissions: list[tuple[int, int, str]] = field(default_factory=list)
    #: (round, seq, url) — total admission order
    stored: list[dict[str, Any]] = field(default_factory=list)
    discarded: list[tuple[str, str]] = field(default_factory=list)  # (url, reason)
    failed: list[tuple[str, str]] = field(default_factory=list)  # (url, error)
    seen: set[str] = field(default_factory=set)  # canonical urls

    @property
    def stored_urls(self) -> list[str]:
        return [d["url"] for d in self.stored]


def _full_match(pattern: str | None, value: str) -> bool:
    """Java Matcher.matches() semantics (full match)."""
    return pattern is not None and re.fullmatch(pattern, value) is not None


class OracleCrawler:
    """Sequential crawl over in-memory frontier rows + payload dicts.

    ``frontier``: list of dicts with at least (bucket, key, size, host?,
    priority?, discovery_time?). ``payloads``: {(bucket, key): {content:
    bytes, resp_content_type: str}}. Missing payload = fetch error (E2/E3).
    """

    def __init__(self, cfg: CrawlConfig,
                 payloads: Mapping[tuple[str, str], Mapping[str, Any]] | None,
                 host_budgets: Mapping[str, int] | None = None,
                 robots_bodies: Mapping[str, str] | None = None,
                 robots_round_seconds: float = 60.0):
        self.cfg = cfg
        #: None = metadata-only listing crawl (engine payloads=None mode):
        #: no GET, no MIME check; size-guarded rows are stored contents-less.
        self.payloads = payloads
        self.host_budgets = dict(host_budgets or {})
        #: F6 (engine mode): per-host robots.txt bodies; rules route E1
        #: discards after the url filter and Crawl-delay tightens budgets —
        #: mirroring CrawlDriver.run_round's respect_robots wiring
        self.robots_rules: dict[str, list[dict]] | None = None
        if robots_bodies is not None:
            from fess_ds_s3_spark.operators.robots import parse_robots_txt
            self.robots_rules = {h: parse_robots_txt(b)
                                 for h, b in robots_bodies.items()}
        self.robots_round_seconds = robots_round_seconds

    def _robots_disallowed(self, host: str, url: str) -> bool:
        if self.robots_rules is None:
            return False
        from urllib.parse import urlsplit

        from fess_ds_s3_spark.operators.robots import robots_allowed
        rules = self.robots_rules.get(host)
        if not rules:
            return False
        path = urlsplit(url).path or "/"
        return not robots_allowed(rules, self.cfg.user_agent, path)

    def _robots_budget(self, host: str) -> int | None:
        """Crawl-delay → per-round budget (robots.crawl_delay_budgets
        semantics: floor(round_seconds / delay), min 1)."""
        if self.robots_rules is None:
            return None
        rules = self.robots_rules.get(host)
        if not rules:
            return None
        delay = crawl_delay_of(rules, self.cfg.user_agent)
        if delay is None or delay <= 0:
            return None
        return max(1, int(self.robots_round_seconds // delay))

    def _budget(self, host: str) -> int:
        """Effective per-host budget: least of the caller-provided budget
        and the Crawl-delay-derived one when both exist (engine:
        robots.merge_host_budgets); hosts with neither fall back to
        cfg.default_host_budget."""
        caller = self.host_budgets.get(host)
        robots = self._robots_budget(host)
        if caller is not None and robots is not None:
            return min(caller, robots)
        if caller is not None:
            return caller
        if robots is not None:
            return robots
        return self.cfg.default_host_budget

    # ----- per-object pipeline (storeObject, :191-288) ----------------------

    def _process(self, row: Mapping[str, Any], res: OracleResult) -> None:
        cfg = self.cfg
        url = row.get("url") or object_url_py(
            row["bucket"], row["key"], cfg.region, cfg.endpoint)

        # F1 urlFilter (:203-210) — E1 discard
        if cfg.include_pattern is not None and not _full_match(
                cfg.include_pattern, url):
            res.discarded.append((url, DISCARD_URL_FILTER))
            return
        if cfg.exclude_pattern is not None and _full_match(
                cfg.exclude_pattern, url):
            res.discarded.append((url, DISCARD_URL_FILTER))
            return

        # F6 robots (engine wiring: after the url filter, E1 discard —
        # plans/round.process; reference discard routing :203-210)
        if self._robots_disallowed(row.get("host") or "", url):
            res.discarded.append((url, "robots"))
            return

        # metadata-only mode: no GET/MIME; size guard then contents-less store
        if self.payloads is None:
            if row["size"] > cfg.max_size:
                res.failed.append((url, ERROR_MAX_LENGTH))
                return
            res.stored.append({
                "url": url,
                "management_url": management_url_py(
                    row["bucket"], row["key"], cfg.region),
                "bucket_name": row["bucket"],
                "key": row["key"],
                "filename": row["key"].rsplit("/", 1)[-1],
                "size": row["size"],
                "contents": None,
                "resp_content_type": None,
                "spans": row.get("spans"),
            })
            return

        # GET (:212) — missing payload = access error (E2)
        payload = self.payloads.get((row["bucket"], row["key"]))
        if payload is None:
            res.failed.append((url, "NoSuchKeyException"))
            return

        # F2 MIME allowlist on the *response* type (:215-221) — E1 discard.
        # The reference checks contentType BEFORE the size guard, so a row
        # that is both MIME-unsupported and oversize is a discard.
        resp_type = payload.get("resp_content_type", "")
        if not any(_full_match(p, resp_type)
                   for p in cfg.supported_mimetypes):
            res.discarded.append((url, DISCARD_MIMETYPE))
            return

        # F3 size guard (:223-226) — E2 failure, after the MIME check
        if row["size"] > cfg.max_size:
            res.failed.append((url, ERROR_MAX_LENGTH))
            return

        # extraction (:347-349, E3): error + ignore_error → contents=""
        content = payload.get("content", b"")
        try:
            contents = (content.decode("utf-8")
                        if isinstance(content, (bytes, bytearray))
                        else str(content))
        except UnicodeDecodeError:
            if not self.cfg.ignore_error:
                res.failed.append((url, "ExtractException"))
                return
            contents = ""

        res.stored.append({
            "url": url,
            "management_url": management_url_py(
                row["bucket"], row["key"], cfg.region),
            "bucket_name": row["bucket"],
            "key": row["key"],
            "filename": row["key"].rsplit("/", 1)[-1],
            "size": row["size"],
            "contents": contents,
            "resp_content_type": resp_type,
            "spans": row.get("spans"),
        })

    # ----- reference mode: bucket iteration × ascending keys ---------------

    def crawl_reference_order(self, frontier: Sequence[Mapping[str, Any]],
                              bucket_order: Sequence[str] | None = None,
                              ) -> OracleResult:
        """storeData semantics: buckets in listing order (filtered by
        cfg.buckets membership), keys ascending binary per bucket, paged by
        max_keys (pagination is invisible in the final result —
        AmazonS3ClientTest.java:187-201)."""
        res = OracleResult()
        buckets = bucket_order or sorted({r["bucket"] for r in frontier})
        seq = 0
        for bucket in buckets:
            if self.cfg.buckets and bucket not in self.cfg.buckets:
                continue
            rows = sorted((r for r in frontier if r["bucket"] == bucket),
                          key=lambda r: r["key"])
            for row in rows:
                url = row.get("url") or object_url_py(
                    row["bucket"], row["key"], self.cfg.region,
                    self.cfg.endpoint)
                res.admissions.append((0, seq, url))
                seq += 1
                self._process(row, res)
        return res

    # ----- engine mode: politeness + seen-set + rounds ----------------------

    def crawl_engine_order(self, frontier: Sequence[Mapping[str, Any]],
                           n_rounds: int = 1,
                           global_cap: int | None = None) -> OracleResult:
        """Engine semantics: per round, unseen URLs ranked within host by
        (priority, discovery_time, url), top-budget admitted per host;
        ``global_cap`` (the max_keys page-size analog) then keeps only the
        first ``cap`` admitted rows in (priority, discovery_time, url)
        order; admission log ordered by (round, host, host_rank); every
        *admitted* URL enters the seen set (stored, discarded and failed
        alike — a URL is never retried)."""
        res = OracleResult()
        remaining = list(frontier)
        for rnd in range(n_rounds):
            by_host: dict[str, list[dict]] = {}
            for row in remaining:
                url = row.get("url") or object_url_py(
                    row["bucket"], row["key"], self.cfg.region,
                    self.cfg.endpoint)
                canon = canonicalize_url_py(url)
                if canon in res.seen:
                    continue
                host = row.get("host") or ""
                by_host.setdefault(host, []).append(
                    {**row, "url": url, "_canon": canon})
            admitted: list[dict] = []
            for host in sorted(by_host):
                budget = self._budget(host)
                rows = sorted(by_host[host],
                              key=lambda r: (r.get("priority", 0),
                                             r.get("discovery_time", 0),
                                             r["url"]))
                # in-batch dedup: same canonical URL twice in one round →
                # first (by rank order) wins
                picked, in_batch = [], set()
                for r in rows:
                    if r["_canon"] in in_batch:
                        continue
                    in_batch.add(r["_canon"])
                    picked.append(r)
                    if len(picked) >= budget:
                        break
                admitted.extend(picked)
            if global_cap is not None and len(admitted) > global_cap:
                admitted = sorted(
                    admitted, key=lambda r: (r.get("priority", 0),
                                             r.get("discovery_time", 0),
                                             r["url"]))[:global_cap]
            seq = 0
            for row in admitted:
                res.admissions.append((rnd, seq, row["url"]))
                seq += 1
                res.seen.add(row["_canon"])
                self._process(row, res)
            admitted_canon = {r["_canon"] for r in admitted}
            remaining = [
                r for r in remaining
                if canonicalize_url_py(
                    r.get("url") or object_url_py(
                        r["bucket"], r["key"], self.cfg.region,
                        self.cfg.endpoint)) not in admitted_canon
            ]
        return res


# ---------------------------------------------------------------------------
# Reference-exact fixture (LocalAmazonS3 analog): buckets fess-0/fess-1,
# objects files/sample-0.txt = b"hogehoge" and files/sample-1.txt =
# b"hugahuga", uploaded as application/octet-stream
# (LocalAmazonS3.java:52-64,85-106)
# ---------------------------------------------------------------------------

def reference_frontier(spark: SparkSession) -> DataFrame:
    """2 buckets × 2 objects, ascending binary key order per bucket.

    No url/host columns: like a real S3 listing, URLs are constructed by
    the engine (P1) — prepare_frontier builds them (the frontier contract
    is: a url column, when present, is fully populated)."""
    rows = []
    for b in ("fess-0", "fess-1"):
        for i in (0, 1):
            rows.append((
                b, f"files/sample-{i}.txt", 8,
                f"etag-{b}-{i}", synthetic.FIXTURE_EPOCH, "owner-id",
                "owner-name", "STANDARD", 0, synthetic.FIXTURE_EPOCH, 0))
    schema = StructType([f for f in synthetic.FRONTIER_SCHEMA.fields
                         if f.name not in ("url", "host")])
    return spark.createDataFrame(rows, schema)


def reference_payloads(spark: SparkSession) -> DataFrame:
    """Bodies b"hogehoge"/b"hugahuga", uploaded type application/octet-stream
    (LocalAmazonS3.java:94-99)."""
    rows = []
    contents = {0: b"hogehoge", 1: b"hugahuga"}
    for b in ("fess-0", "fess-1"):
        for i, body in contents.items():
            rows.append((b, f"files/sample-{i}.txt", body,
                         "application/octet-stream", len(body)))
    return spark.createDataFrame(rows, synthetic.PAYLOAD_SCHEMA)
