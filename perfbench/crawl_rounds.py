"""crawl_rounds: three ``CrawlDriver`` rounds into a fresh warehouse,
fetching through an ``FsObjectStore`` that holds ~90% of the seed objects.

Seed rows carry a ``doc_id`` into generated ``synth_docs`` spans, so stored
seeds harvest media links; the links and the missing seeds route to E2
(NoSuchKey). Rows over the size guard fail with MaxLengthExceeded. The
round's time is mostly per-round fixed cost: Spark jobs, snapshot commits
and the bloom rebuild.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.operators import politeness, seen as seen_ops
from fess_ds_s3_spark.plans import crawl as crawl_plan
from fess_ds_s3_spark.plans import round as round_plan
from fess_ds_s3_spark.sources.object_store import (CountingFsStoreSpec,
                                                   FsObjectStore)
from fess_ds_s3_spark.sources.snapshots import SnapshotTable
from fess_ds_s3_spark.sources.synthetic import synth_docs, synth_frontier

import checks
from harness import dir_stats
from tracing import Patches, SparkWindow, Tracer, busy_ms, force

SEEDS = 8_000
HOSTS = 500
BUCKETS = 50
BUDGET = 50
DOCS = 4_000
ROUNDS = 3
MISS_SHARE = 10   # one seed object in MISS_SHARE is absent from the store
MAX_SIZE = 95_000  # sizes are uniform in [0, 100_000): ~5% hit the guard

SPARK_CONF = {"spark.sql.adaptive.enabled": "true",
              "spark.sql.shuffle.partitions": "8"}


def config() -> CrawlConfig:
    return CrawlConfig(region="us-east-1", default_host_budget=BUDGET,
                       max_size=MAX_SIZE, bloom_expected=SEEDS // 4 + 1000,
                       seen_partitions=8)


class Inputs:
    def __init__(self, spark, base: str, seed: int, cfg):
        self.base, self.seed, self.cfg = base, seed, cfg
        self.seeds = spark.read.parquet(f"{base}/seeds")
        self.docs = spark.read.parquet(f"{base}/docs")
        self.store_root = f"{base}/store"
        self.store_keys = f"{base}/store_keys.parquet"


def build(spark, root: str, seed: int, tag: str) -> Inputs:
    """Seed frontier and docs as parquet."""
    base = os.path.join(root, f"crawl-{tag}")
    seeds = (synth_frontier(spark, SEEDS, n_hosts=HOSTS, n_buckets=BUCKETS,
                            seed=seed, partitions=4)
             .withColumn("size", F.pmod(F.xxhash64(F.lit(seed + 5), "url"),
                                        F.lit(100_000)))
             .withColumn("doc_id", F.format_string(
                 "doc-%010d", F.pmod(F.xxhash64(F.lit(seed + 6), "url"),
                                     F.lit(DOCS)))))
    seeds.write.mode("overwrite").parquet(f"{base}/seeds")
    (synth_docs(spark, DOCS, seed=seed, max_spans=4, n_hosts=HOSTS,
                partitions=4)
     .write.mode("overwrite").parquet(f"{base}/docs"))
    return Inputs(spark, base, seed, config())


def build_store(inputs: Inputs) -> None:
    """The object store fixture: every seed object but ~1 in MISS_SHARE.

    Built once per run, outside the set-up median: it stands in for S3,
    and writing thousands of small files measures the disk (0.4 s
    to 4.3 s for the same files), not the package."""
    rows = (inputs.seeds
            .filter(F.pmod(F.xxhash64(F.lit(inputs.seed + 7), "url"),
                           F.lit(MISS_SHARE)) != 0)
            .select("bucket", "key").distinct().collect())
    store = FsObjectStore(inputs.store_root)
    for r in rows:
        store.put_object(r.bucket, r.key,
                         f"object {r.bucket}/{r.key}".encode())
    pq.write_table(pa.table({"bucket": [r.bucket for r in rows],
                             "key": [r.key for r in rows]}),
                   inputs.store_keys)


def crawl(spark, inputs: Inputs, warehouse: str, store=None,
          round_hook=contextlib.nullcontext, seeds=None,
          rounds: int = ROUNDS) -> tuple[list, list[float]]:
    """Seed a fresh warehouse and run ``rounds`` rounds; returns the round
    summaries and each round's wall seconds."""
    shutil.rmtree(warehouse, ignore_errors=True)
    driver = crawl_plan.CrawlDriver(spark, warehouse, inputs.cfg,
                                    object_store_root=store
                                    or inputs.store_root)
    driver.seed(inputs.seeds if seeds is None else seeds)
    summaries, walls = [], []
    for r in range(rounds):
        t0 = time.perf_counter()
        with round_hook(r):
            summaries.append(driver.run_round(r, docs=inputs.docs))
        walls.append(time.perf_counter() - t0)
    return summaries, walls


class Runner:
    """A timed pass keeps its warehouse for the untimed check, and the
    epoch-millisecond interval of each of its rounds."""

    def __init__(self, spark, inputs: Inputs, root: str):
        self.spark, self.inputs, self.root = spark, inputs, root
        build_store(inputs)
        self.last: tuple[str, list] | None = None
        self.round_windows: list[tuple[float, float]] = []

    def run_pass(self) -> list[tuple[float, int]]:
        wh = os.path.join(self.root, "crawl-wh")
        self.round_windows = []
        summaries, walls = crawl(self.spark, self.inputs, wh,
                                 round_hook=self._round_window)
        self.last = (wh, summaries)
        return [(w, s.admitted) for w, s in zip(walls, summaries)]

    def warm_up(self) -> None:
        """The traced run's warm-up: one round over ~1/8 of the seeds pays
        most of the JIT, codegen and Python-worker start-up of a pass in
        half the time of a full cold pass (rounds are fixed-cost bound)."""
        crawl(self.spark, self.inputs,
              os.path.join(self.root, "crawl-wh-warm"),
              seeds=self.inputs.seeds.filter(
                  F.pmod(F.xxhash64("url"), F.lit(8)) == 0), rounds=1)

    @contextlib.contextmanager
    def _round_window(self, _round: int):
        lo = time.time() * 1000
        try:
            yield
        finally:
            self.round_windows.append((lo, time.time() * 1000))

    def verify(self) -> list[checks.Check]:
        """Untimed check of the last timed pass's committed warehouse."""
        if self.last is None:
            self.run_pass()
        wh, summaries = self.last
        return [checks.check_crawl(
            wh, self.inputs.store_keys,
            [vars(s) for s in summaries], BUDGET, MAX_SIZE,
            tmp_dir=os.path.join(self.root, "tmp"))]


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

#: spans the traced pass must record; a missing one means the package
#: reached that layer some other way and the wrappers measured nothing
EXPECTED_SPANS = ("crawl.seed", "crawl.round", "round.prepare_dedup",
                  "seen.filter_unseen", "politeness.admit",
                  "snapshots.append", "snapshots.overwrite",
                  "seen.build_bloom", "seen.merge_blooms")


def round_profile(jobs, windows) -> dict[str, float]:
    """Median round wall, jobs per round and driver gap (round wall with no
    Spark job running) from the core status store's job intervals."""
    per_round, gaps = [], []
    for lo, hi in windows:
        per_round.append(sum(1 for j in jobs if lo <= j.submitted_ms <= hi))
        gaps.append((hi - lo - busy_ms(jobs, lo, hi)) / 1000.0)
    return {"crawl.round_s_p50": statistics.median(
                (hi - lo) / 1000.0 for lo, hi in windows),
            "crawl.jobs_per_round": float(statistics.median(per_round)),
            "crawl.driver_gap_s": statistics.median(gaps)}


def install_layer_spans(patches: Patches, tracer: Tracer, spark,
                        forced: list) -> None:
    """Wrap the scheduling layers so each one's output is persisted and
    counted inside its own span: ``plans.round.dedup_in_batch`` (with the
    frontier preparation that feeds it), ``operators.seen.filter_unseen``
    and ``operators.politeness.admit_per_host_salted``; ``run_round``
    reaches them through these module attributes.

    Jobs the benchmark adds only to count rows (layer inputs, bloom
    positives, false positives) and status-store reads run in
    ``trace.extra`` spans, so self time leaves them out of both the layer
    and the enclosing round."""

    def dedup(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("trace.extra"):
                rows_in = df.count()
            with tracer.span("round.prepare_dedup") as sp:
                out, n = force(orig(df, *a, **kw), forced)
            sp.attrs.update(rows_in=rows_in, rows_out=n)
            return out
        return wrapper

    def unseen(orig):
        def wrapper(frontier, seen_exact, blooms, cfg, *a, **kw):
            with tracer.span("seen.filter_unseen") as sp:
                out, n = force(orig(frontier, seen_exact, blooms, cfg,
                                    *a, **kw), forced)
            sp.attrs.update(rows_out=n)
            if blooms is None:
                return out
            with tracer.span("trace.extra"):
                probed = frontier.count()
                truly_seen = frontier.join(
                    seen_exact.select("canonical_url").distinct(),
                    "canonical_url", "left_semi").count()
                flagged = seen_ops.maybe_seen_auto(
                    frontier, blooms, cfg,
                    size_bytes=kw.get("bloom_size_bytes")).filter("maybe_seen")
                maybe = flagged.count()
                fp = flagged.join(
                    seen_exact.select("canonical_url").distinct(),
                    "canonical_url", "left_anti").count()
            sp.attrs.update(probed=probed, maybe_seen=maybe,
                            false_positive=fp,
                            truly_unseen=probed - truly_seen)
            return out
        return wrapper

    def admit(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("trace.extra"):
                window = SparkWindow(spark).open()
            with tracer.span("politeness.admit") as sp:
                out, n = force(orig(df, *a, **kw), forced)
            with tracer.span("trace.extra"):
                jobs = window.jobs()
                max_rows = window.max_task_shuffle_records(
                    {s for j in jobs for s in j.stage_ids})
                rows_in = df.count()
            sp.attrs.update(rows_in=rows_in, admitted=n,
                            max_task_rows=max_rows)
            return out
        return wrapper

    patches.wrap(round_plan, "dedup_in_batch", dedup)
    patches.wrap(seen_ops, "filter_unseen", unseen)
    patches.wrap(politeness, "admit_per_host_salted", admit)


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Scheduling-layer metrics from the spans ``install_layer_spans``
    recorded."""
    self_s = tracer.self_seconds()
    unseen = tracer.attr_sum("seen.filter_unseen", "truly_unseen")
    fp = tracer.attr_sum("seen.filter_unseen", "false_positive")
    return {
        "round.prepare_dedup.s": self_s.get("round.prepare_dedup", 0.0),
        "round.dedup.rows_in": tracer.attr_sum("round.prepare_dedup",
                                               "rows_in"),
        "round.dedup.rows_out": tracer.attr_sum("round.prepare_dedup",
                                                "rows_out"),
        "seen.filter_unseen.s": self_s.get("seen.filter_unseen", 0.0),
        "seen.probe.rows": tracer.attr_sum("seen.filter_unseen", "probed"),
        "seen.maybe_seen.rows": tracer.attr_sum("seen.filter_unseen",
                                                "maybe_seen"),
        "seen.false_positive.rows": fp,
        "seen.bloom_fpr": fp / unseen if unseen else 0.0,
        "politeness.admit.s": self_s.get("politeness.admit", 0.0),
        "politeness.rows_in": tracer.attr_sum("politeness.admit", "rows_in"),
        "politeness.admitted": tracer.attr_sum("politeness.admit",
                                               "admitted"),
        "politeness.max_task_rows": max(
            (s.attrs.get("max_task_rows", 0) for s in tracer.spans
             if s.name == "politeness.admit"), default=0),
    }


def traced_pass(spark, inputs: Inputs, tracer: Tracer,
                root: str) -> dict[str, float]:
    patches, forced = Patches(), []
    install_layer_spans(patches, tracer, spark, forced)

    def eager(name):
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def lazy(name):
        """Force a lazy layer's output inside its span."""
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    out, _ = force(orig(*a, **kw), forced)
                return out
            return wrapper
        return make

    patches.wrap(SnapshotTable, "append", eager("snapshots.append"))
    patches.wrap(SnapshotTable, "overwrite", eager("snapshots.overwrite"))
    patches.wrap(seen_ops, "build_bloom", lazy("seen.build_bloom"))
    patches.wrap(seen_ops, "merge_blooms", lazy("seen.merge_blooms"))
    patches.wrap(crawl_plan.CrawlDriver, "seed", eager("crawl.seed"))
    patches.wrap(crawl_plan.CrawlDriver, "run_round", eager("crawl.round"))
    log_path = os.path.join(root, "gets.log")
    open(log_path, "w").close()
    wh = os.path.join(root, "crawl-wh-traced")
    try:
        summaries, _ = crawl(spark, inputs, wh,
                             store=CountingFsStoreSpec(inputs.store_root,
                                                       log_path))
    finally:
        patches.restore()
        for df in forced:
            df.unpersist()
    with open(log_path) as fh:
        gets = [line.rstrip("\n").split("/", 1) for line in fh]
    stored = {(r["bucket"], r["key"])
              for r in pq.read_table(inputs.store_keys).to_pylist()}
    misses = sum(1 for g in gets if tuple(g) not in stored)
    files, size = dir_stats(wh)
    self_s = tracer.self_seconds()
    out = layer_metrics(tracer)
    out.update({
        "crawl.seed.s": self_s.get("crawl.seed", 0.0),
        "crawl.round.s": self_s.get("crawl.round", 0.0),
        "snapshots.append.s": self_s.get("snapshots.append", 0.0),
        "snapshots.append.calls": float(tracer.calls("snapshots.append")),
        "snapshots.overwrite.s": self_s.get("snapshots.overwrite", 0.0),
        "snapshots.files_written": float(files),
        "snapshots.bytes_written": float(size),
        "seen.build_bloom.s": self_s.get("seen.build_bloom", 0.0),
        "seen.merge_blooms.s": self_s.get("seen.merge_blooms", 0.0),
        "object_store.fetch.gets": float(len(gets)),
        "object_store.fetch.misses": float(misses),
        "extract.links_out": float(sum(s.new_links for s in summaries)),
        "crawl.admitted": float(sum(s.admitted for s in summaries)),
        "crawl.stored": float(sum(s.stored for s in summaries)),
        "crawl.failed": float(sum(s.failed for s in summaries)),
    })
    return out
