"""Repository benchmark: one workload per process, in a fresh ``local[4]``
Spark session, inputs generated from ``--seed``.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` times passes with tracing off and prints the end-to-end
metrics; ``--trace 1`` runs an untimed warm-up, one untraced and one traced
pass and prints the per-layer metrics. Either way every run checks its outputs, and the last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
import traceback

from checks import Check
from harness import CORES, ScratchRoot, Session, log, run_timed, timed_reps
from tracing import SparkWindow, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

#: set-up repetitions per run; ``setup_s`` is their median
SETUP_REPS = 5

WORKLOADS = ("crawl_rounds", "train_corpus")

END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}

#: per-layer metrics; a layer a workload never calls reads 0 there
PER_LAYER = {
    "round.prepare_dedup.s": "s", "round.dedup.rows_in": "rows",
    "round.dedup.rows_out": "rows",
    "seen.filter_unseen.s": "s", "seen.probe.rows": "rows",
    "seen.maybe_seen.rows": "rows", "seen.false_positive.rows": "rows",
    "seen.bloom_fpr": "ratio",
    "politeness.admit.s": "s", "politeness.rows_in": "rows",
    "politeness.admitted": "rows", "politeness.max_task_rows": "rows",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.exchanges": "count", "spark.jobs": "count", "spark.tasks": "count",
    "spark.python_bytes_sent": "B",
    "crawl.seed.s": "s", "crawl.round.s": "s", "crawl.round_s_p50": "s",
    "crawl.jobs_per_round": "count", "crawl.driver_gap_s": "s",
    "snapshots.append.s": "s", "snapshots.append.calls": "count",
    "snapshots.overwrite.s": "s", "snapshots.files_written": "count",
    "snapshots.bytes_written": "B",
    "seen.build_bloom.s": "s", "seen.merge_blooms.s": "s",
    "object_store.fetch.gets": "count", "object_store.fetch.misses": "count",
    "extract.links_out": "count", "crawl.admitted": "count",
    "crawl.stored": "count", "crawl.failed": "count",
    "curate.s": "s", "curate.rows_out": "rows",
    "dedup.minhash.s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.precision": "ratio",
    "dedup.planted_recall": "ratio",
    "mix.s": "s", "packing.s": "s", "export.s": "s",
    "export.bytes_written": "B",
    "setup.session_s": "s", "setup.warmup_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    "trace.extra.s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "fess_ds_s3_spark")):
        print("perfbench: the fess_ds_s3_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    wl = importlib.import_module(args.workload)

    with ScratchRoot(f"{args.workload}-{args.seed}") as root:
        with Session(root, CORES, wl.SPARK_CONF) as sess:
            spark = sess.spark
            # the traced run prints no setup_s, so it sets up once
            reps = 1 if args.trace else SETUP_REPS
            tags = iter(range(reps))
            setup_walls, inputs = timed_reps(
                lambda: wl.build(spark, root.path, args.seed,
                                 str(next(tags))), reps)
            runner = wl.Runner(spark, inputs, root.path)
            log(f"{args.workload} seed={args.seed}: session "
                f"{sess.start_s:.2f}s, set-ups "
                + " ".join(f"{w:.2f}s" for w in setup_walls))
            if args.trace:
                values, failed = _traced(wl, spark, inputs, runner,
                                         root.path, args)
                values["setup.session_s"] = sess.start_s
                values["jvm.peak_rss_mb"] = sess.jvm_peak_rss_mb()
                attempted = 3
            else:
                passes = run_timed(runner.run_pass, args.seconds)
                log(f"{len(passes.walls)} samples: "
                    + " ".join(f"{w:.3f}" for w in passes.walls))
                values = {"setup_s": statistics.median(setup_walls)}
                if passes.walls:
                    values["items_per_s"] = passes.items_per_s()
                attempted, failed = passes.attempted, passes.failed
            results = _verify(runner)
    checks_ok = all(c.ok for c in results)
    for c in results:
        if "planted_recall" in c.values:
            values["dedup.planted_recall"] = c.values["planted_recall"]
    metrics = _metrics(values, PER_LAYER if args.trace else END_TO_END)
    attempted += 1
    failed += 0 if checks_ok else 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _verify(runner) -> list[Check]:
    """The workload's untimed output checks; a check that cannot run has
    failed."""
    try:
        results = runner.verify()
    except Exception as exc:
        results = [Check("verify", ok=False,
                         detail=[f"{type(exc).__name__}: {exc}"])]
    for c in results:
        log(f"check {c.name}: {'ok' if c.ok else 'FAILED'} {c.values} "
            + "; ".join(c.detail))
    return results


def _traced(wl, spark, inputs, runner, root: str,
            args) -> tuple[dict[str, float], int]:
    """An untimed warm-up, one untraced pass (Spark counters, crawl round
    profile) and one traced pass; spans are written to .perfbench/traces at
    the end. Returns the metrics and the number of failed passes: a pass
    fails if it raises, and the traced pass also fails if it recorded no
    span for a layer the workload must reach (its wrapper never fired, so
    that layer's metrics would read 0)."""
    values: dict[str, float] = {}
    tracer = Tracer()
    try:
        t0 = time.perf_counter()
        runner.warm_up()
        values["setup.warmup_s"] = time.perf_counter() - t0
        window = SparkWindow(spark).open()
        t0 = time.perf_counter()
        runner.run_pass()
        untraced = time.perf_counter() - t0
        values.update(window.collect())
        if hasattr(wl, "round_profile"):
            values.update(wl.round_profile(window.jobs(),
                                           runner.round_windows))
        t0 = time.perf_counter()
        values.update(wl.traced_pass(spark, inputs, tracer, root))
        values["trace.untraced_pass_s"] = untraced
        values["trace.overhead_s"] = time.perf_counter() - t0 - untraced
    except Exception:  # a failed pass is a result, not a crash
        log("traced run failed:\n" + traceback.format_exc())
        return values, 1
    finally:
        out_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir,
                                 f"{args.workload}-seed{args.seed}.json"))
    values["trace.extra.s"] = tracer.self_seconds().get("trace.extra", 0.0)
    missing = [n for n in wl.EXPECTED_SPANS if not tracer.calls(n)]
    if missing:
        log(f"traced pass recorded no span for {missing}")
        return values, 1
    return values, 0


if __name__ == "__main__":
    sys.exit(main())
