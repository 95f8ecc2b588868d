"""Self-tests of the benchmark's checks and tracing.

    python3 -m pytest perfbench/tests -q

Each output check must reject a planted fault (the crawl and export checks
start a local Spark session); metric names must be
well-formed and match BENCHMARK.json; self-time arithmetic must be right on
a hand-built span tree.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path[:0] = [CHECKOUT, BENCH]

import checks  # noqa: E402
import run  # noqa: E402
from tracing import (Span, Tracer, count_shuffle_exchanges,  # noqa: E402
                     parse_size, self_times)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ---------------------------------------------------------------------------
# dedup pair check
# ---------------------------------------------------------------------------

def _texts():
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "mut1")
    other = " ".join(f"x{i}" for i in range(60))
    return {"d1": base, "d2": near, "d3": other}


def test_pair_check_accepts_true_pair_and_reports_recall():
    chk = checks.check_pairs([("d1", "d2")], _texts(), 0.8, {("d1", "d2")})
    assert chk.ok
    assert chk.values["planted_recall"] == 1.0


def test_pair_check_rejects_extra_pair():
    chk = checks.check_pairs([("d1", "d2"), ("d1", "d3")], _texts(), 0.8,
                             {("d1", "d2")})
    assert not chk.ok


def test_pair_check_recall_counts_missed_planted_pair():
    chk = checks.check_pairs([], _texts(), 0.8, {("d1", "d2")})
    assert chk.ok and chk.values["planted_recall"] == 0.0


def test_shingles_match_pipeline_normalization():
    assert checks.shingle_set("  A b\tc  d e f ") == {"a b c d e",
                                                      "b c d e f"}
    assert checks.shingle_set("one two") == {"one two"}


# ---------------------------------------------------------------------------
# export check (needs Spark: the manifest checksums are Spark hashes)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    tmp = str(tmp_path_factory.mktemp("spark"))
    # Python workers (the crawl's fetch stage) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    session = (SparkSession.builder.master("local[2]")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.local.dir", tmp)
               .getOrCreate())
    yield session
    session.stop()


def test_export_check_rejects_altered_row(spark, tmp_path):
    from fess_ds_s3_spark.plans.export import (verify_training_shards,
                                               write_training_shards)
    df = spark.range(200).selectExpr("format_string('d%04d', id) AS doc_id",
                                     "id AS tokens")
    out = str(tmp_path / "export")
    manifest = write_training_shards(df, out, n_shards=4, key="doc_id")
    ok = checks.check_export(verify_training_shards(spark, out), manifest,
                             200)
    assert ok.ok
    assert not checks.check_export(verify_training_shards(spark, out),
                                   manifest, 199).ok
    shard_dir = os.path.join(out, "data", "shard=0")
    victim = sorted(f for f in os.listdir(shard_dir)
                    if f.endswith(".parquet"))[0]
    path = os.path.join(shard_dir, victim)
    table = pq.read_table(path)
    tokens = table.column("tokens").to_pylist()
    tokens[0] += 1
    table = table.set_column(table.schema.get_field_index("tokens"),
                             "tokens", pa.array(tokens, pa.int64()))
    pq.write_table(table, path)
    # the rewrite invalidates the Hadoop checksum sidecar; drop it so the
    # altered row is read back instead of failing the read
    os.remove(os.path.join(shard_dir, f".{victim}.crc"))
    bad = checks.check_export(verify_training_shards(spark, out), manifest,
                              200)
    assert not bad.ok


def _drop_one_row(table_dir):
    """Rewrite one parquet file of ``table_dir`` without its first row."""
    for base, _dirs, files in os.walk(table_dir):
        for name in sorted(files):
            path = os.path.join(base, name)
            if name.endswith(".parquet") and pq.read_metadata(path).num_rows:
                pq.write_table(pq.read_table(path).slice(1), path)
                os.remove(os.path.join(base, f".{name}.crc"))
                return
    raise AssertionError(f"no non-empty parquet under {table_dir}")


def test_crawl_check_rejects_dropped_admission(spark, tmp_path):
    from fess_ds_s3_spark.config import CrawlConfig
    from fess_ds_s3_spark.plans.crawl import CrawlDriver
    from fess_ds_s3_spark.sources.object_store import FsObjectStore
    from fess_ds_s3_spark.sources.synthetic import synth_frontier
    from pyspark.sql import functions as F
    seeds = synth_frontier(spark, 80, n_hosts=4, seed=5).withColumn(
        "size", F.pmod(F.xxhash64("url"), F.lit(1000)))
    rows = seeds.select("bucket", "key").distinct().collect()
    store = FsObjectStore(str(tmp_path / "store"))
    for r in rows[::2]:
        store.put_object(r.bucket, r.key, b"body")
    keys = str(tmp_path / "keys.parquet")
    pq.write_table(pa.table({"bucket": [r.bucket for r in rows[::2]],
                             "key": [r.key for r in rows[::2]]}), keys)
    cfg = CrawlConfig(region="us-east-1", default_host_budget=5,
                      max_size=900, bloom_expected=1000, seen_partitions=2)
    wh = str(tmp_path / "wh")
    driver = CrawlDriver(spark, wh, cfg, object_store_root=store.root)
    driver.seed(seeds)
    summaries = [vars(driver.run_round(r)) for r in range(2)]
    ok = checks.check_crawl(wh, keys, summaries, 5, 900)
    assert ok.ok, ok.detail
    assert ok.values["misses"] > 0 and ok.values["oversize"] > 0
    _drop_one_row(os.path.join(wh, "seen", "data"))
    bad = checks.check_crawl(wh, keys, summaries, 5, 900)
    assert not bad.ok


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json
# ---------------------------------------------------------------------------

def test_metric_names_are_well_formed():
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert NAME.match(name), name


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(run.WORKLOADS)


# ---------------------------------------------------------------------------
# tracing arithmetic
# ---------------------------------------------------------------------------

def test_self_times_on_hand_built_tree():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),      # overlaps a: union is [1, 6]
        Span("a.child", 2.0, 3.0, parent=1),
        Span("b.child", 5.0, 7.0, parent=2),  # clipped to b's end
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 2.0, 1.0, 2.0])


def test_tracer_nests_by_call_order():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 9.0, 10.0])
    tracer = Tracer(clock=lambda: next(ticks))
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
        with tracer.span("inner"):
            pass
    assert tracer.calls("inner") == 2
    assert tracer.self_seconds() == pytest.approx({"outer": 3.0,
                                                   "inner": 7.0})


def test_spark_text_parsers():
    assert parse_size("total (min, med, max)\n1.5 MiB (1 B, 2 B, 3 B)") \
        == 1.5 * (1 << 20)
    assert parse_size("360.0 B") == 360.0
    plan = ("AdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
            "   +- ShuffleQueryStage (5)\n      +- Exchange (4)\n"
            "         +- BroadcastExchange (3)\n+- == Initial Plan ==\n"
            "   +- Exchange (7)\n\n\n(1) Scan\n(4) Exchange\n")
    assert count_shuffle_exchanges(plan) == 1
