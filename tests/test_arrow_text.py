"""r6 Arrow/RE2 kernel twins must be value-identical to the JVM
expressions in functions/text.py — on normal text AND on the adversarial
inputs where Java-regex vs RE2 semantics could diverge (vertical tab in
\\s, word boundaries against digits/underscores, blanks, NULLs,
multi-space runs)."""

from __future__ import annotations

import json
import logging

from pyspark.sql import functions as F

from fess_ds_s3_spark.functions import arrow_text as AT
from fess_ds_s3_spark.functions import text as T
from fess_ds_s3_spark.operators import dedup

ADVERSARIAL = [
    (0, "the and of to is"), (1, ""), (2, "   "), (3, None),
    (4, "a\tb\x0bc\nd\re\ff"), (5, "the, and. of! to? is;"),
    (6, "der die und nicht das le la et les des"),
    (7, "THE AND OF"), (8, "the the the the"),
    (9, "el los las una que le la et"), (10, "x " * 200),
    (11, "word"), (12, "two words"), (13, "a  b   c"),
    (14, "ends with space "), (15, " starts"),
    (16, "_the_ the_ _the the"), (17, "9the the9 the-t"),
]


def _docs(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


class TestCurateMetricsKernel:
    def test_matches_jvm_expressions(self, spark):
        d = _docs(spark)
        jvm = d.select(
            "doc_id", T.lang_id("text").alias("lang_guess"),
            T.token_count_ws("text").alias("ws_tokens"),
            T.stopword_hits("text").alias("_stop_hits"),
            T.stopword_ratio("text").alias("ratio"),
            T.fingerprint_md5("text").alias("fp"))
        ker = AT.curate_metrics(d).withColumn(
            "ratio", AT.stopword_ratio_from_counts())
        cols = ["doc_id", "lang_guess", "ws_tokens", "_stop_hits",
                "ratio", "fp"]
        assert sorted(map(tuple, jvm.select(*cols).collect())) == \
            sorted(map(tuple, ker.select(*cols).collect()))

    def test_keep_columns_pass_through(self, spark):
        d = _docs(spark).withColumn("source", F.lit("s"))
        out = AT.curate_metrics(d, keep=("source",))
        assert out.columns == ["doc_id", "source", "lang_guess",
                               "ws_tokens", "_stop_hits", "fp"]
        assert out.filter(F.col("source") != "s").count() == 0

    def test_schema_types_match_jvm(self, spark):
        d = _docs(spark)
        jvm = d.select(
            T.lang_id("text").alias("lang_guess"),
            T.token_count_ws("text").alias("ws_tokens"),
            T.stopword_hits("text").alias("_stop_hits"),
            T.fingerprint_md5("text").alias("fp"))
        ker = AT.curate_metrics(d).drop("doc_id")
        assert [f.dataType for f in ker.schema.fields] == \
            [f.dataType for f in jvm.schema.fields]


class TestShingleKernel:
    def test_matches_jvm_shingles(self, spark):
        d = _docs(spark)
        for n in (2, 3, 5):
            jvm = {(r.doc_id, None if r.sh is None else tuple(r.sh))
                   for r in d.select(
                       "doc_id",
                       dedup.shingles("text", n).alias("sh")).collect()}
            ker = {(r.doc_id,
                    None if r.shingle is None else tuple(r.shingle))
                   for r in AT.shingle_sets(d, n=n).collect()}
            assert jvm == ker, n

    def test_explode_hashes_unchanged(self, spark):
        """The downstream (id, xxhash64) rows — what signatures and
        Jaccard verify actually consume — are bit-identical."""
        d = _docs(spark).filter(F.col("text").isNotNull())
        legacy = (d.select(F.col("doc_id"),
                           F.explode(dedup.shingles("text", 3))
                           .alias("shingle"))
                  .select("doc_id",
                          F.xxhash64("shingle").alias("shingle_hash")))
        assert sorted(map(tuple, legacy.collect())) == sorted(
            map(tuple,
                dedup.explode_shingle_hashes(d, n=3).collect()))


def _max_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _grouped(spark):
    """A fresh aggregate: its plan reads a shuffle, so it is adaptive."""
    return (spark.range(0, 200, 1, 3)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.count(F.lit(1)).alias("n")))


def _one_file_scan(spark, tmp_path):
    out = str(tmp_path / "one")
    spark.range(50).coalesce(1).write.parquet(out)
    return spark.read.parquet(out)


class TestPartitionFloor:
    def test_adaptive_input_runs_no_job(self, spark):
        """Counting an adaptive plan's partitions would run its upstream
        shuffle stages; the floor must decide from the plan alone."""
        g = _grouped(spark)
        before = _max_job_id(spark)
        out = AT.partition_floor(g)
        assert _max_job_id(spark) == before
        assert out is g
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, _grouped(spark).collect()))

    def test_one_file_scan_is_floored(self, spark, tmp_path):
        src = _one_file_scan(spark, tmp_path)
        assert src.rdd.getNumPartitions() == 1
        before = _max_job_id(spark)
        out = AT.partition_floor(src)
        assert _max_job_id(spark) == before
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism

    def test_logs_one_decision_per_call(self, spark, tmp_path, caplog):
        natural = spark.sparkContext.defaultParallelism
        inputs = [_one_file_scan(spark, tmp_path),
                  spark.range(0, 100, 1, natural), _grouped(spark)]
        caplog.set_level(logging.INFO, logger=AT.__name__)
        lines = []
        for df in inputs:
            caplog.clear()
            AT.partition_floor(df)
            recs = [r for r in caplog.records if r.name == AT.__name__]
            assert len(recs) == 1
            lines.append(json.loads(recs[0].getMessage()))
        assert lines == [
            {"event": "partition_floor", "decision": "repartition",
             "partitions": 1, "natural": natural},
            {"event": "partition_floor", "decision": "keep",
             "partitions": natural, "natural": natural},
            {"event": "partition_floor", "decision": "adaptive",
             "partitions": None, "natural": natural}]
