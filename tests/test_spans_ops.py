"""Span-level transforms over interleaved docs (operators/spans.py) and
media-aware packing (operators/packing.interleaved_token_cost)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from fess_ds_s3_spark.functions.text import PII_RULES
from fess_ds_s3_spark.operators.packing import (interleaved_token_cost,
                                                pack_interleaved,
                                                pack_sequences)
from fess_ds_s3_spark.operators.spans import (media_manifest,
                                              scrub_interleaved,
                                              scrub_spans, span_pii_counts)

SPAN_SCHEMA = ArrayType(StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]))
DOC_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", SPAN_SCHEMA),
])


def span(kind, text=None, media_ref=None, offset=0):
    return (kind, text, media_ref, offset)


@pytest.fixture()
def interleaved(spark):
    rows = [
        ("d0", [span("text", "mail bob@example.com now", offset=0),
                span("media", media_ref="s3://b/img0.png", offset=1),
                span("text", "ip 10.0.0.9 and tel +1 555 2000123",
                     offset=2)]),
        ("d1", [span("media", media_ref="s3://b/img0.png", offset=0),
                span("media", media_ref="s3://b/img1.png", offset=1),
                span("text", "clean text only", offset=2)]),
        ("d2", [span("text", None, offset=0),           # NULL text span
                span("media", media_ref=None, offset=1),  # broken ref
                span("media", media_ref="", offset=2),    # empty ref
                span("text", "a@b.io c@d.io", offset=3)]),
        ("d3", []),                                       # empty doc
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def py_redact(text):
    for _n, pattern, token in PII_RULES:
        text = re.sub(pattern, token, text)
    return text


def py_counts(text):
    out = {}
    for name, pattern, token in PII_RULES:
        out[name] = len(re.findall(pattern, text))
        text = re.sub(pattern, token, text)
    return out


class TestScrubSpans:
    def test_structure_preserved_text_redacted(self, interleaved):
        rows = {r["doc_id"]: r for r in
                interleaved.select(
                    "doc_id", "spans",
                    scrub_spans("spans").alias("scrubbed")).collect()}
        for did, r in rows.items():
            assert len(r["scrubbed"]) == len(r["spans"])
            for before, after in zip(r["spans"], r["scrubbed"]):
                # the span-sequence invariant: (kind, media_ref, offset)
                # and array order are bit-identical across the scrub
                assert after["kind"] == before["kind"]
                assert after["media_ref"] == before["media_ref"]
                assert after["offset"] == before["offset"]
                if before["kind"] == "text" and before["text"] is not None:
                    assert after["text"] == py_redact(before["text"])
                else:
                    assert after["text"] == before["text"]

    def test_idempotent(self, interleaved):
        once = interleaved.select(scrub_spans("spans").alias("spans"))
        twice = once.select(scrub_spans("spans").alias("spans"))
        assert once.collect() == twice.collect()

    def test_counts_match_python_model(self, interleaved):
        got = {r["doc_id"]: r["c"] for r in interleaved.select(
            "doc_id", span_pii_counts("spans").alias("c")).collect()}
        rows = {r["doc_id"]: r["spans"] for r in interleaved.collect()}
        for did, spans in rows.items():
            want = {n: 0 for n, _p, _t in PII_RULES}
            for s in spans:
                if s["kind"] == "text" and s["text"] is not None:
                    for k, v in py_counts(s["text"]).items():
                        want[k] += v
            assert got[did].asDict() == want, did

    def test_scrub_interleaved_columns(self, interleaved):
        out = scrub_interleaved(interleaved)
        assert {"pii_email", "pii_ipv4", "pii_phone"} <= set(out.columns)
        d0 = out.filter(F.col("doc_id") == "d0").collect()[0]
        assert d0["pii_email"] == 1
        assert d0["pii_ipv4"] == 1
        assert d0["pii_phone"] == 1
        assert "<EMAIL>" in d0["spans"][0]["text"]

    def test_shuffle_free(self, interleaved):
        plan = scrub_interleaved(interleaved)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestInterleavedCost:
    def test_cost(self, interleaved):
        got = {r["doc_id"]: r["c"] for r in interleaved.select(
            "doc_id",
            interleaved_token_cost("spans", media_tokens=64).alias("c"))
            .collect()}
        assert got["d0"] == 3 + 64 + 7   # two text spans + one media
        assert got["d1"] == 64 + 64 + 3
        assert got["d2"] == 0 + 64 + 64 + 2  # NULL text costs 0
        assert got["d3"] == 0

    def test_pack_interleaved_equals_manual(self, interleaved):
        packed = pack_interleaved(interleaved, budget=70, media_tokens=64,
                                  id_col="doc_id",
                                  shard=F.lit(0)).collect()
        costed = interleaved.withColumn(
            "tokens", interleaved_token_cost("spans", media_tokens=64))
        manual = pack_sequences(costed, "tokens", "doc_id", budget=70,
                                shard=F.lit(0)).collect()
        key = lambda r: r["doc_id"]
        assert sorted(packed, key=key) == sorted(manual, key=key)


class TestMediaManifest:
    def test_counts_and_rep(self, interleaved):
        got = {r["media_ref"]: (r["ref_count"], r["first_doc"])
               for r in media_manifest(interleaved).collect()}
        # NULL and empty refs never appear; img0 referenced by d0 and d1
        assert got == {"s3://b/img0.png": (2, "d0"),
                       "s3://b/img1.png": (1, "d1")}

    def test_single_exchange(self, interleaved):
        plan = media_manifest(interleaved)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") == 1
