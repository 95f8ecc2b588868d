"""Span-sequence invariant (input_hint): (kind, text, media_ref, order)
must survive every pipeline stage — incl. shuffles and re-sorting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.operators.extract import (links_from_spans,
                                                spans_sorted,
                                                text_from_spans)
from fess_ds_s3_spark.sources.synthetic import synth_docs


@pytest.fixture()
def docs(spark):
    return synth_docs(spark, 100, seed=42)


def _span_tuples(rows):
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in r.spans] for r in rows}


class TestSpanInvariant:
    def test_offsets_are_sequential(self, spark, docs):
        rows = docs.collect()
        for r in rows:
            offsets = [s.offset for s in r.spans]
            assert offsets == list(range(len(offsets)))

    def test_alternating_kinds(self, spark, docs):
        for r in docs.collect():
            for s in r.spans:
                expected = "text" if s.offset % 2 == 0 else "media"
                assert s.kind == expected
                if s.kind == "text":
                    assert s.text is not None and s.media_ref is None
                else:
                    assert s.media_ref is not None and s.text is None

    def test_order_survives_shuffle(self, spark, docs):
        """Repartition + exchange must not disturb within-array order, and
        spans_sorted restores order even from an artificially reversed
        array."""
        baseline = _span_tuples(docs.collect())
        shuffled = docs.repartition(17, "doc_id")
        assert _span_tuples(shuffled.collect()) == baseline
        reversed_df = docs.withColumn("spans", F.reverse("spans"))
        restored = reversed_df.withColumn("spans", spans_sorted("spans"))
        assert _span_tuples(restored.collect()) == baseline

    def test_text_extraction_in_offset_order(self, spark, docs):
        got = docs.select("doc_id",
                          text_from_spans("spans").alias("text")).collect()
        base = _span_tuples(docs.collect())
        for r in got:
            expected = " ".join(t for k, t, _, _ in base[r.doc_id]
                                if k == "text")
            assert r.text == expected

    def test_link_extraction_in_offset_order(self, spark, docs):
        got = docs.select("doc_id",
                          links_from_spans("spans").alias("links")).collect()
        base = _span_tuples(docs.collect())
        for r in got:
            expected = [m for k, _, m, _ in base[r.doc_id] if k == "media"]
            assert list(r.links) == expected
