"""Eval-set decontamination (operators/decontam.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fess_ds_s3_spark.operators.decontam import (eval_coverage,
                                                 eval_ngram_fps,
                                                 flag_contaminated)

DOCS = [
    # 0: contains the eval sentence verbatim inside a longer doc
    (0, "prefix words here the quick brown fox jumps over the lazy dog "
        "and trailing words"),
    # 1: clean — no 9-word window matches the eval set
    (1, "a completely different document about spark shuffle partitions "
        "and broadcast joins"),
    # 2: exact copy of the eval doc
    (2, "the quick brown fox jumps over the lazy dog"),
    # 3: shares an 8-gram but not a 9-gram with eval (one word changed)
    (3, "the quick brown fox jumps over the lazy cat"),
    # 4: shorter than n tokens and not an eval item
    (4, "tiny doc"),
]
EVAL = [(100, "the quick brown fox jumps over the lazy dog")]


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    ev = spark.createDataFrame(EVAL, "doc_id long, text string")
    return docs, ev


class TestFlag:
    def test_flags_overlap_and_exact_copy(self, spark):
        docs, ev = _frames(spark)
        out = {r["doc_id"]: r for r in
               flag_contaminated(docs, ev, n=9).collect()}
        assert len(out) == len(DOCS)  # every doc audited, clean ones too
        assert out[0]["contaminated"] and out[0]["eval_ngram_hits"] == 1
        assert out[2]["contaminated"]
        # the eval doc has exactly 9 words → one 9-gram; the exact copy
        # hits it
        assert out[2]["eval_ngram_hits"] == 1
        assert not out[1]["contaminated"] and out[1]["eval_ngram_hits"] == 0
        assert not out[3]["contaminated"]  # 9th word differs
        assert not out[4]["contaminated"]

    def test_ngram_width_controls_sensitivity(self, spark):
        docs, ev = _frames(spark)
        out = {r["doc_id"]: r["contaminated"] for r in
               flag_contaminated(docs, ev, n=8).collect()}
        assert out[3]  # at n=8 the shared 8-gram is damning
        assert not out[1]

    def test_min_hits_threshold(self, spark):
        docs, ev = _frames(spark)
        out = {r["doc_id"]: r["contaminated"] for r in
               flag_contaminated(docs, ev, n=9, min_hits=2).collect()}
        assert not any(out.values())  # nobody shares two distinct 9-grams

    def test_short_eval_item_catches_exact_copy(self, spark):
        docs = spark.createDataFrame(
            [(0, "tiny doc"), (1, "tiny doc plus more")],
            "doc_id long, text string")
        ev = spark.createDataFrame([(0, "tiny doc")],
                                   "doc_id long, text string")
        out = {r["doc_id"]: r["contaminated"] for r in
               flag_contaminated(docs, ev, n=13).collect()}
        # shingler floor: a < n-word doc is one whole-text gram, so the
        # exact copy is caught; the superstring's grams differ
        assert out[0] and not out[1]

    def test_broadcast_and_shuffle_paths_agree(self, spark):
        docs, ev = _frames(spark)
        b = flag_contaminated(docs, ev, n=9, broadcast=True)
        s = flag_contaminated(docs, ev, n=9, broadcast=False)
        assert sorted(map(tuple, b.collect())) == \
            sorted(map(tuple, s.collect()))


class TestEvalSet:
    def test_fps_distinct_and_md5_shaped(self, spark):
        _, ev = _frames(spark)
        fps = eval_ngram_fps(ev, n=9).collect()
        assert len(fps) == 1  # 9 words → exactly one 9-gram
        assert len(fps[0]["gram_fp"]) == 32

    def test_normalization_matches_shingler(self, spark):
        # case/whitespace variants of the same text share every fingerprint
        a = spark.createDataFrame([(1, "The  Quick BROWN fox jumps "
                                       "over the lazy dog")],
                                  "doc_id long, text string")
        b = spark.createDataFrame(EVAL, "doc_id long, text string")
        assert (eval_ngram_fps(a, n=9).collect()
                == eval_ngram_fps(b, n=9).collect())


class TestEvalCoverage:
    def test_per_eval_item_report(self, spark):
        docs, ev = _frames(spark)
        out = {r.eval_id: r for r in eval_coverage(docs, ev,
                                                   n=9).collect()}
        assert set(out) == {100}
        r = out[100]
        # the eval sentence is 9 words → exactly one 9-gram
        assert r.eval_ngrams == 1
        # docs 0 and 2 carry it verbatim; doc 3 only matches at n=8
        assert r.grams_hit == 1
        assert r.corpus_docs == 2
        assert r.compromised

    def test_clean_eval_item(self, spark):
        docs, _ = _frames(spark)
        ev = spark.createDataFrame(
            [(200, "words that appear nowhere in this corpus at all "
                   "believe me")], "doc_id long, text string")
        r = eval_coverage(docs, ev, n=9).first()
        assert (r.eval_ngrams, r.grams_hit, r.corpus_docs,
                r.compromised) == (3, 0, 0, False)

    def test_wider_n_spares_partial_overlap(self, spark):
        docs, ev = _frames(spark)
        r8 = eval_coverage(docs, ev, n=8).first()
        r9 = eval_coverage(docs, ev, n=9).first()
        assert r8.corpus_docs == 3   # doc 3 shares an 8-gram
        assert r9.corpus_docs == 2

    def test_shuffle_join_agrees(self, spark):
        docs, ev = _frames(spark)
        a = sorted(map(tuple, eval_coverage(docs, ev, n=9,
                                            broadcast=True).collect()))
        b = sorted(map(tuple, eval_coverage(docs, ev, n=9,
                                            broadcast=False).collect()))
        assert a == b
