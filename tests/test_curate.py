"""Corpus-curation funnel (plans/curate.py): score → filter → dedup."""

from __future__ import annotations

from typing import Sequence

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fess_ds_s3_spark.functions import text as T
from fess_ds_s3_spark.operators.extract import text_from_spans
from fess_ds_s3_spark.plans.curate import curate_corpus, curate_interleaved

SPANS_SCHEMA = ("doc_id long, spans array<struct<kind:string, text:string, "
                "media_ref:string, offset:int>>")


def curate_interleaved_jvm(docs: DataFrame, *,
                           spans: str = "spans",
                           id_col: str = "doc_id",
                           langs: Sequence[str] = ("en",),
                           min_tokens: int = 20,
                           min_stopword: tuple[int, int] = (1, 50),
                           max_media: tuple[int, int] | None = (1, 2),
                           drop_broken_media: bool = True) -> DataFrame:
    """Oracle twin of ``curate_interleaved``: the same span gates and
    fold, with the text scored by the interpreted JVM expressions of
    functions/text.py instead of the Arrow/RE2 kernel."""
    sp = F.col(spans)
    num, den = min_stopword
    scored = docs.select(
        F.col(id_col),
        text_from_spans(spans).alias("_text"),
        F.size(sp).alias("n_spans"),
        F.size(F.filter(sp, lambda s: s["kind"] == F.lit("media")))
        .alias("n_media"),
        F.exists(sp, lambda s: (s["kind"] == F.lit("media"))
                 & (s["media_ref"].isNull() | (s["media_ref"] == "")))
        .alias("_broken"))
    if max_media is not None:
        m_num, m_den = max_media
        scored = scored.filter(
            F.col("n_media") * F.lit(m_den)
            <= F.col("n_spans") * F.lit(m_num))
    if drop_broken_media:
        scored = scored.filter(~F.col("_broken"))
    scored = scored.select(
        F.col(id_col), "n_spans", "n_media",
        T.lang_id("_text").alias("lang_guess"),
        T.token_count_ws("_text").alias("ws_tokens"),
        T.stopword_hits("_text").alias("_stop_hits"),
        T.stopword_ratio("_text").alias("stopword_ratio"),
        T.fingerprint_md5("_text").alias("fp"))
    kept = scored.filter(
        F.col("lang_guess").isin(*langs)
        & (F.col("ws_tokens") >= F.lit(min_tokens))
        & (F.col("_stop_hits") * F.lit(den)
           >= F.col("ws_tokens") * F.lit(num)))
    winner_fields = [id_col, "lang_guess", "ws_tokens", "stopword_ratio",
                     "n_spans", "n_media"]
    winner = F.min(F.struct(*winner_fields)).alias("_w")
    return (kept.groupBy("fp")
            .agg(winner, F.count(F.lit(1)).alias("dup_count"))
            .select("fp", *[f"_w.{f}" for f in winner_fields],
                    "dup_count"))


@pytest.fixture(scope="module")
def corpus(spark):
    en = ("the cat and the dog ran to the house of the old man and it "
          "was good for all of them to rest in the shade is what we say")
    rows = [
        (0, en),                              # kept
        (1, en),                              # exact dup of 0 → folded
        (2, "  " + en + "  "),                # whitespace-variant dup
        (3, "der hund und die katze nicht das haus " * 4),   # german
        (4, "short the text"),                # < 20 tokens
        (5, " ".join(f"w{i}" for i in range(40))),  # no stopwords → und
        # en words but stopword-poor: 1 hit in 60 tokens < 1/50
        (6, "the " + " ".join(f"zz{i}" for i in range(59))),
        (7, en + " extra tail words here"),   # kept, distinct fp
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCurateCorpus:
    def test_funnel_semantics(self, spark, corpus):
        out = {r.doc_id: r for r in curate_corpus(corpus).collect()}
        assert set(out) == {0, 7}
        assert out[0].dup_count == 3          # docs 0,1,2 share the fp
        assert out[7].dup_count == 1
        assert out[0].lang_guess == "en"
        assert out[0].ws_tokens >= 20

    def test_stopword_floor_is_exact(self, spark, corpus):
        # doc 6: 1 hit / 60 tokens — below 1/50 → dropped; at (1, 60)
        # threshold it is kept: the integer compare has no float boundary
        kept = curate_corpus(corpus, min_stopword=(1, 60))
        assert 6 in {r.doc_id for r in kept.collect()}

    def test_lang_and_token_knobs(self, spark, corpus):
        all_langs = curate_corpus(corpus, langs=("en", "de", "und"),
                                  min_tokens=1, min_stopword=(0, 1))
        ids = {r.doc_id for r in all_langs.collect()}
        assert {3, 4, 5}.issubset(ids)

    def test_single_shuffle_plan(self, spark, corpus):
        plan = (curate_corpus(corpus)._jdf.queryExecution()
                .executedPlan().toString())
        assert plan.count("Exchange") == 1, plan

    def test_deterministic_survivor(self, spark, corpus):
        a = curate_corpus(corpus).collect()
        b = curate_corpus(corpus.repartition(7)).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_near_dup_tier(self, spark, corpus):
        # doc 7 = doc 0's text + 4 extra words: shingle-Jaccard high but
        # not 1.0 — survives exact dedup, dies at a permissive threshold
        base = curate_corpus(corpus)
        near = curate_corpus(corpus, near_dup_threshold=0.5)
        base_ids = {r.doc_id for r in base.collect()}
        near_ids = {r.doc_id for r in near.collect()}
        assert base_ids == {0, 7}
        assert near_ids == {0}
        # a strict threshold keeps both
        strict = curate_corpus(corpus, near_dup_threshold=0.99)
        assert {r.doc_id for r in strict.collect()} == {0, 7}
        # schema identical across tiers
        assert near.columns == base.columns

    def test_near_dup_cluster_keep(self, spark, corpus):
        # cluster keep: same outcome as greedy on this pair set (no
        # chains), identical schema, bad mode rejected
        near = curate_corpus(corpus, near_dup_threshold=0.5,
                             near_dup_keep="cluster")
        assert {r.doc_id for r in near.collect()} == {0}
        with pytest.raises(ValueError, match="near_dup_keep"):
            curate_corpus(corpus, near_dup_threshold=0.5,
                          near_dup_keep="bogus")


def _t(text_, off):
    return ("text", text_, None, off)


def _m(ref, off):
    return ("media", None, ref, off)


EN = ("the cat and the dog ran to the house of the old man and it "
      "was good for all of them to rest in the shade is what we say")


def _interleaved_rows():
    """Hand-built (doc_id, spans) rows; span arrays deliberately out of
    offset order so extraction must re-sort."""
    w = EN.split()
    j = " ".join
    return [
        # kept: 2 text spans + 1 valid media (ratio 1/3), out of order
        (0, [_m("https://m/0.png", 1), _t(j(w[15:]), 2), _t(j(w[:15]), 0)]),
        # same extracted text, different chunking + no media → same fp
        (1, [_t(j(w[20:]), 9), _t(j(w[:7]), 1), _t(j(w[7:20]), 5)]),
        # mostly media: 3 media / 4 spans → ratio gate drops it
        (2, [_m("https://m/2a.png", 1), _m("https://m/2b.png", 2),
             _t(EN + " two", 0), _m("https://m/2c.png", 3)]),
        # broken media (NULL ref) → dropped unless drop_broken_media=False
        (3, [_t(j(w[:15]) + " three", 0), _m(None, 1), _t(j(w[15:]), 2)]),
        # empty-string ref is broken too
        (5, [_t(j(w[:15]) + " five", 0), _m("", 1), _t(j(w[15:]), 2)]),
        # german text → lang gate
        (4, [_t("der hund und die katze nicht das haus " * 4, 0)]),
    ]


def _adversarial_rows():
    """Spans where the kernel and the JVM expressions could part ways:
    Java-only whitespace, NULL and missing text, word boundaries against
    ``_`` and digits, and one text chunked two ways."""
    w = EN.split()
    j = " ".join
    return [
        # \x0B is Java \s but not RE2 \s; tabs inside and across spans
        (10, [_t("the\x0Bcat\tand\x0B\x0Bthe dog", 0),
              _t("\t" + j(w[5:]) + "\x0B", 1)]),
        # a NULL text span is skipped by the extraction
        (11, [_t(j(w[:12]), 0), _t(None, 1), _t(j(w[12:]) + " xi", 2)]),
        (12, []),                                       # empty spans
        (13, None),                                     # NULL spans
        (14, [_m("https://m/14a.png", 0), _m("https://m/14b.png", 1)]),
        # stopwords glued to _ or digits are not words
        (15, [_t("_the_ the_ _the the 9the the9 the-t " * 4, 0)]),
        # one text, two chunkings: spaces moved into the span edges
        (16, [_t(j(w[:10]) + " ", 0), _t(j(w[10:]) + " tail", 1)]),
        (17, [_t(j(w[:4]), 0), _t(" " + j(w[4:]) + " tail", 1)]),
    ]


@pytest.fixture(scope="module")
def interleaved(spark):
    return spark.createDataFrame(_interleaved_rows(), SPANS_SCHEMA)


@pytest.fixture(scope="module")
def adversarial_spans(spark):
    return spark.createDataFrame(_interleaved_rows() + _adversarial_rows(),
                                 SPANS_SCHEMA)


class TestCurateInterleaved:
    def test_gates_and_dedup(self, spark, interleaved):
        from fess_ds_s3_spark.plans.curate import curate_interleaved
        out = {r.doc_id: r for r in
               curate_interleaved(interleaved).collect()}
        assert set(out) == {0}
        # docs 0 and 1 extract to the SAME text despite different
        # chunking and array order → folded, doc 0 wins
        assert out[0].dup_count == 2
        assert out[0].n_spans == 3 and out[0].n_media == 1
        assert out[0].lang_guess == "en"

    def test_broken_media_knob(self, spark, interleaved):
        from fess_ds_s3_spark.plans.curate import curate_interleaved
        kept = {r.doc_id for r in
                curate_interleaved(interleaved,
                                   drop_broken_media=False).collect()}
        assert kept == {0, 3, 5}

    def test_media_ratio_knob(self, spark, interleaved):
        from fess_ds_s3_spark.plans.curate import curate_interleaved
        loose = {r.doc_id for r in
                 curate_interleaved(interleaved, max_media=None).collect()}
        assert 2 in loose
        tight = {r.doc_id for r in
                 curate_interleaved(interleaved,
                                    max_media=(0, 1)).collect()}
        assert tight == {1}  # only the media-free doc passes a 0-ratio

    def test_no_explode_single_shuffle(self, spark, interleaved):
        from fess_ds_s3_spark.plans.curate import curate_interleaved
        plan = (curate_interleaved(interleaved)._jdf.queryExecution()
                .executedPlan().toString())
        assert plan.count("Exchange") == 1, plan
        assert "Generate" not in plan, plan  # no explode of span arrays


def _schema(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


class TestCurateInterleavedOracle:
    """Production (Arrow/RE2 scoring) == oracle (JVM scoring): every row
    and the schema down to nullability, under the default gates and
    under gates loose enough that the adversarial docs reach the fold."""

    @pytest.mark.parametrize("knobs", [
        {},
        {"langs": ("en", "de", "und"), "min_tokens": 0,
         "min_stopword": (0, 1), "max_media": None,
         "drop_broken_media": False},
        {"min_tokens": 5, "max_media": (1, 1), "drop_broken_media": False},
    ], ids=["default", "open", "mid"])
    def test_rows_and_schema_match(self, spark, adversarial_spans, knobs):
        got = curate_interleaved(adversarial_spans, **knobs)
        want = curate_interleaved_jvm(adversarial_spans, **knobs)
        assert _schema(got) == _schema(want)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))

    def test_adversarial_docs_reach_the_fold(self, spark, adversarial_spans):
        out = {r.doc_id: r for r in curate_interleaved(
            adversarial_spans, langs=("en", "und"), min_tokens=0,
            min_stopword=(0, 1), max_media=None,
            drop_broken_media=False).collect()}
        # empty spans and the all-media doc both extract to "" → one fp
        assert out[12].dup_count == 2 and 14 not in out
        # the two chunkings of one text fold
        assert out[16].dup_count == 2 and 17 not in out
        assert {10, 11, 15} <= set(out)
        assert 13 not in out  # NULL spans → NULL text fails the length gate

    def test_non_null_spans_schema_matches(self, spark):
        schema = StructType.fromDDL(SPANS_SCHEMA)
        schema.fields[1].nullable = False
        docs = spark.createDataFrame(_interleaved_rows(), schema)
        assert _schema(curate_interleaved(docs)) == \
            _schema(curate_interleaved_jvm(docs))
