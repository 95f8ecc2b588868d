"""Text-analysis functions + multimodal decode plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.functions import text as T
from fess_ds_s3_spark.operators import multimodal


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox is on the hill and it runs to the barn"),
        (1, "der hund und die katze sind nicht das problem"),
        (2, "le chat et la souris dans les rues des villes"),
        (3, ""),
        (4, "    "),
        (5, "x" * 600),
        (6, "Hello, world! How are you? I am fine; thanks..."),
        (7, "12345 67890 abc-def"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestTokens:
    def test_ws_tokens(self, spark, docs):
        got = {r.doc_id: r.n for r in docs.select(
            "doc_id", T.token_count_ws("text").alias("n")).collect()}
        assert got[0] == 14
        assert got[3] == 0 and got[4] == 0
        assert got[7] == 3

    def test_bpe_ish_tokens(self, spark, docs):
        got = {r.doc_id: r.n for r in docs.select(
            "doc_id", T.token_count_bpe_ish("text").alias("n")).collect()}
        # "Hello, world! How are you? I am fine; thanks..."
        # → Hello , world ! How are you ? I am fine ; thanks ...
        assert got[6] == 14
        # "12345 67890 abc-def" → 12345 67890 abc - def
        assert got[7] == 5


class TestRatios:
    def test_punct_ratio_empty_is_zero(self, spark, docs):
        got = {r.doc_id: r.p for r in docs.select(
            "doc_id", T.punct_ratio("text").alias("p")).collect()}
        assert got[3] == 0.0
        assert got[5] == 0.0  # letters only
        assert got[6] > 0.1

    def test_stopword_ratio(self, spark, docs):
        got = {r.doc_id: r.s for r in docs.select(
            "doc_id", T.stopword_ratio("text").alias("s")).collect()}
        assert got[0] == pytest.approx(8 / 14, abs=1e-3)
        assert got[5] == 0.0

class TestLangId:
    def test_marker_language(self, spark, docs):
        got = {r.doc_id: r.lang for r in docs.select(
            "doc_id", T.lang_id("text").alias("lang")).collect()}
        assert got[0] == "en"
        assert got[1] == "de"
        assert got[2] == "fr"
        assert got[3] == "und" and got[5] == "und"


class TestFingerprints:
    def test_md5_matches_python(self, spark, docs):
        got = {r.doc_id: r.fp for r in docs.select(
            "doc_id", T.fingerprint_md5("text").alias("fp")).collect()}
        norm = "the quick brown fox is on the hill and it runs to the barn"
        assert got[0] == hashlib.md5(norm.encode()).hexdigest()

    def test_rolling_hash_deterministic_and_shift_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "abcdef"), (1, "abcdef"), (2, "abcdeg")],
            "doc_id long, text string")
        got = {r.doc_id: r.fp for r in df.select(
            "doc_id", T.fingerprint_rolling("text").alias("fp")).collect()}
        assert got[0] == got[1]
        assert got[0] != got[2]


class TestMultimodal:
    def test_decode_plumbing(self, spark):
        rows = [("m0", b"fake image bytes"), ("m1", b"other bytes"),
                ("m2", None)]
        df = spark.createDataFrame(rows, "media_id string, content binary")
        out = {r.media_id: r for r in multimodal.decode_media(
            df, decoder=multimodal._fake_decode).collect()}
        assert out["m0"].media_type == "image"
        assert out["m0"].width >= 16 and out["m0"].height >= 16
        assert len(out["m0"].feature) == multimodal.FEATURE_DIM
        # determinism: same bytes → same decode
        df2 = spark.createDataFrame([("z", b"fake image bytes")],
                                    "media_id string, content binary")
        again = multimodal.decode_media(
            df2, decoder=multimodal._fake_decode).collect()[0]
        assert again.width == out["m0"].width
        assert list(again.feature) == list(out["m0"].feature)
        # null content → error row, not crash
        assert out["m2"].decode_error == "null content"

    def test_decode_error_capture(self, spark):
        def bad_kernel(blob: bytes) -> dict:
            raise ValueError("corrupt")
        df = spark.createDataFrame([("m0", b"x")],
                                   "media_id string, content binary")
        out = multimodal.decode_media(df, decoder=bad_kernel).collect()[0]
        assert "ValueError" in out.decode_error

    def test_kernel_auto_selection(self, monkeypatch):
        """default_decoder picks the PIL kernel iff Pillow imports; the
        sha256 fake is the no-dep fallback (VERDICT r4 ask #4)."""
        import sys
        # this container has no Pillow → fallback
        assert "PIL" not in sys.modules
        assert multimodal.default_decoder() is multimodal._fake_decode
        # fake a minimal Pillow → the real kernel is selected and works
        import types

        class _FakeImg:
            size = (640, 480)

            def load(self):
                pass

            def convert(self, mode):
                return self

            def resize(self, wh):
                return self

            def getdata(self):
                return list(range(16))

        image_mod = types.ModuleType("PIL.Image")
        image_mod.open = lambda fh: _FakeImg()
        pil_mod = types.ModuleType("PIL")
        pil_mod.Image = image_mod
        monkeypatch.setitem(sys.modules, "PIL", pil_mod)
        monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)
        assert multimodal.default_decoder() is multimodal.pil_decode
        d = multimodal.pil_decode(b"anything")
        assert (d["media_type"], d["width"], d["height"]) \
            == ("image", 640, 480)
        assert len(d["feature"]) == multimodal.FEATURE_DIM
        assert d["feature"][15] == 15 / 255.0

    def test_resize_plan(self, spark):
        df = spark.createDataFrame([(100, 50), (30, 60)],
                                   "width int, height int")
        got = multimodal.resize_plan(df, target_w=64, target_h=64).collect()
        r0 = next(r for r in got if r.width == 100)
        assert (r0.new_width, r0.new_height) == (64, 32)
        assert (r0.pad_x, r0.pad_y) == (0, 16)

    def test_frame_sample_plan(self, spark):
        df = spark.createDataFrame([(4000,), (500,)], "duration_ms long")
        got = multimodal.frame_sample_plan(df, fps_out=1.0).collect()
        by_dur = {r.duration_ms: list(r.sample_points_ms) for r in got}
        assert len(by_dur[4000]) == 4
        assert by_dur[4000] == [500, 1500, 2500, 3500]
        assert by_dur[500] == [250]
