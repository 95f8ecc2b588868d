"""train_corpus: curate → MinHash dedup → drop dups → mix → split → pack
→ export over generated interleaved text+media documents.

The generator draws words uniformly from a flat vocabulary (one token in
six is an English stopword, enough for the language and stopword gates)
and plants near-duplicates: one document in ``PLANT_EVERY`` copies an
earlier non-planted document with one word replaced, an exact 5-shingle
Jaccard of at least 0.83 at ``MIN_WORDS``. A skewed vocabulary would make
LSH buckets far larger than a web corpus has (see README).
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from fess_ds_s3_spark.functions.sampling import hash_split
from fess_ds_s3_spark.operators.dedup import (dedup_minhash_lsh,
                                              lsh_candidate_pairs,
                                              minhash_signatures)
from fess_ds_s3_spark.operators.extract import text_from_spans
from fess_ds_s3_spark.operators.packing import pack_sequences
from fess_ds_s3_spark.plans.curate import curate_interleaved
from fess_ds_s3_spark.plans.export import (verify_training_shards,
                                           write_training_shards)
from fess_ds_s3_spark.plans.mix import mix_corpus

import checks
from harness import dir_stats
from tracing import Tracer, force

DOCS = 2_000
SOURCES = 23
VOCAB = 50_000
MIN_WORDS = 60
EXTRA_WORDS = 80
PLANT_EVERY = 20      # ~5% planted near-duplicates
BROKEN_MEDIA_EVERY = 50
STOPWORDS = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on"]
THRESHOLD = 0.8
SHINGLE_N = 5
SHARDS = 8
PACK_BUDGET = 2048
#: mixture token budget: about two thirds of the curated token mass
MIX_BUDGET = DOCS * 60
WEIGHTS = {f"src{i:02d}": (4 if i == 0 else 1) for i in range(SOURCES)}

SPARK_CONF = {"spark.sql.adaptive.enabled": "true",
              "spark.sql.shuffle.partitions": "8"}


def _h(seed: int, *cols) -> F.Column:
    return F.xxhash64(F.lit(seed), *cols)


def generate(spark, n_docs: int, seed: int):
    """``(doc_id, source, spans)``: text / media / text spans, planted
    near-duplicates and a few broken media refs."""
    idx = F.col("id")
    planted = (idx % PLANT_EVERY == PLANT_EVERY - 1) & (idx >= PLANT_EVERY)
    # base: a non-planted doc from an earlier block of PLANT_EVERY docs
    blocks = F.greatest((idx / PLANT_EVERY).cast("long"), F.lit(1))
    base = (F.pmod(_h(seed + 1, idx), blocks)
            * PLANT_EVERY + F.pmod(_h(seed + 2, idx), F.lit(PLANT_EVERY - 1)))
    src = F.when(planted, base).otherwise(idx)
    n_words = (F.pmod(_h(seed + 3, F.col("src")), F.lit(EXTRA_WORDS))
               + MIN_WORDS).cast("int")
    mut_at = F.pmod(_h(seed + 4, idx), F.col("n_words"))
    stop = F.array(*[F.lit(w) for w in STOPWORDS])

    def word(i):
        plain = F.when(
            i % 6 == 0,
            F.element_at(stop, (F.pmod(_h(seed + 5, F.col("src"), i),
                                       F.lit(len(STOPWORDS))) + 1)
                         .cast("int")),
        ).otherwise(F.concat(F.lit("w"), F.pmod(
            _h(seed + 6, F.col("src"), i), F.lit(VOCAB)).cast("string")))
        return F.when(F.col("planted") & (i == F.col("mut_at")),
                      F.concat(F.lit("mut"), idx.cast("string"))
                      ).otherwise(plain)

    words = F.transform(F.sequence(F.lit(0), F.col("n_words") - 1), word)
    half = (F.col("n_words") / 2).cast("int")

    def span(kind, text, ref, off):
        return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                        ref.alias("media_ref"), F.lit(off).alias("offset"))

    none = F.lit(None).cast("string")
    ref = F.when(idx % BROKEN_MEDIA_EVERY == 7, none).otherwise(
        F.format_string("https://img.example.com/%d.png", idx))
    return (spark.range(n_docs, numPartitions=4)
            .withColumn("planted", planted)
            .withColumn("src", src)
            .withColumn("n_words", n_words)
            .withColumn("mut_at", mut_at)
            .withColumn("words", words)
            .select(
                F.format_string("d%09d", idx).alias("doc_id"),
                F.format_string("src%02d", F.pmod(_h(seed + 8, idx),
                                                  F.lit(SOURCES)))
                .alias("source"),
                F.array(
                    span("text", F.array_join(
                        F.slice("words", 1, half), " "), none, 0),
                    span("media", none, ref, 1),
                    span("text", F.array_join(
                        F.slice("words", half + 1, F.col("n_words") - half),
                        " "), none, 2)).alias("spans"),
                F.when(F.col("planted"), F.format_string("d%09d", base))
                .alias("planted_of")))


class Inputs:
    def __init__(self, spark, base: str):
        self.docs_dir = f"{base}/docs"
        self.docs = spark.read.parquet(self.docs_dir)


def build(spark, root: str, seed: int, tag: str) -> Inputs:
    base = os.path.join(root, f"corpus-{tag}")
    generate(spark, DOCS, seed).write.mode("overwrite").parquet(
        f"{base}/docs")
    return Inputs(spark, base)


# ---------------------------------------------------------------------------
# the pipeline, one stage per function so the traced run can time each
# ---------------------------------------------------------------------------

def curate(docs):
    curated = curate_interleaved(docs.select("doc_id", "spans"))
    return curated.join(
        docs.select("doc_id", "source",
                    text_from_spans("spans").alias("text")), "doc_id")


def write_pairs(curated, out: str) -> None:
    """Verified near-duplicate pairs, kept as a table: the drop step and
    the audit both read it, and the MinHash subtree runs once."""
    (dedup_minhash_lsh(curated, text="text", id_col="doc_id",
                       threshold=THRESHOLD, shingle_n=SHINGLE_N)
     .write.mode("overwrite").parquet(out))


def drop_dups(curated, pairs):
    return curated.join(pairs.select(F.col("b").alias("doc_id")),
                        "doc_id", "left_anti")


def mix(kept):
    return mix_corpus(kept, WEIGHTS, MIX_BUDGET, token_col="ws_tokens",
                      id_col="doc_id", seed="mix-bench")


def pack(mixed):
    labeled = mixed.withColumn(
        "split", hash_split("doc_id", {"train": 98, "eval": 1, "test": 1},
                            seed="split-bench"))
    return pack_sequences(labeled, "tokens", budget=PACK_BUDGET,
                          shards=SHARDS, within=["split"])


def export(packed, out: str) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    return write_training_shards(packed, out, n_shards=SHARDS, key="doc_id",
                                 seed="export-bench")


class Runner:
    """Each pass writes its pairs and export under the run's root; the
    untimed check reads the last pass's outputs."""

    def __init__(self, spark, inputs: Inputs, root: str):
        self.spark, self.inputs, self.root = spark, inputs, root
        self.pairs_dir = os.path.join(root, "pairs")
        self.export_dir = os.path.join(root, "export")
        self.last: tuple[dict, Observation] | None = None

    def run_pass(self) -> list[tuple[float, int]]:
        t0 = time.perf_counter()
        curated = curate(self.inputs.docs)
        write_pairs(curated, self.pairs_dir)
        kept = drop_dups(curated, self.spark.read.parquet(self.pairs_dir))
        rows = Observation()
        packed = pack(mix(kept)).observe(rows, F.count(F.lit(1)).alias("n"))
        manifest = export(packed, self.export_dir)
        wall = time.perf_counter() - t0
        self.last = (manifest, rows)
        return [(wall, DOCS)]

    def warm_up(self) -> None:
        """The traced run's warm-up: one full pass."""
        self.run_pass()

    def verify(self) -> list[checks.Check]:
        """Pair check against texts rebuilt from the input parquet, and the
        export re-verified against its manifest and the packed row count
        observed on the export write."""
        if self.last is None:
            self.run_pass()
        manifest, rows = self.last
        pairs = [(r["a"], r["b"]) for r in
                 pq.read_table(self.pairs_dir, columns=["a", "b"])
                 .to_pylist()]
        texts, planted = doc_texts(self.inputs.docs_dir)
        return [
            checks.check_pairs(pairs, texts, THRESHOLD, planted, SHINGLE_N),
            checks.check_export(
                verify_training_shards(self.spark, self.export_dir),
                manifest, int(rows.get["n"]))]


def doc_texts(docs_dir: str) -> tuple[dict[str, str], set]:
    """Extracted text of every document that passes the media gate (text
    spans in offset order, space-joined) and the planted pairs, read with
    pyarrow, independent of the pipeline."""
    texts, planted = {}, set()
    for r in pq.read_table(docs_dir).to_pylist():
        spans = sorted(r["spans"], key=lambda s: s["offset"])
        if any(s["kind"] == "media" and not s["media_ref"] for s in spans):
            continue
        texts[r["doc_id"]] = " ".join(s["text"] for s in spans
                                      if s["kind"] == "text")
        if r["planted_of"]:
            planted.add(tuple(sorted((r["doc_id"], r["planted_of"]))))
    return texts, planted


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

#: spans the traced pass must record
EXPECTED_SPANS = ("curate", "dedup.minhash", "mix", "packing", "export")


def traced_pass(spark, inputs: Inputs, tracer: Tracer,
                root: str) -> dict[str, float]:
    """The pass with each stage forced in its own span; the pair and LSH
    candidate counts run in a ``trace.extra`` span."""
    forced = []
    pairs_dir = os.path.join(root, "traced-pairs")
    out_dir = os.path.join(root, "traced-export")
    with tracer.span("corpus.pass"):
        with tracer.span("curate"):
            curated, n_curated = force(curate(inputs.docs), forced)
        with tracer.span("dedup.minhash"):
            write_pairs(curated, pairs_dir)
        pairs = spark.read.parquet(pairs_dir)
        with tracer.span("trace.extra"):
            n_pairs = pairs.count()
            candidates = lsh_candidate_pairs(
                minhash_signatures(curated, "text", "doc_id",
                                   shingle_n=SHINGLE_N), "doc_id").count()
        with tracer.span("mix"):
            mixed, _ = force(mix(drop_dups(curated, pairs)), forced)
        with tracer.span("packing"):
            packed, _ = force(pack(mixed), forced)
        with tracer.span("export"):
            export(packed, out_dir)
    for df in forced:
        df.unpersist()
    _, export_bytes = dir_stats(out_dir)
    self_s = tracer.self_seconds()
    return {
        "curate.s": self_s.get("curate", 0.0),
        "curate.rows_out": float(n_curated),
        "dedup.minhash.s": self_s.get("dedup.minhash", 0.0),
        "dedup.candidate_pairs": float(candidates),
        "dedup.verified_pairs": float(n_pairs),
        "dedup.precision": n_pairs / candidates if candidates else 0.0,
        "mix.s": self_s.get("mix", 0.0),
        "packing.s": self_s.get("packing", 0.0),
        "export.s": self_s.get("export", 0.0),
        "export.bytes_written": float(export_bytes),
    }
