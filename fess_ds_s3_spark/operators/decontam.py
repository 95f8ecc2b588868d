"""Eval-set decontamination: flag corpus documents that overlap a
benchmark (eval) set on exact word n-grams.

No reference analog (fess-ds-s3 indexes whatever it crawls); this is the
standard training-data hygiene pass — a corpus document that shares a long
word n-gram with an evaluation benchmark leaks test data into training, so
pipelines flag documents with any exact 13-gram (the common convention)
found in the eval set and drop or audit them.

Shape at 100 TB:

- The EVAL side is small (benchmarks are thousands of documents, the corpus
  is billions), so its distinct n-gram fingerprint set broadcasts and the
  corpus-side probe is a broadcast semi/inner join — no corpus shuffle for
  candidate detection. ``broadcast=False`` keeps a plain shuffle join for
  pathologically large eval sets.
- The corpus side explodes each document's DISTINCT n-grams (reusing the
  MinHash shingler, operators/dedup.shingles — same normalization, so
  decontamination and near-dedup agree on tokenization) and aggregates hit
  counts per document: one shuffle on the document id, linear in corpus
  tokens — the same cost class as one MinHash signature pass.
- N-grams travel as md5 fingerprints (16 bytes), never as strings, so the
  explode stays narrow; md5 is portable, which is what lets the driver's
  DuckDB oracle re-derive every count exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fess_ds_s3_spark.operators.dedup import shingles

#: the conventional "long enough to be damning" n-gram width
DEFAULT_NGRAM = 13


def eval_ngram_fps(eval_df: DataFrame, text: str = "text", *,
                   n: int = DEFAULT_NGRAM) -> DataFrame:
    """Distinct md5 fingerprints of every word ``n``-gram in the eval set —
    the single-column (``gram_fp``) probe table the corpus is checked
    against. Documents shorter than ``n`` words contribute their whole
    normalized text as one gram (the shingler's floor), so short eval
    items still decontaminate their exact copies."""
    return (eval_df.select(F.explode(shingles(text, n)).alias("_g"))
            .select(F.md5("_g").alias("gram_fp"))
            .distinct())


def flag_contaminated(docs: DataFrame, eval_df: DataFrame, *,
                      text: str = "text", id_col: str = "doc_id",
                      eval_text: str = "text", n: int = DEFAULT_NGRAM,
                      min_hits: int = 1,
                      broadcast: bool = True) -> DataFrame:
    """Per-document contamination audit.

    Returns one row per input document: ``id_col``, ``doc_ngrams``
    (distinct n-grams in the document), ``eval_ngram_hits`` (how many of
    them appear anywhere in the eval set), and ``contaminated``
    (``eval_ngram_hits >= min_hits`` — an exact integer threshold).

    ``broadcast=True`` (default) broadcasts the eval fingerprint set —
    right for real benchmarks (≤ millions of grams). Pass ``False`` to
    shuffle-join instead when the eval side is too big to collect.
    """
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    probe = eval_ngram_fps(eval_df, eval_text, n=n)
    if broadcast:
        probe = F.broadcast(probe)
    grams = (docs.select(F.col(id_col),
                         F.explode(shingles(text, n)).alias("_g"))
             .select(id_col, F.md5("_g").alias("gram_fp")))
    hits = (grams.join(probe, "gram_fp")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("eval_ngram_hits")))
    base = docs.select(F.col(id_col),
                       F.size(shingles(text, n)).cast("long")
                       .alias("doc_ngrams"))
    return (base.join(hits, id_col, "left")
            .select(id_col, "doc_ngrams",
                    F.coalesce("eval_ngram_hits", F.lit(0)).cast("long")
                    .alias("eval_ngram_hits"))
            .withColumn("contaminated",
                        F.col("eval_ngram_hits") >= F.lit(min_hits)))


def eval_coverage(docs: DataFrame, eval_df: DataFrame, *,
                  text: str = "text", id_col: str = "doc_id",
                  eval_text: str = "text", eval_id: str = "doc_id",
                  n: int = DEFAULT_NGRAM,
                  broadcast: bool = True) -> DataFrame:
    """The REVERSE audit: per eval/benchmark item, how much of it leaks
    into the training corpus — ``(eval_id, eval_ngrams, grams_hit,
    corpus_docs, compromised)``.  :func:`flag_contaminated` answers
    "which training docs must go"; this answers the eval owner's
    question — "which benchmark items are compromised, by how many of
    their n-grams, across how many training documents" — the table a
    decontamination report leads with.

    ``grams_hit`` counts the eval item's DISTINCT n-grams found anywhere
    in the corpus; ``corpus_docs`` counts distinct corpus documents
    sharing at least one gram.  If the eval items are themselves corpus
    members, they self-hit (run this after dropping the documents
    :func:`flag_contaminated` marks, or on the disjoint corpus, for the
    leakage-only view).

    Shape at 100 TB: the corpus explodes its distinct gram fingerprints
    ONCE (same cost class as a MinHash pass) and probes the broadcast
    eval gram table — no corpus shuffle before the match join; the
    aggregate shuffles only matched rows on ``eval_id`` (bounded by
    |eval grams| × corpus fan-in; a boilerplate gram shared by the whole
    corpus concentrates on one eval key — cap corpus fan-in upstream
    with dedup if that bites).  ``broadcast=False`` falls back to a
    shuffle join for pathologically large eval sets.
    """
    ev = (eval_df.select(F.col(eval_id).alias("eval_id"),
                         F.explode(shingles(eval_text, n)).alias("_g"))
          .select("eval_id", F.md5("_g").alias("gram_fp")))
    sizes = ev.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("eval_ngrams"))
    probe = F.broadcast(ev) if broadcast else ev
    corpus = (docs.select(F.col(id_col).alias("_cid"),
                          F.explode(shingles(text, n)).alias("_g"))
              .select("_cid", F.md5("_g").alias("gram_fp")))
    agg = (corpus.join(probe, "gram_fp")
           .groupBy("eval_id")
           .agg(F.countDistinct("gram_fp").alias("grams_hit"),
                F.countDistinct("_cid").alias("corpus_docs")))
    return (sizes.join(agg, "eval_id", "left")
            .select("eval_id",
                    F.col("eval_ngrams").cast("long").alias("eval_ngrams"),
                    F.coalesce("grams_hit", F.lit(0)).cast("long")
                    .alias("grams_hit"),
                    F.coalesce("corpus_docs", F.lit(0)).cast("long")
                    .alias("corpus_docs"))
            .withColumn("compromised", F.col("grams_hit") >= F.lit(1)))
