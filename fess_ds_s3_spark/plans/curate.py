"""Corpus curation: the filter→dedup funnel a training-data pipeline runs
over crawled text before it becomes model input.

The reference stops at "extract content and hand it to the indexer"
(AmazonS3DataStore.java:258-276); a 100 TB crawl feeding an LLM corpus
needs the next stage — score every document, drop the junk, and keep one
survivor per exact-duplicate cluster. This module composes the engine's
text metrics (functions/text.py) and exact dedup (operators/dedup.py)
into that funnel as ONE declarative plan:

1. **Score** — language-ID, whitespace token count, stopword hits/ratio,
   md5 fingerprint: one Arrow/RE2 pass (functions/arrow_text, behind its
   job-free partition floor), shared by both funnels. No shuffle.
2. **Filter** — language allowlist, minimum token count, minimum
   stopword density. The density threshold is an exact integer
   cross-multiplication (``hits * den >= tokens * num``), never a float
   boundary — an ulp of divergence between engines cannot flip a row.
   Filters run BEFORE the dedup shuffle, so the only wide stage sees the
   kept fraction, not the corpus.
3. **Dedup** — groupBy on the 32-hex fingerprint, min(struct) survivor
   (deterministic: doc_id leads the struct), dup_count retained for
   lineage. Map-side partial aggregation applies; the shuffle key is the
   16-byte hash, never the text.

Scale shape at 100 TB: one shuffle total, on the fingerprint of the
filtered subset; every scored column prunes to (id, text) at the scan.

Round 4 adds the two remaining standard curation stages:

4. **Deterministic subsample** (``sample=``) — content-keyed hash
   sampling (functions/sampling.py) applied to the RAW input, before any
   scoring, so a 1/10 sample pays 1/10 of everything downstream. Stable
   under repartitioning, reproducible across engines.
5. **Per-source cap** (``max_per_source=``) — at most n surviving
   documents per source/domain (operators/caps.py), ranked longest-first;
   the anti-over-representation guard every crawl-curation recipe ends
   with. Salted two-pass by default so the hottest domain never lands in
   one window task.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fess_ds_s3_spark.functions import arrow_text
from fess_ds_s3_spark.functions import text as T
from fess_ds_s3_spark.functions.sampling import hash_sample
from fess_ds_s3_spark.operators.caps import top_n_per_group


def curate_corpus(docs: DataFrame, *,
                  langs: Sequence[str] = ("en",),
                  min_tokens: int = 20,
                  min_stopword: tuple[int, int] = (1, 50),
                  near_dup_threshold: float | None = None,
                  near_dup_keep: str = "greedy",
                  sample: tuple[int, int] | None = None,
                  sample_seed: str = "",
                  max_per_source: int | None = None,
                  source_col: str = "source",
                  cap_salt_buckets: int = 8,
                  text: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Score → filter → exact-dedup a document set into a curated corpus.

    Returns one row per surviving document: ``fp``, ``id_col``,
    ``lang_guess``, ``ws_tokens``, ``stopword_ratio``, ``dup_count``
    (how many kept documents shared the fingerprint — the survivor
    represents them all).

    ``min_stopword`` is a ``(num, den)`` rational: keep documents with
    ``stopword_hits / ws_tokens >= num / den``, evaluated exactly over
    integers. ``(0, 1)`` disables the density floor.

    ``near_dup_threshold`` adds the funnel's tier-2 stage: MinHash-LSH
    near-dup pairs (operators/dedup.dedup_minhash_lsh, exact-Jaccard
    verified at the threshold) over the EXACT-dedup survivors — the
    cheapest ordering, since exact dedup has already collapsed identical
    texts — then a deterministic greedy keep: a document is dropped iff
    some pair partner has a smaller id (pairs come a < b, so the drop
    set is the distinct ``b`` side; every cluster keeps at least its
    minimum). Extra cost: the signature/band shuffles run on the
    survivor set only.

    ``near_dup_keep`` picks the drop rule applied to those pairs:

    - ``"greedy"`` (default): the b-side drop above — one pass, no
      iteration, but chains over-drop (A~B, B~C with A≁C drops B AND C;
      dropping B already breaks the A–C link).
    - ``"cluster"``: connected-components keep-one-per-cluster
      (operators/clustering.keep_canonical) — every duplicate component
      keeps exactly its minimum id, chains included. Costs O(log n)
      alternating-star rounds over the pair set (tiny next to the
      corpus).

    ``sample=(num, den)`` keeps a deterministic ``num/den`` subsample of
    the input, keyed on ``md5(id_col || sample_seed)`` — applied FIRST so
    the whole funnel runs on the sampled fraction. ``max_per_source``
    caps the surviving documents per ``source_col`` value (longest docs
    win, ``id_col`` breaks ties), applied LAST so the cap counts final
    corpus rows; the output then carries ``source_col``. The cap window
    is salted two-pass over ``cap_salt_buckets`` (0 → single window).
    """
    if sample is not None:
        docs = docs.filter(hash_sample(id_col, *sample, seed=sample_seed))
    keep = (source_col,) if max_per_source is not None else ()
    out_cols = ["fp", id_col, "lang_guess", "ws_tokens",
                "stopword_ratio", "dup_count", *keep]
    survivors = _score_gate_fold(docs, text, id_col, keep, langs,
                                 min_tokens, min_stopword).select(*out_cols)
    if near_dup_keep not in ("greedy", "cluster"):
        raise ValueError("near_dup_keep must be 'greedy' or 'cluster'")
    if near_dup_threshold is not None:
        from fess_ds_s3_spark.operators.dedup import dedup_minhash_lsh
        survivor_docs = survivors.select(id_col).join(
            docs.select(id_col, text), on=id_col, how="inner")
        pairs = dedup_minhash_lsh(survivor_docs, text, id_col,
                                  threshold=near_dup_threshold)
        if near_dup_keep == "cluster":
            from fess_ds_s3_spark.operators.clustering import keep_canonical
            survivors = keep_canonical(survivors, pairs, id_col) \
                .select(*out_cols)
        else:
            drop = pairs.select(F.col("b").alias(id_col)).distinct()
            survivors = (survivors.join(drop, on=id_col, how="left_anti")
                         .select(*out_cols))
    if max_per_source is not None:
        survivors = top_n_per_group(
            survivors, [source_col], max_per_source,
            [F.col("ws_tokens").desc(), F.col(id_col).asc()],
            salt_buckets=cap_salt_buckets,
            salt_key=F.xxhash64(F.col(id_col)))
    return survivors


def curate_interleaved(docs: DataFrame, *,
                       spans: str = "spans",
                       id_col: str = "doc_id",
                       langs: Sequence[str] = ("en",),
                       min_tokens: int = 20,
                       min_stopword: tuple[int, int] = (1, 50),
                       max_media: tuple[int, int] | None = (1, 2),
                       drop_broken_media: bool = True) -> DataFrame:
    """Curation funnel over the input_hint's native payload shape —
    ``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``
    interleaved text + media documents.

    A multimodal training corpus is curated on BOTH modalities at once:
    the text quality gates of :func:`curate_corpus` apply to the
    offset-ordered concatenation of the text spans (the P9 extraction,
    operators/extract.text_from_spans), while two span-structure gates
    drop documents whose media payload is junk:

    - ``max_media=(num, den)``: keep iff ``n_media * den <= n_spans *
      num`` — an exact integer media-ratio ceiling (a doc that is mostly
      media markers carries little trainable text per row). ``None``
      disables.
    - ``drop_broken_media``: drop any document with a media span whose
      ``media_ref`` is NULL or empty — a dangling reference cannot be
      fetched, and an interleaved trainer cannot substitute it.

    Exact dedup then runs on the fingerprint of the EXTRACTED text, so
    two docs whose spans chunk the same text differently (or order the
    array differently — extraction re-sorts by offset) still fold into
    one survivor.

    Scale shape: span stats and extraction are per-row JVM array
    expressions (no explode — a 10k-span doc never becomes 10k rows);
    the text is scored by :func:`curate_corpus`'s Arrow/RE2 kernel; the
    structural filters run before the single fingerprint shuffle, so
    the wide stage sees only the kept fraction. Output adds ``n_spans``
    / ``n_media`` (the survivor's) to the :func:`curate_corpus` schema.
    """
    from fess_ds_s3_spark.operators.extract import text_from_spans
    sp = F.col(spans)
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
    return _score_gate_fold(scored, "_text", id_col, ("n_spans", "n_media"),
                            langs, min_tokens, min_stopword)


def _score_gate_fold(docs: DataFrame, text: str, id_col: str,
                     keep: tuple[str, ...], langs: Sequence[str],
                     min_tokens: int, min_stopword: tuple[int, int]
                     ) -> DataFrame:
    """Score (arrow_text.curate_metrics) → text gates → one ``groupBy``
    on the fingerprint keeping the min-id survivor: ``(fp, id_col,
    lang_guess, ws_tokens, stopword_ratio, *keep, dup_count)``. ``id_col``
    leads the struct, so ``keep`` columns never change which row wins."""
    num, den = min_stopword
    scored = (arrow_text.curate_metrics(docs, text=text, id_col=id_col,
                                        keep=keep)
              .withColumn("stopword_ratio",
                          arrow_text.stopword_ratio_from_counts()))
    kept = scored.filter(
        F.col("lang_guess").isin(*langs)
        & (F.col("ws_tokens") >= F.lit(min_tokens))
        & (F.col("_stop_hits") * F.lit(den)
           >= F.col("ws_tokens") * F.lit(num)))
    winner_fields = [id_col, "lang_guess", "ws_tokens", "stopword_ratio",
                     *keep]
    winner = F.min(F.struct(*winner_fields)).alias("_w")
    return (kept.groupBy("fp")
            .agg(winner, F.count(F.lit(1)).alias("dup_count"))
            .select("fp", *[f"_w.{f}" for f in winner_fields],
                    "dup_count"))


def funnel_report(docs: DataFrame, *,
                  langs: Sequence[str] = ("en",),
                  min_tokens: int = 20,
                  min_stopword: tuple[int, int] = (1, 50),
                  text: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Observability for the :func:`curate_corpus` funnel: one row per
    stage with the documents and token mass surviving it —
    ``(stage, docs, tokens)`` for stages ``1_input``, ``2_lang``,
    ``3_length``, ``4_stopword`` (cumulative filters, same predicates
    and integer cross-multiplication as the funnel itself) and
    ``5_dedup`` (distinct fingerprints among the kept rows; token mass
    is the min-``id_col`` survivor's, matching the funnel's winner
    rule).  A curation run over a 100 TB crawl is judged by exactly
    this table — where the corpus shrank, and how many tokens each
    gate cost (the reference's crawl stats counter, AmazonS3DataStore's
    per-object callback tally, stops at object counts).

    Scale shape: ONE pass — every per-stage count/sum is a conditional
    aggregate inside a single ``groupBy(fp)`` (map-side combinable;
    the shuffle moves ~one row per distinct fingerprint), followed by a
    one-row global reduce unpivoted to the 5-stage report.  The corpus
    is never scanned twice and no stage materializes an intermediate.
    """
    num, den = min_stopword
    scored = arrow_text.curate_metrics(docs, text=text, id_col=id_col) \
        .select(F.col(id_col).alias("_id"),
                F.col("lang_guess").alias("_lang"),
                F.col("ws_tokens").alias("_tok"),
                F.col("_stop_hits").alias("_hits"), "fp")
    f_lang = F.col("_lang").isin(*langs)
    f_len = f_lang & (F.col("_tok") >= F.lit(min_tokens))
    f_stop = f_len & (F.col("_hits") * F.lit(den)
                      >= F.col("_tok") * F.lit(num))
    zero = F.lit(0).cast("long")

    def stage(flag, tag):
        return [F.count(F.when(flag, F.lit(1))).alias(f"n_{tag}"),
                F.coalesce(F.sum(F.when(flag, F.col("_tok"))), zero)
                .alias(f"t_{tag}")]

    per_fp = scored.groupBy("fp").agg(
        *stage(F.lit(True), "all"), *stage(f_lang, "lang"),
        *stage(f_len, "len"), *stage(f_stop, "kept"),
        F.min(F.when(f_stop, F.struct("_id", "_tok"))).alias("_w"))
    kept_fp = F.col("n_kept") > 0
    report = per_fp.agg(
        F.sum("n_all").alias("d1"), F.sum("t_all").alias("t1"),
        F.sum("n_lang").alias("d2"), F.sum("t_lang").alias("t2"),
        F.sum("n_len").alias("d3"), F.sum("t_len").alias("t3"),
        F.sum("n_kept").alias("d4"), F.sum("t_kept").alias("t4"),
        F.count(F.when(kept_fp, F.lit(1))).alias("d5"),
        F.coalesce(F.sum(F.when(kept_fp, F.col("_w._tok"))), zero)
        .alias("t5"))
    stacked = report.selectExpr(
        "stack(5, '1_input', d1, t1, '2_lang', d2, t2, "
        "'3_length', d3, t3, '4_stopword', d4, t4, '5_dedup', d5, t5) "
        "AS (stage, docs, tokens)")
    return stacked.select(
        "stage", F.coalesce(F.col("docs"), F.lit(0)).cast("long")
        .alias("docs"), F.coalesce(F.col("tokens"), F.lit(0))
        .cast("long").alias("tokens"))


def token_histogram(docs: DataFrame, *,
                    source_col: str = "source",
                    text: str = "text",
                    token_col: str | None = None) -> DataFrame:
    """Per-source token-length histogram on power-of-two buckets:
    ``(source, bucket, n_docs, tokens)`` where ``bucket =
    ⌊log2(tokens + 1)⌋`` — the corpus-report companion to
    :func:`funnel_report` (length distribution per source is the first
    chart every curation review looks at, and the direct input to
    picking :func:`curate_corpus`'s ``min_tokens`` and
    packing's sequence length).

    The bucket is computed as ``len(bin(tokens + 1)) - 1`` — EXACT
    integer math at any magnitude (a float ``log2`` rounds 2^k
    boundaries ambiguously), and reproducible verbatim in the DuckDB
    oracle.  One map-side-combinable groupBy; the scan prunes to
    (source, text).
    """
    tok = (F.col(token_col) if token_col
           else T.token_count_ws(text)).cast("long")
    # floor(log2(n+1)) via the binary-string length: conv() renders the
    # exact bits, length-1 is the exponent — no float involved
    bucket = (F.length(F.conv((tok + F.lit(1)).cast("string"),
                              10, 2)) - F.lit(1)).cast("int")
    return (docs
            .select(F.col(source_col).alias("source"),
                    tok.alias("_tok"), bucket.alias("bucket"))
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_tok").alias("tokens")))


def rare_word_ratio(docs: DataFrame, *, max_df: int = 2,
                    text: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-relative quality signal: per document, the share of its
    DISTINCT words that appear in at most ``max_df`` corpus documents —
    ``(id_col, n_words, n_rare, rare_ratio)``.  High ratios flag
    gibberish, OCR noise, hash dumps and boilerplate-stripped residue
    (their vocabulary is unshared); near-zero ratios flag template spam
    (every word is corpus-common).  The per-row metrics in
    functions/text.py are corpus-blind — this is the one quality gate
    that needs the corpus itself, and the cut point every curation
    recipe tunes per crawl.

    Word normalization matches the dedup shingler (lower, trim,
    whitespace collapse) so quality and dedup agree on tokenization;
    blank documents return ``(0, 0, 0.0)`` explicitly.  ``rare_ratio``
    is exact integer counts with one final ``round(n_rare/n_words, 6)``
    — the same division-then-round contract every ratio oracle in the
    gate uses.

    Shape at 100 TB (restructured r6 — same output, strictly less work):
    ``n_words`` is per-row JVM array math (``size`` of the distinct-word
    array — no join, no shuffle); document frequency is one map-side-
    combinable groupBy on the word; the occurrence stream then joins ONLY
    the ``_df <= max_df`` sliver of the vocabulary (the word-key exchange
    is shared between the two subtrees), so the join output is the
    rare-word occurrences, not the corpus occurrences — the Zipf head
    ("the" fanning 10^9 occurrence rows through one hot key) never
    crosses the join, and the per-doc aggregate shuffles only rare hits.
    No broadcast of the rare set — it is the corpus's vocabulary tail,
    the one thing you must never collect.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), r"\s+", " ")
    warr = F.filter(F.array_distinct(F.split(norm, " ")),
                    lambda w: w != "")
    words = docs.select(F.col(id_col).alias("_id"),
                        F.explode(warr).alias("w"))
    rare = (words.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= F.lit(max_df)).select("w"))
    per_doc = (words.join(rare, "w")
               .groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_rare")))
    # coalesce: NULL text → NULL array → size NULL, but the pre-r6 shape
    # (no per-doc row at all → coalesce(0)) reported 0 — keep that
    return (docs.select(F.col(id_col),
                        F.coalesce(F.size(warr).cast("long"), F.lit(0))
                        .alias("n_words"))
            .join(per_doc, F.col(id_col) == F.col("_id"), "left")
            .select(id_col, "n_words",
                    F.coalesce("n_rare", F.lit(0)).cast("long")
                    .alias("n_rare"))
            .withColumn("rare_ratio",
                        F.when(F.col("n_words") == 0, F.lit(0.0))
                        .otherwise(F.round(F.col("n_rare")
                                           / F.col("n_words"), 6))))
