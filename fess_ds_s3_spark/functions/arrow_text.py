"""Arrow/RE2 twins of the hot text metrics (optimization r6).

The curate funnel and the MinHash shingler spent their time in
interpreted JVM regex scans and per-position array slice+join string
building (measured at sf1.0: ``lang_id`` 1.64 s, ``stopword_hits``
0.75 s, ``token_count_ws`` 0.43 s, ``fingerprint_md5`` 0.44 s,
``shingles()`` 3.57 s of minhash_lsh's 5.8 s). This module recomputes
the SAME values inside ``mapInArrow`` with pyarrow's RE2 kernels
(linear-time DFA — the ``\\b(?:...)\\b`` alternation scan over the whole
sf1.0 corpus takes ~40 ms single-threaded vs ~1.6 s distributed Java
regex) and cheap Python string slicing, per guide §4.2 (hand whole
batches to vectorized native libraries). ``curate_metrics`` is the one
scoring path of plans/curate.py; every kernel input passes the job-free
``partition_floor`` (scans floored to ``defaultParallelism``, adaptive
inputs left to AQE).

Exact-equivalence notes (why the outputs are bit-identical, not merely
similar):

- **``\\s`` is never used.** Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``
  (includes vertical tab); RE2's is ``[\\t\\n\\f\\r ]``. Every pattern
  here spells the Java set out explicitly, so the engines agree on ALL
  inputs, not just the fixture.
- **``\\b`` agrees**: both engines define it over ASCII
  ``[A-Za-z0-9_]`` word chars by default.
- **Counting agrees**: both count non-overlapping leftmost matches, and
  none of these patterns can match the empty string.
- **``lower``/``trim`` agree on ASCII** (Spark's ``trim`` strips only
  0x20 — ``utf8_trim(characters=" ")`` matches; ``utf8_lower`` and Java
  ``toLowerCase`` can differ on exotic Unicode case mappings — outside
  the documented scope, and every gated entry is verified against the
  DuckDB oracle, which replays the very same regexes through RE2).
- **md5** is the reference algorithm; ``hashlib.md5().hexdigest()`` and
  Spark's ``md5`` both emit lowercase hex.
- **NULL propagation** mirrors the column expressions: NULL text →
  NULL ``ws_tokens``/``_stop_hits``/``fp`` and ``lang_guess = 'und'``
  (the JVM ``when`` chain falls through to the literal).

The JVM expressions in functions/text.py remain the reference
implementations; tests pin kernel == JVM on the fixture corpus and on
adversarial strings (tabs, vertical tabs, punctuation boundaries,
blanks, multi-space runs).
"""

from __future__ import annotations

import hashlib
import json
import logging

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from fess_ds_s3_spark.functions.text import _LANG_MARKERS, EN_STOPWORDS

#: Java's \s, spelled out so RE2 matches it on every input (RE2's \s
#: lacks \x0B)
_JAVA_WS = "[ \\t\\n\\x0B\\f\\r]"

_log = logging.getLogger(__name__)


def partition_floor(src: DataFrame) -> DataFrame:
    """Parallelism floor for a Python kernel stage (guide §2.5/§6, the
    X1 floor-not-cap rule): a single small input file gives the scan ONE
    task, serializing the whole kernel on one core — measured 1.2 s for
    a pass whose per-core work is ~35 ms at sf1.0. When the input's
    partitioning is below the cluster's natural parallelism, repartition
    UP to it (round-robin; every kernel here is row-wise, so placement
    cannot change any value). A large input that already has >=
    defaultParallelism partitions keeps its layout and pays no shuffle —
    the floor never becomes a cap at 100 TB. The decision runs no Spark
    job: an adaptive plan (it reads a shuffle) is returned as is — its
    partition count would run every upstream stage (2 jobs, ~0.9 s) and
    AQE sets it anyway — and only a plan with no exchange is probed
    (plans only, ~0.05 s). Logs one JSON line per call: ``decision``
    (repartition/keep/adaptive), probed ``partitions`` (null if
    adaptive), ``natural``."""
    natural = src.sparkSession.sparkContext.defaultParallelism
    plan = src._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        decision, parts = "adaptive", None
    else:
        parts = src.rdd.getNumPartitions()
        decision = "repartition" if parts < natural else "keep"
    _log.info(json.dumps({"event": "partition_floor", "decision": decision,
                          "partitions": parts, "natural": natural}))
    return src.repartition(natural) if decision == "repartition" else src

_STOP_PATTERN = r"\b(?:" + "|".join(EN_STOPWORDS) + r")\b"
_LANG_PATTERNS = [(lang, r"\b(?:" + "|".join(ws) + r")\b")
                  for lang, ws in _LANG_MARKERS.items()]


def _normalize(txt: pa.Array) -> pa.Array:
    """``regexp_replace(lower(trim(t)), \\s+, " ")`` — the shared
    fingerprint/shingle normalization."""
    return pc.replace_substring_regex(
        pc.utf8_lower(pc.utf8_trim(txt, " ")), _JAVA_WS + "+", " ")


def _ws_tokens(txt: pa.Array) -> pa.Array:
    """int64 twin of ``token_count_ws``: trimmed-empty → 0, else
    ``#separator-runs + 1`` (== ``size(split(t, \\s+))`` for trimmed
    input — Java keeps leading/trailing empty fields, so #fields is
    always #separators + 1)."""
    trimmed = pc.utf8_trim(txt, " ")
    n = pc.add(pc.count_substring_regex(trimmed, _JAVA_WS + "+")
               .cast(pa.int64()), pa.scalar(1, pa.int64()))
    return pc.if_else(pc.equal(trimmed, ""), pa.scalar(0, pa.int64()), n)


def _lang_guess(low: pa.Array) -> pa.Array:
    """String twin of ``lang_id``: most marker hits wins, first language
    in ``_LANG_MARKERS`` order on ties, 'und' on zero hits or NULL."""
    counts = np.stack([
        pc.count_substring_regex(low, pat).fill_null(0)
        .to_numpy(zero_copy_only=False)
        for _lang, pat in _LANG_PATTERNS])
    best = counts.max(axis=0)
    winner = counts.argmax(axis=0)  # first max wins == the when-chain
    names = np.array([lang for lang, _ in _LANG_PATTERNS] + ["und"])
    return pa.array(names[np.where(best > 0, winner, len(names) - 1)])


def _md5_hex(norm: pa.Array) -> pa.Array:
    return pa.array([None if s is None
                     else hashlib.md5(s.encode("utf-8")).hexdigest()
                     for s in norm.to_pylist()], type=pa.string())


def curate_metrics(docs: DataFrame, *, text: str = "text",
                   id_col: str = "doc_id",
                   keep: tuple[str, ...] = ()) -> DataFrame:
    """One Arrow pass over ``(id, text)`` → the curate-funnel score
    columns ``(id_col, *keep, lang_guess, ws_tokens, _stop_hits, fp)``,
    value-identical to the functions/text.py expressions (equivalence
    notes in the module docstring). ``stopword_ratio`` is derived from
    the counts by :func:`stopword_ratio_from_counts`."""
    src = partition_floor(docs.select(id_col, *keep, text))
    nullable = src.schema[text].nullable  # NULL only for NULL text
    out_schema = StructType(
        [src.schema[c] for c in (id_col, *keep)]
        + [StructField("lang_guess", StringType(), False),
           StructField("ws_tokens", LongType(), nullable),
           StructField("_stop_hits", IntegerType(), nullable),
           StructField("fp", StringType(), nullable)])
    n_keep = 1 + len(keep)

    def _kernel(batches):
        for batch in batches:
            txt = batch.column(n_keep)
            low = pc.utf8_lower(txt)
            yield pa.RecordBatch.from_arrays(
                [*[batch.column(i) for i in range(n_keep)],
                 _lang_guess(low),
                 _ws_tokens(txt),
                 pc.count_substring_regex(low, _STOP_PATTERN),
                 _md5_hex(_normalize(txt))],
                names=[id_col, *keep, "lang_guess", "ws_tokens",
                       "_stop_hits", "fp"])

    return src.mapInArrow(_kernel, out_schema)


def stopword_ratio_from_counts() -> F.Column:
    """The ``stopword_ratio`` expression over already-computed counts —
    identical operands to ``functions.text.stopword_ratio`` (hits and
    tokens of the lowered text equal those of the raw text), one
    division instead of two more regex scans."""
    return (F.when(F.col("ws_tokens") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("_stop_hits").cast("double")
                               / F.col("ws_tokens"), 4)))


def shingle_sets(docs: DataFrame, *, text: str = "text",
                 id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """Arrow twin of ``operators.dedup.shingles``: ``(id_col, shingle:
    array<string>)`` with the exact same distinct word-``n``-gram list
    (first-occurrence order) per document.

    The JVM expression builds each shingle with a per-position
    ``slice`` + ``array_join`` over the word array — 3.5 s at sf1.0 and
    the dominant cost of the whole MinHash pipeline. Here the
    normalized text is split once and the n-grams are joined with plain
    Python string slicing over the batch (cheap: the strings are small
    and the loop is per-shingle, not per-char); xxhash64 stays in the
    JVM, applied to these strings, so signatures and candidate sets are
    unchanged bit-for-bit.

    Replicated semantics: normalization as ``_normalize``; ``split``
    on a single space; ``count = max(#words - (n-1), 1)`` so short docs
    yield one (shorter) shingle and empty text yields ``[""]``;
    ``array_distinct`` keeps first occurrences.
    """
    src = partition_floor(docs.select(id_col, text))
    out_schema = StructType([src.schema[id_col],
                             StructField("shingle",
                                         ArrayType(StringType()), True)])

    def _kernel(batches):
        for batch in batches:
            norm = _normalize(batch.column(1))
            out = []
            for s in norm.to_pylist():
                if s is None:
                    # JVM twin: greatest(size(null)-k, 1) → 1 position,
                    # array_join(null) → null element ⇒ [NULL], not NULL
                    out.append([None])
                    continue
                words = s.split(" ", -1)
                count = max(len(words) - (n - 1), 1)
                grams = [" ".join(words[i:i + n]) for i in range(count)]
                out.append(list(dict.fromkeys(grams)))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0),
                 pa.array(out, type=pa.list_(pa.string()))],
                names=[id_col, "shingle"])

    return src.mapInArrow(_kernel, out_schema)
