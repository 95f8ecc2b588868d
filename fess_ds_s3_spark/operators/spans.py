"""Span-level transforms over interleaved text + media documents.

The input_hint's native payload is ``(doc_id, spans: array<struct<kind,
text, media_ref, offset>>)``. Curation (plans/curate.curate_interleaved)
GATES whole documents on that shape; this module TRANSFORMS the shape in
place — the operations a multimodal training pipeline runs between crawl
and packing:

- :func:`map_text_spans` / :func:`scrub_spans` — rewrite the text of text
  spans (PII redaction by default) while media spans and the
  span-sequence invariant ``(kind, media_ref, offset, order)`` pass
  through bit-identical. A trainer consuming the scrubbed corpus sees
  exactly the reference's span sequence (AmazonS3DataStore.java:258-276
  hands extracted content to the indexer without reordering; the
  per-row invariant here is the same contract).
- :func:`span_pii_counts` — per-document PII hit counts summed across
  text spans in ONE array fold (each span counted with the same
  sequential semantics as functions/text.pii_counts).
- :func:`media_manifest` — turn the corpus's media references into a
  fetch plan with exactly ONE row per distinct object, however many
  documents embed it. At 100 TB the same hero image is referenced from
  millions of pages; fetching per-reference
  instead of per-object is the difference between a day and a month of
  GET traffic.

Scale shape: every per-document transform is a JVM array expression
(``transform`` / ``aggregate`` / ``filter``) — no explode, no UDF, no
shuffle; a 10k-span document never becomes 10k rows. The only explode in
the module is :func:`media_manifest`'s, where a per-media-object row IS
the output, followed by the module's only shuffle (groupBy media_ref,
map-side combine applies).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fess_ds_s3_spark.functions.text import PII_RULES, redact_pii
from fess_ds_s3_spark.operators.extract import links_from_spans

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _c(spans: Column | str) -> Column:
    return F.col(spans) if isinstance(spans, str) else spans


def map_text_spans(spans: Column | str,
                   fn: Callable[[Column], Column]) -> Column:
    """Apply ``fn`` to the ``text`` of every text span; every other field
    — and every media span — passes through unchanged, in the original
    array order. NULL text is left NULL (``fn`` never sees it)."""
    def rebuild(s: Column) -> Column:
        new_text = F.when(
            (s["kind"] == F.lit("text")) & s["text"].isNotNull(),
            fn(s["text"])).otherwise(s["text"])
        return F.struct(s["kind"].alias("kind"), new_text.alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].alias("offset"))
    return F.transform(_c(spans), rebuild)


def scrub_spans(spans: Column | str = "spans") -> Column:
    """PII-redact the text spans of an interleaved document in place
    (functions/text.redact_pii: email → ``<EMAIL>``, IPv4 → ``<IP>``,
    phone → ``<PHONE>``, in that order). Media spans, span order, and
    ``(kind, media_ref, offset)`` are preserved bit-identical — the
    span-sequence invariant holds across the scrub. Idempotent: the
    replacement tokens contain no digits, ``@`` or dots, so a second
    pass matches nothing."""
    return map_text_spans(spans, redact_pii)


def span_pii_counts(spans: Column | str = "spans") -> Column:
    """Per-document PII hit counts summed over text spans, as one struct
    column ``(email, ipv4, phone)`` computed in a single array fold.

    Each span is counted with the sequential semantics of
    functions/text.pii_counts (every kind counts on the text AFTER
    earlier kinds were redacted within that span), so the totals agree
    exactly with what :func:`scrub_spans` replaced. Matching is per-span
    by construction — a shape straddling two spans is neither counted
    nor redacted, on either side of the oracle."""
    zero = F.struct(*(F.lit(0).cast("long").alias(name)
                      for name, _p, _t in PII_RULES))

    def step(acc: Column, s: Column) -> Column:
        cur = s["text"]
        is_text = (s["kind"] == F.lit("text")) & s["text"].isNotNull()
        fields = []
        for name, pattern, token in PII_RULES:
            n = F.size(F.regexp_extract_all(cur, F.lit(pattern), F.lit(0)))
            fields.append(
                (acc[name] + F.when(is_text, n.cast("long"))
                 .otherwise(F.lit(0))).alias(name))
            cur = F.regexp_replace(cur, pattern, token)
        return F.struct(*fields)

    return F.aggregate(_c(spans), zero, step)


def scrub_interleaved(docs: DataFrame, spans: str = "spans",
                      *, counts: bool = True) -> DataFrame:
    """Return ``docs`` with the spans column scrubbed in place and (when
    ``counts``) per-kind redaction totals ``pii_email`` / ``pii_ipv4`` /
    ``pii_phone`` appended. Shuffle-free: both the rewrite and the counts
    are per-row array folds."""
    out = docs
    if counts:
        c = span_pii_counts(spans)
        for name, _p, _t in PII_RULES:
            out = out.withColumn(f"pii_{name}", c[name])
    return out.withColumn(spans, scrub_spans(spans))


def media_manifest(docs: DataFrame, spans: str = "spans",
                   id_col: str = "doc_id") -> DataFrame:
    """Distinct media objects referenced by an interleaved corpus:
    ``(media_ref, ref_count, first_doc)`` — one row per object however
    many documents (or spans) reference it, with the total reference
    count and the smallest referencing document id as the deterministic
    representative.

    This is the fetch-planning join key: downstream GETs run once per
    manifest row, and decoded features fan back out to documents by
    ``media_ref``. NULL and empty references are excluded (curation's
    ``drop_broken_media`` is the gate that REJECTS such documents; the
    manifest simply cannot fetch them).

    Scale shape: the explode is the output's own cardinality (one row
    per reference, before the combine); the single shuffle groups by
    ``media_ref`` with map-side partial aggregation, so the reduce side
    sees one row per (partition, distinct ref), not per reference."""
    refs = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(links_from_spans(spans)).alias("media_ref"))
    return (refs.filter(F.col("media_ref") != "")
            .groupBy("media_ref")
            .agg(F.count(F.lit(1)).alias("ref_count"),
                 F.min("_doc").alias("first_doc")))
