"""Text analysis for large-scale training-data pipelines.

No reference analog (fess-ds-s3 delegates text handling to Tika/Fess); these
are the engine-native operations a 100 TB document pipeline needs. All pure
built-in column expressions (JVM-side, whole-stage codegen) except the BPE-ish
tokenizer regex, which is still ``F.split`` — zero Python in the hot path.

Design notes for scale: every function here is a narrow projection — no
shuffle, no UDF serialization; they compose into scans and keep predicate
pushdown intact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny deterministic stopword sets for the n-gram language heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "que"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as"]

#: GPT-2-style pre-tokenizer shape: word pieces, numbers, punctuation runs
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count. Empty/blank text → 0."""
    t = F.trim(_col(text))
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))).cast("long")


def token_count_bpe_ish(text: Column | str) -> Column:
    """Regex token count approximating a BPE pre-tokenizer's segmentation."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(BPE_ISH_PATTERN),
                                       F.lit(0))).cast("long")


def char_count(text: Column | str) -> Column:
    return F.length(_col(text)).cast("long")


def _count_matches(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def punct_ratio(text: Column | str) -> Column:
    """punctuation chars / total chars, 4 dp (0.0 for empty text)."""
    t = _col(text)
    total = F.length(t)
    punct = _count_matches(t, r"[^\w\s]")
    return F.when(total == 0, F.lit(0.0)).otherwise(
        F.round(punct.cast("double") / total, 4))


def stopword_hits(text: Column | str,
                  stopwords: list[str] | None = None) -> Column:
    """Count of stopword tokens — an exact integer, so thresholding can
    use cross-multiplied integer compares (``hits * den >= tokens * num``)
    instead of float boundaries that differ across engines by an ulp."""
    words = stopwords or EN_STOPWORDS
    t = F.lower(_col(text))
    pattern = r"\b(?:" + "|".join(words) + r")\b"
    return _count_matches(t, pattern)


def stopword_ratio(text: Column | str,
                   stopwords: list[str] | None = None) -> Column:
    """stopword tokens / whitespace tokens, 4 dp."""
    t = F.lower(_col(text))
    tokens = token_count_ws(t)
    hits = stopword_hits(text, stopwords)
    return F.when(tokens == 0, F.lit(0.0)).otherwise(
        F.round(hits.cast("double") / tokens, 4))


def lang_id(text: Column | str) -> Column:
    """Marker-word language heuristic: the language with the most marker
    hits wins; ties and no-hits → 'und'. Deterministic and SQL-expressible
    (the correctness oracle runs the same rule in ANSI SQL)."""
    t = F.lower(_col(text))
    scores = {
        lang: _count_matches(t, r"\b(?:" + "|".join(ws) + r")\b")
        for lang, ws in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties via later .when precedence
    for lang in reversed(list(scores)):
        expr = F.when((scores[lang] == best) & (best > 0),
                      F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction)
# ---------------------------------------------------------------------------
# Patterns live in the Java-regex ∩ RE2 common subset (no lookaround, no
# backreferences), so the driver's DuckDB oracle runs them VERBATIM.

#: RFC-5322-ish practical email shape
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
#: dotted-quad IPv4 (no octet-range check — scrubbers over-redact by design)
IPV4_PATTERN = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
#: 8+ char digit run allowing (), -, space separators, optional leading +
#: (heuristic: also catches timestamps/serials — over-redaction is the
#: accepted trade for a training-corpus scrubber)
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

#: redaction order matters: emails first (their digits must not be
#: phone-matched), then IPs (dots keep them out of the phone class anyway),
#: then phones. Tokens contain no digits/@/dots, so later patterns can
#: never match an earlier replacement.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("ipv4", IPV4_PATTERN, "<IP>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
)


def redact_pii(text: Column | str) -> Column:
    """Replace email / IPv4 / phone-shaped substrings with typed tokens,
    applied in :data:`PII_RULES` order. Pure ``regexp_replace`` chain —
    JVM-side, no UDF, shuffle-free."""
    out = _col(text)
    for _name, pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts as ``{kind: Column}`` — counted
    SEQUENTIALLY on the partially-redacted text (each kind sees the text
    after earlier rules ran), so counts always agree with what
    :func:`redact_pii` replaced."""
    cur = _col(text)
    out: dict[str, Column] = {}
    for name, pattern, token in PII_RULES:
        out[name] = _count_matches(cur, pattern).cast("long")
        cur = F.regexp_replace(cur, pattern, token)
    return out


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality gates)
# ---------------------------------------------------------------------------

def dup_line_frac(text: Column | str) -> Column:
    """Fraction of non-blank lines that are duplicates of an earlier line
    (``(n - distinct) / n``, 4 dp; 0.0 when no non-blank lines) — the
    boilerplate/template signal: nav bars and footers repeat verbatim.
    Per-row JVM array math, shuffle-free."""
    lines = F.filter(F.split(_col(text), "\n"),
                     lambda l: F.trim(l) != "")
    n = F.size(lines)
    dups = n - F.size(F.array_distinct(lines))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(dups.cast("double") / n, 4))


def top_bigram_frac(text: Column | str) -> Column:
    """Fraction of word-bigram slots taken by the single most frequent
    bigram (4 dp; 0.0 with fewer than 2 tokens) — the stuck-keyboard /
    keyword-stuffing signal (the Gopher "top n-gram fraction" family).

    Per-row and shuffle-free: bigrams are sorted in-array and the max
    equal-run length is found with one ``aggregate`` fold — no explode, a
    10k-token document never becomes 10k rows."""
    t = F.regexp_replace(F.lower(F.trim(_col(text))), r"\s+", " ")
    words = F.split(t, " ")
    nb = F.size(words) - 1
    grams = F.array_sort(F.transform(
        F.sequence(F.lit(1), F.greatest(nb, F.lit(1))),
        lambda i: F.concat_ws(" ", F.element_at(words, i),
                              F.element_at(words, i + 1))))
    run0 = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))
    max_run = F.aggregate(
        grams, run0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .cast("long").alias("run"),
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1)).cast("long")).alias("best")),
        lambda acc: acc["best"])
    return F.when(nb < 1, F.lit(0.0)).otherwise(
        F.round(max_run.cast("double") / nb, 4))


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-dedup fingerprint: md5 of the normalized text (lowercased,
    whitespace collapsed). md5 exists verbatim in DuckDB → oracle-checkable."""
    t = F.regexp_replace(F.lower(F.trim(_col(text))), r"\s+", " ")
    return F.md5(t)


def fingerprint_rolling(text: Column | str, *, base: int = 257,
                        mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over chars (Rabin-Karp style) fingerprint —
    the incremental-hash family used for shift-resistant chunk
    fingerprinting. Built with aggregate() over the char codes; stays
    JVM-side. Long arithmetic: with mod < 2^31 the intermediate
    ``acc*base + code`` stays < 2^40 — no overflow, no decimal widening."""
    t = _col(text)
    # fold: h = (h * base + code) % mod over the characters
    codes = F.transform(F.split(t, ""), lambda ch: F.ascii(ch))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(base) + c.cast("long")) % F.lit(mod),
    )


# ---------------------------------------------------------------------------
# HTML handling (web-crawl payloads: text extraction + link harvesting)
# ---------------------------------------------------------------------------

#: regex chain applied IN ORDER by :func:`html_to_text`; every pattern
#: lives in the Java-regex ∩ RE2 common subset (inline (?is) flags, no
#: backreferences — script and style get separate rules) so a SQL oracle
#: replays the chain verbatim.
HTML_STRIP_RULES: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
)

#: minimal entity set; applied after tag stripping
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)

#: href values in single or double quotes
HREF_PATTERN = r"""href\s*=\s*["']([^"']+)["']"""

#: host of an absolute http(s) URL (group 1)
URL_HOST_PATTERN = r"^https?://([^/?#]+)"


def html_to_text(html: Column | str) -> Column:
    """Visible text of an HTML payload: drop script/style/comment blocks,
    strip tags, decode the common entities, collapse whitespace. A
    deliberately dependency-free extractor (no parser libraries in the
    hot path) — pure ``regexp_replace`` chain, JVM-side, shuffle-free.
    Malformed HTML degrades gracefully (an unclosed tag strips to the
    next ``>``; plain text passes through)."""
    out = _col(html)
    for pattern, repl in HTML_STRIP_RULES:
        out = F.regexp_replace(out, pattern, repl)
    for entity, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(entity), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_links(html: Column | str) -> Column:
    """Array of href values (``href="..."`` / ``href='...'``) in document
    order — the crawl-loop link harvest. Relative URLs come back as
    written; resolve against the page URL downstream."""
    return F.regexp_extract_all(_col(html), F.lit(HREF_PATTERN), 1)


def url_host(url: Column | str) -> Column:
    """Host of an absolute http(s) URL; NULL for relative/other schemes
    (regexp_extract returns '' on no-match — normalized to NULL)."""
    h = F.regexp_extract(_col(url), URL_HOST_PATTERN, 1)
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


#: whole <a ...href=...>…</a> element, lazy body, dotall+case-insensitive
#: (Java-regex ∩ RE2 — inline (?is) flags and lazy quantifiers exist in
#: both; mixed quote pairing href="…' is out of documented scope)
A_TAG_PATTERN = (r"""(?is)<a\s[^>]*href\s*=\s*["'][^"']*["'][^>]*>"""
                 r""".*?</a>""")


def html_anchor_pairs(html: Column | str) -> Column:
    """Array of ``struct<href, anchor>`` for every ``<a href=…>…</a>``
    element in document order — the anchor-text harvest a crawler feeds
    its link index (anchor text is the strongest off-page description
    of the TARGET url; the reference's indexer handoff has no analog).
    ``anchor`` is the element body with nested tags stripped and
    whitespace collapsed; ``href`` comes back as written — resolve
    against the page URL downstream (operators/graph.anchor_texts).
    Pure JVM regexp chain over the same documented Java∩RE2 scope as
    :func:`html_links`; anchors spanning newlines are handled (dotall).
    """
    snips = F.regexp_extract_all(_col(html), F.lit(A_TAG_PATTERN),
                                 F.lit(0))
    return F.transform(snips, lambda s: F.struct(
        F.regexp_extract(s, "(?i)" + HREF_PATTERN, 1).alias("href"),
        F.trim(F.regexp_replace(F.regexp_replace(
            F.regexp_extract(s, r"(?is)>(.*)</a>", 1),
            r"<[^>]+>", " "), r"\s+", " ")).alias("anchor")))
