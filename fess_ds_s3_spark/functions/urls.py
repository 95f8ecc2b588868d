"""URL construction, encoding, canonicalization, resolution.

Reference parity targets:

- P1 URL constructor (``AmazonS3DataStore.getUrl``, AmazonS3DataStore.java:402-410):
  virtual-hosted style ``https://{bucket}.s3.{region}.amazonaws.com/{key}`` or,
  with an endpoint override, ``{scheme}://{bucket}.{authority}/{key}``; the key
  is percent-encoded exactly as Java's ``URI(...).toASCIIString()`` encodes a
  path (space → %20; golden tests pin AmazonS3DataStoreTest.java:126-129,288-293).
- P2 management-URL constructor (``getManagementUrl``, :412-415).
- P3 filename extraction (:300-301) — last path segment of the key.
- P12 URL canonicalization is absent in the reference (S3 keys are already
  canonical); the engine's URL-seen set requires it, so it is implemented
  here as an Arrow-batched pandas UDF. The seen-set hashes (murmur3 /
  xxhash64) are JVM-side, in ``operators/seen.with_seen_keys``.

All per-value Python (quote/canonicalize) runs inside pandas UDFs over Arrow
batches — never row-at-a-time Spark Python UDFs.
"""

from __future__ import annotations

from urllib.parse import quote, urlsplit, urlunsplit, parse_qsl, urlencode

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Characters Java's java.net.URI leaves unencoded in a *path* component:
# unreserved (ALPHA DIGIT - . _ ~) plus path-legal punctuation. This is the
# exact set needed for byte parity with URI.toASCIIString() on paths.
JAVA_URI_PATH_SAFE = "/-._~!$&'()*+,;=:@"

# Tracking query parameters stripped by canonicalization (engine policy;
# deterministic and documented — no reference analog).
TRACKING_PARAMS = frozenset(
    {"utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
     "gclid", "fbclid", "msclkid", "ref", "ref_src"}
)

DEFAULT_PORTS = {"http": "80", "https": "443"}


# --------------------------------------------------------------------------
# Python-side scalar implementations (shared by pandas UDFs and the oracle)
# --------------------------------------------------------------------------

def java_uri_encode_path(path: str) -> str:
    """Percent-encode a URI path byte-identically to Java URI.toASCIIString()."""
    return quote(path, safe=JAVA_URI_PATH_SAFE)


def object_url_py(bucket: str, key: str, region: str,
                  endpoint: str | None = None) -> str:
    """P1: virtual-hosted or endpoint-style object URL (getUrl, :402-410)."""
    encoded = java_uri_encode_path(key)
    if endpoint:
        split = urlsplit(endpoint)
        return f"{split.scheme}://{bucket}.{split.netloc}/{encoded}"
    return f"https://{bucket}.s3.{region}.amazonaws.com/{encoded}"


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 dot-segment removal."""
    output: list[str] = []
    for segment in path.split("/"):
        if segment == ".":
            continue
        if segment == "..":
            if output and output[-1] != "":
                output.pop()
            continue
        output.append(segment)
    # Preserve leading slash; collapse accidental '//' from pops.
    result = "/".join(output)
    if path.startswith("/") and not result.startswith("/"):
        result = "/" + result
    return result or "/"


def canonicalize_url_py(url: str | None) -> str | None:
    """P12: deterministic URL canonical form for the seen-set.

    lowercase scheme+host, strip default port, remove dot-segments, drop
    fragment, strip tracking params, sort remaining query params, drop
    trailing '?' — stable under re-canonicalization (idempotent).
    """
    if url is None:
        return None
    split = urlsplit(url.strip())
    scheme = split.scheme.lower()
    host = split.hostname.lower() if split.hostname else ""
    port = split.port
    netloc = host
    if port is not None and str(port) != DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = _remove_dot_segments(split.path or "/")
    params = [(k, v) for k, v in parse_qsl(split.query, keep_blank_values=True)
              if k not in TRACKING_PARAMS]
    params.sort()
    query = urlencode(params)
    return urlunsplit((scheme, netloc, path, query, ""))


# --------------------------------------------------------------------------
# Arrow-batched pandas UDFs
# --------------------------------------------------------------------------

# DataType objects (not DDL strings) so decoration works without an active
# SparkSession at import time.
@pandas_udf(StringType())
def encode_uri_path(keys: pd.Series) -> pd.Series:
    """Vectorized Java-URI-parity percent encoding of S3 keys/paths."""
    return keys.map(lambda k: java_uri_encode_path(k) if k is not None else None)


@pandas_udf(StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """Vectorized URL canonicalization (engine seen-set key)."""
    return urls.map(canonicalize_url_py)


# --------------------------------------------------------------------------
# Column expressions (pure built-ins — stay in whole-stage codegen)
# --------------------------------------------------------------------------

def build_object_url(bucket: Column | str, key: Column | str, region: str,
                     endpoint: str | None = None, *,
                     encode: bool = True) -> Column:
    """P1 as a column expression. With ``encode=False`` (keys known URL-safe,
    e.g. oracle-checked queries) this is pure concat and never leaves the JVM."""
    bucket = F.col(bucket) if isinstance(bucket, str) else bucket
    key = F.col(key) if isinstance(key, str) else key
    key_part = encode_uri_path(key) if encode else key
    if endpoint:
        split = urlsplit(endpoint)
        prefix = F.concat(F.lit(f"{split.scheme}://"), bucket,
                          F.lit(f".{split.netloc}/"))
    else:
        prefix = F.concat(F.lit("https://"), bucket,
                          F.lit(f".s3.{region}.amazonaws.com/"))
    return F.concat(prefix, key_part)


def build_management_url(bucket: Column | str, key: Column | str,
                         region: str, *, encode: bool = True) -> Column:
    """P2 as a column expression."""
    bucket = F.col(bucket) if isinstance(bucket, str) else bucket
    key = F.col(key) if isinstance(key, str) else key
    key_part = encode_uri_path(key) if encode else key
    return F.concat(
        F.lit("https://s3.console.aws.amazon.com/s3/object/"), bucket,
        F.lit("/"), key_part, F.lit(f"?region={region}"))


def filename_from_key(key: Column | str) -> Column:
    """P3: last path segment (FilenameUtils.getName analog, :300-301)."""
    key = F.col(key) if isinstance(key, str) else key
    return F.element_at(F.split(key, "/"), -1)


# --------------------------------------------------------------------------
# Relative-URL resolution + sitemap parsing (crawl-loop link handling)
# --------------------------------------------------------------------------

def resolve_url(base: "Column | str", href: "Column | str") -> "Column":
    """Resolve an href against its page URL — column-native (no UDF) and
    reproducible in ANSI SQL, covering the four cases a crawl meets:

    - absolute (``scheme://...``) → as written
    - non-hierarchical scheme (``mailto:x``, ``javascript:...``,
      ``data:...`` — a scheme with no ``//``) → NULL: not fetchable, must
      never become a frontier candidate or a link_host_edges self-edge
    - protocol-relative (``//host/...``) → base's scheme + href
    - root-relative (``/path``) → base's ``scheme://host`` + href
    - query-only (``?a=1``) → base's origin+path (query/fragment
      replaced) + href, as RFC 3986 §5.3 / urljoin resolve it
    - fragment-only (``#top``) → NULL: same document, never a new
      crawl candidate
    - path-relative (anything else) → base's directory + href

    Deliberate scope cut vs full RFC 3986: ``..``/``.`` dot segments are
    NOT collapsed (the canonicalizer's job downstream treats the path as
    opaque; two spellings of one path dedup via the fetched content
    tier), and fragments within a non-fragment-only href are kept as
    written. NULL base or href → NULL.
    """
    b = F.col(base) if isinstance(base, str) else base
    h = F.col(href) if isinstance(href, str) else href
    scheme = F.regexp_extract(b, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(b, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    # base directory: origin + path up to (and incl.) the last '/';
    # a path-less base resolves relative hrefs against origin + '/'
    path = F.regexp_extract(b, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)
    full_path = F.concat(origin, F.when(path == "", F.lit("/"))
                         .otherwise(path))
    dir_ = F.concat(origin, F.when(
        path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"[^/]*$", "")))
    null_str = F.lit(None).cast("string")
    out = (F.when(h.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), h)
           .when(h.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), null_str)
           .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
           .when(h.startswith("/"), F.concat(origin, h))
           .when(h.startswith("?"), F.concat(full_path, h))
           .when(h.startswith("#"), null_str)
           .otherwise(F.concat(dir_, h)))
    return F.when(b.isNull() | h.isNull() | (origin == ""),
                  null_str).otherwise(out)


#: ``<loc>`` entries of a sitemap / sitemap-index document
SITEMAP_LOC_PATTERN = r"<loc>\s*([^<\s]+)\s*</loc>"


def sitemap_urls(xml: "Column | str") -> "Column":
    """URLs listed in a sitemap XML body, in document order — the seed
    source crawlers consult before (or instead of) link harvesting.
    Regex-scoped like the HTML handling (functions/text.py): no XML
    parser dependency, same Java-regex ∩ RE2 subset so a SQL oracle
    replays it; also matches a sitemap INDEX (whose <loc>s point at more
    sitemaps — feed them back through the fetch stage)."""
    c = F.col(xml) if isinstance(xml, str) else xml
    return F.regexp_extract_all(c, F.lit(SITEMAP_LOC_PATTERN), 1)
