"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(+ the training-data ops). Crawl-engine operators are exercised over a
*frontier derived deterministically from the testdata ``documents`` table*
with SQL-expressible transforms, so each has an exact DuckDB oracle in
``oracle_sql()``. Sketch/ANN/decode entries whose internals are not
SQL-expressible emit deterministic, SQL-derivable CONTRACTS instead
(planted-positive recall, accuracy bounds, pure-function stub kernels) —
every entry is oracle-checked; distribution-level behavior is additionally
pinned in tests/ against exact in-engine baselines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fess_ds_s3_spark.config import CrawlConfig
from fess_ds_s3_spark.functions import text as T
from fess_ds_s3_spark.operators import dedup, politeness, similarity
from fess_ds_s3_spark.operators import filters as flt
from fess_ds_s3_spark.operators import multimodal
from fess_ds_s3_spark.operators import seen as seen_ops
from fess_ds_s3_spark.operators.project import script_map_project

REGION = "us-east-1"

# ---------------------------------------------------------------------------
# shared frontier derivation (documents → frontier), Spark + SQL twins
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frontier over `documents`: bucket=source, key from
    (lang, doc_id), size=n_chars, priority=doc_id%10; mime from lang."""
    d = _docs(spark, sf_dir)
    key = F.concat(F.lit("docs/"), F.col("lang"), F.lit("/"),
                   F.lpad(F.col("doc_id").cast("string"), 10, "0"),
                   F.lit(".txt"))
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(f".s3.{REGION}.amazonaws.com/"), key)
    host = F.concat(F.col("source"), F.lit(f".s3.{REGION}.amazonaws.com"))
    mime = (F.when(F.col("lang") == "en", F.lit("text/plain"))
            .when(F.col("lang") == "zh", F.lit("text/html"))
            .otherwise(F.lit("application/octet-stream")))
    return d.select(
        F.col("doc_id"),
        F.col("source").alias("bucket"),
        key.alias("key"),
        url.alias("url"),
        host.alias("host"),
        F.col("n_chars").cast("long").alias("size"),
        (F.col("doc_id") % 10).cast("int").alias("priority"),
        mime.alias("resp_content_type"),
    )


#: the same derivation as ANSI SQL (DuckDB), prefixed to every crawl oracle
FRONTIER_CTE = f"""
WITH frontier AS (
  SELECT doc_id,
         source AS bucket,
         'docs/' || lang || '/' || lpad(CAST(doc_id AS VARCHAR), 10, '0')
             || '.txt' AS key,
         'https://' || source || '.s3.{REGION}.amazonaws.com/'
             || 'docs/' || lang || '/'
             || lpad(CAST(doc_id AS VARCHAR), 10, '0') || '.txt' AS url,
         source || '.s3.{REGION}.amazonaws.com' AS host,
         CAST(n_chars AS BIGINT) AS size,
         CAST(doc_id % 10 AS INT) AS priority,
         CASE WHEN lang = 'en' THEN 'text/plain'
              WHEN lang = 'zh' THEN 'text/html'
              ELSE 'application/octet-stream' END AS resp_content_type
  FROM documents
)
"""

#: per-host politeness budget derivable in both engines: the concatenation
#: of ALL digits in the host, as an int, % 5 + 1. NOTE this includes the
#: digits of ".s3." and the region, not just the src number — e.g. host
#: src0.s3.us-east-1.amazonaws.com → digits "031" → 31 % 5 + 1 = 2. Both
#: engines evaluate the identical expression, so the exact digit soup is
#: irrelevant to the oracle — what matters is budgets VARY per host (1-5).
def _budget_spark():
    return F.regexp_replace(F.col("host"), F.lit(r"[^0-9]"),
                            F.lit("")).cast("int") % 5 + 1


_BUDGET_SQL = "(CAST(regexp_replace(host, '[^0-9]', '', 'g') AS INT) % 5 + 1)"

_INCLUDE = r".*/docs/(en|zh|es)/.*"
_EXCLUDE = r".*/docs/zh/.*"
_MAX_SIZE = 300


# ---------------------------------------------------------------------------
# crawl-engine queries
# ---------------------------------------------------------------------------

def q_bucket_catalog(spark, sf_dir):
    """S1: bucket catalog scan — the listBuckets dim (name + object stats),
    the reference's getBuckets iteration surface (AmazonS3Client.java:124-132)."""
    return (_frontier(spark, sf_dir).groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_objects"),
                 F.min("key").alias("first_key"))
            .orderBy("bucket"))


def q_fetch_join(spark, sf_dir):
    """S4/J1: point content fetch as a (bucket, key) equi join against the
    payload table + E2 fetch-miss routing (getObject throws →
    NoSuchKeyException failure row). Payloads exist for doc_id % 7 == 0."""
    from fess_ds_s3_spark.operators.extract import (fetch_payloads,
                                                    route_fetch_miss)
    f = flt.with_status_columns(_frontier(spark, sf_dir))
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    key = F.concat(F.lit("docs/"), F.col("lang"), F.lit("/"),
                   F.lpad(F.col("doc_id").cast("string"), 10, "0"),
                   F.lit(".txt"))
    payloads = d.select(F.col("source").alias("bucket"), key.alias("key"),
                        F.encode("text", "utf-8").alias("content"))
    out = route_fetch_miss(fetch_payloads(f, payloads))
    return out.select("url", "status", "error_name")


def q_object_fields(spark, sf_dir):
    """P4 (date arithmetic/cast) + P8 (filetype lookup map) as gate-checked
    scalar projections (the full 38-field objectMap is golden-tested in
    tests/test_project.py)."""
    filetype_map = {"text/plain": "txt", "text/html": "html",
                    "application/json": "json", "application/pdf": "pdf"}
    mapping = F.create_map(
        *[F.lit(x) for kv in filetype_map.items() for x in kv])
    f = _frontier(spark, sf_dir)
    mod_date = F.date_add(F.to_date(F.lit("2020-01-01")),
                          (F.col("doc_id") % 1000).cast("int"))
    return f.select(
        "doc_id",
        F.coalesce(mapping[F.col("resp_content_type")],
                   F.lit("others")).alias("filetype"),
        mod_date.cast("string").alias("mod_date"))


def q_listing_order(spark, sf_dir):
    """S3/O1: per-bucket ascending binary key order, first max_keys=50."""
    return (politeness.reference_order_admission(
        _frontier(spark, sf_dir), max_keys=50)
        .select("bucket", "key", "page_rank"))


def q_bucket_filter(spark, sf_dir):
    """S2/F4: literal-set bucket membership."""
    cfg = CrawlConfig(region=REGION, buckets=("src0", "src1"))
    return (flt.bucket_filter(_frontier(spark, sf_dir), cfg)
            .select("bucket", "key"))


def q_url_build(spark, sf_dir):
    """P1/P2/P3: URL, management URL, filename construction."""
    from fess_ds_s3_spark.functions.urls import (build_management_url,
                                                 filename_from_key)
    f = _frontier(spark, sf_dir)
    return f.select(
        "doc_id", "url",
        build_management_url("bucket", "key", REGION, encode=False)
        .alias("management_url"),
        filename_from_key("key").alias("filename"))


def q_include_exclude(spark, sf_dir):
    """F1: include/exclude full-match routing (E1 discard semantics)."""
    cfg = CrawlConfig(region=REGION, include_pattern=_INCLUDE,
                      exclude_pattern=_EXCLUDE)
    df = flt.with_status_columns(_frontier(spark, sf_dir))
    return (flt.apply_url_filter(df, cfg)
            .select("url", "status", "discard_reason"))


def q_mime_filter(spark, sf_dir):
    """F2: response-content-type allowlist (full-match, E1 discard)."""
    cfg = CrawlConfig.from_params(
        {"region": REGION, "supported_mimetypes": "text/plain, text/html"})
    df = flt.with_status_columns(_frontier(spark, sf_dir))
    return (flt.apply_mimetype_filter(df, cfg)
            .select("url", "resp_content_type", "status", "discard_reason"))


def q_size_routing(spark, sf_dir):
    """F3: max-size guard routes to failures (E2), never drops."""
    cfg = CrawlConfig(region=REGION, max_size=_MAX_SIZE)
    df = flt.with_status_columns(_frontier(spark, sf_dir))
    return (flt.apply_max_size_guard(df, cfg)
            .select("url", "size", "status", "error_name"))


def q_politeness(spark, sf_dir):
    """W1: per-host ranking by (priority, url), budget admission."""
    cfg = CrawlConfig(region=REGION, salt_threshold=1000, salt_buckets=4)
    f = _frontier(spark, sf_dir).withColumn("budget", _budget_spark())
    ranked = politeness.rank_within_host(f, "host", ("priority", "url"))
    return (ranked.filter(F.col("host_rank") <= F.col("budget"))
            .select("host", "host_rank", "url"))


def q_admission_bucketed(spark, sf_dir):
    """Exchange-free scheduling round over a host-BUCKETED frontier table
    (plans/bucketed.py) — ORACLE-CHECKED against the same SQL as the
    shuffle-path flagship: the frontier is written CLUSTERED BY (host),
    the URL-seen set rides the table as committed=true marker rows, and
    dedup + seen-filter + admission run as windows off the storage
    partitioning with ZERO Exchange nodes (plan asserted in
    tests/test_bucketed.py). Same admissions as seen-anti-join → per-host
    rank → budget cut."""
    from fess_ds_s3_spark.plans import bucketed as B
    cfg = CrawlConfig(region=REGION)
    f = (_frontier(spark, sf_dir)
         .withColumn("canonical_url", F.col("url"))
         .withColumn("discovery_time", F.lit(0).cast("long")))
    sf_name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    table, path = (f"gate_bucketed_{sf_name}".replace(".", "_"),
                   f"/tmp/spark-graft-bucketed/{sf_name}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    B.ingest_frontier(f, cfg, table=table, path=path, n_buckets=8,
                      mode="overwrite")
    seen = (f.filter(F.col("doc_id") % 3 == 0)
            .select("host", "canonical_url"))
    B.mark_committed(seen, table=table, path=path, n_buckets=8)
    budgets = (f.select("host").distinct()
               .withColumn("budget_per_round", _budget_spark()))
    adm = B.schedule_bucketed(spark.table(table), cfg,
                              host_budgets=budgets,
                              rank_by=("priority", "url"))
    return adm.select("host", "host_rank", "url")


def q_seen_antijoin(spark, sf_dir):
    """F5/J4: exact URL-seen anti-join (seen = doc_id % 3 == 0)."""
    f = _frontier(spark, sf_dir).withColumnRenamed("url", "canonical_url")
    seen = f.filter(F.col("doc_id") % 3 == 0).select("canonical_url")
    return (seen_ops.anti_join_seen_exact(f, seen)
            .select(F.col("canonical_url").alias("url")))


def q_seen_bloom_antijoin(spark, sf_dir):
    """F5 at-scale path — ORACLE-CHECKED: the bloom-pre-filter → exact-
    confirm pipeline (``filter_unseen``: partitioned blobs built with a
    grouped pandas UDF, broadcast scalar-UDF probe, left-anti confirm of
    bloom-positives only). Output is DEFINED to equal the plain exact
    anti-join (blooms have no false negatives), so the ``seen_antijoin``
    SQL oracle checks the whole bloom path end-to-end."""
    cfg = CrawlConfig(region=REGION, bloom_expected=50_000,
                      seen_partitions=8)
    f = _frontier(spark, sf_dir).withColumnRenamed("url", "canonical_url")
    seen = f.filter(F.col("doc_id") % 3 == 0).select("canonical_url")
    blooms = seen_ops.build_bloom(seen, cfg)
    return (seen_ops.filter_unseen(f, seen, blooms, cfg)
            .select(F.col("canonical_url").alias("url")))


def q_seen_cuckoo_antijoin(spark, sf_dir):
    """F5 deletable fallback — ORACLE-CHECKED: cuckoo pre-filter → exact
    confirm (``filter_unseen_cuckoo``). Cuckoo filters have no false
    negatives, so the output is DEFINED to equal the exact anti-join —
    the same oracle as ``seen_antijoin`` checks the whole cuckoo path
    (16-bit fingerprints, deterministic kick insertion, cogrouped probe).
    Deletion semantics are pinned in tests/test_seen.py."""
    cfg = CrawlConfig(region=REGION, bloom_expected=50_000,
                      seen_partitions=8)
    f = _frontier(spark, sf_dir).withColumnRenamed("url", "canonical_url")
    seen = f.filter(F.col("doc_id") % 3 == 0).select("canonical_url")
    blobs = seen_ops.build_cuckoo(seen, cfg)
    return (seen_ops.filter_unseen_cuckoo(f, seen, blobs, cfg)
            .select(F.col("canonical_url").alias("url")))


def q_resize_plan(spark, sf_dir):
    """Multimodal resize geometry — ORACLE-CHECKED: decode (stub kernel =
    pure fn of sha256 bytes) → letterbox resize plan to 224×224 as pure
    column math; DuckDB re-derives width/height from the same bytes and
    replays the identical double-precision expressions."""
    d = _docs(spark, sf_dir)
    media = d.select(
        F.concat(F.lit("m-"), F.col("doc_id")).alias("media_id"),
        F.encode("text", "utf-8").alias("content"))
    decoded = multimodal.decode_media(media)
    plan = multimodal.resize_plan(decoded, target_w=224, target_h=224)
    return plan.select("media_id", "width", "height", "scale",
                       "new_width", "new_height", "pad_x", "pad_y")


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plan — ORACLE-CHECKED: deterministic duration
    (n_chars × 40 ms) → evenly spaced sample timestamps at 1 fps as an
    array<long>; DuckDB rebuilds the same list with generate_series."""
    d = _docs(spark, sf_dir)
    vids = d.select(
        F.col("doc_id"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"))
    plan = multimodal.frame_sample_plan(vids, fps_out=1.0)
    return plan.select(
        "doc_id", "duration_ms",
        F.size("sample_points_ms").alias("n_frames"),
        F.element_at("sample_points_ms", 1).alias("first_point"),
        F.element_at("sample_points_ms", -1).alias("last_point"),
        F.aggregate("sample_points_ms", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("points_sum"))


def _store_root(sf_dir: str) -> str:
    import os
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"/tmp/spark-graft-store/{base}"


def _ensure_store(spark, sf_dir: str) -> str:
    """Materialize the deterministic object-store fixture for this SF once:
    objects exist for doc_id % 7 == 0 (the ``fetch_join`` payload rule) at
    the frontier's (bucket, key), bytes = the doc text, Content-Type from
    the lang→mime rule. Built with a ``foreachPartition`` write (each task
    writes its slice through the store client — local mode shares the
    filesystem) so large SFs build in parallel; the ``_done`` marker makes
    the build once-per-SF."""
    import os
    root = _store_root(sf_dir)
    done = f"{root}/_done"
    if os.path.exists(done):
        return root

    def _write_partition(rows):
        from fess_ds_s3_spark.sources.object_store import FsObjectStore
        store = FsObjectStore(root)
        mime = {"en": "text/plain", "zh": "text/html"}
        for r in rows:
            key = f"docs/{r.lang}/{r.doc_id:010d}.txt"
            store.put_object(r.source, key, r.text.encode("utf-8"),
                             content_type=mime.get(
                                 r.lang, "application/octet-stream"))

    (_docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
     .select("doc_id", "source", "lang", "text")
     .foreachPartition(_write_partition))
    open(done, "w").write("ok")
    return root


def q_fetch_store(spark, sf_dir):
    """S4 production fetch — ORACLE-CHECKED through the REAL stage: the
    admitted rows GET their bytes from the object store inside
    ``mapInPandas`` (sources/object_store.fetch_objects), a missing key
    routes to E2 failed(NoSuchKeyException) (AmazonS3DataStore.java:279-284)
    and fetched bytes flow through E3 extraction; the md5 of the extracted
    contents is SQL-derivable from the documents table."""
    from fess_ds_s3_spark.operators.extract import (route_extract,
                                                    route_fetch_miss)
    from fess_ds_s3_spark.sources.object_store import fetch_objects
    root = _ensure_store(spark, sf_dir)
    cfg = CrawlConfig(region=REGION)
    f = flt.with_status_columns(_frontier(spark, sf_dir))
    fetched = route_fetch_miss(fetch_objects(f, root))
    out = route_extract(fetched, cfg)
    return out.select(
        "url", "status", "error_name",
        F.md5("contents").alias("contents_md5"))


def _admitted_round1(spark, sf_dir):
    """Flagship admission base: seen anti-join → per-host ranking →
    politeness-budget admission (all frontier columns kept)."""
    f = _frontier(spark, sf_dir)
    seen = (f.filter(F.col("doc_id") % 3 == 0)
            .select(F.col("url").alias("canonical_url")))
    unseen = f.join(seen, f["url"] == seen["canonical_url"], "left_anti")
    ranked = politeness.rank_within_host(
        unseen.withColumn("budget", _budget_spark()), "host",
        ("priority", "url"))
    return (ranked.filter(F.col("host_rank") <= F.col("budget"))
            .drop("budget"))


def _routed_round1(spark, sf_dir):
    """Flagship routed frame with ALL frontier columns (bucket/key/doc_id
    kept so derived entries — stats, counts — can project what they need):
    seen anti-join → per-host ranking → budget admission → filter chain."""
    cfg = CrawlConfig(region=REGION, include_pattern=_INCLUDE,
                      exclude_pattern=_EXCLUDE, max_size=_MAX_SIZE)
    admitted = _admitted_round1(spark, sf_dir)
    return flt.apply_max_size_guard(
        flt.apply_url_filter(flt.with_status_columns(admitted), cfg), cfg)


def q_admission_fair(spark, sf_dir):
    """Fair round-budget admission over the flagship admission base:
    per-host quotas by largest-remainder apportionment of a 23-fetch
    round budget over the politeness-admitted backlog
    (operators/politeness.host_budget), each
    host keeping its host_rank ≤ quota prefix — the anti-starvation
    alternative to the reference-parity page top-K."""
    # r6: the politeness-admitted backlog per host is, by construction,
    # min(#unseen rows, politeness budget) — host_rank enumerates
    # 1..n_unseen and admission keeps rank <= budget — so the quota input
    # is derived from a plain aggregate over the anti-joined frontier
    # instead of a second evaluation of the ranking window (same values,
    # one window pass less; verified row-identical vs the groupBy-over-
    # admitted shape).
    f = _frontier(spark, sf_dir)
    seen = (f.filter(F.col("doc_id") % 3 == 0)
            .select(F.col("url").alias("canonical_url")))
    unseen = f.join(seen, f["url"] == seen["canonical_url"], "left_anti")
    backlog = (unseen.withColumn("budget", _budget_spark())
               .groupBy("host")
               .agg(F.least(F.count(F.lit(1)), F.min("budget"))
                    .alias("pending")))
    quotas = politeness.host_budget(backlog, 23).select("host", "quota")
    admitted = _admitted_round1(spark, sf_dir)
    return (admitted.join(F.broadcast(quotas), "host")
            .filter(F.col("host_rank") <= F.col("quota"))
            .select("host", "host_rank", "url", "quota"))


def q_admission_round1(spark, sf_dir):
    """Flagship: one full scheduling round — seen anti-join → per-host
    ranking → budget admission → filter chain routing (F1+F3)."""
    return _routed_round1(spark, sf_dir).select(
        "host", "host_rank", "url", "status", "discard_reason", "error_name")


def q_status_counts(spark, sf_dir):
    """A1: counts per routing status over the flagship round."""
    return (q_admission_round1(spark, sf_dir)
            .groupBy("status").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status"))


def q_host_agg(spark, sf_dir):
    """A2: per-host frontier accounting (count/sum/min/max)."""
    return (_frontier(spark, sf_dir).groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.sum("size").alias("total_bytes"),
                 F.min("key").alias("min_key"),
                 F.max("key").alias("max_key")))


def q_union_dedup(spark, sf_dir):
    """§2.8 set ops: overlapping slices → unionByName → distinct count."""
    f = _frontier(spark, sf_dir)
    a = f.filter(F.col("doc_id") < 250)
    b = f.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 350))
    return (a.unionByName(b).select("bucket", "url").distinct()
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket"))


def q_stats_events(spark, sf_dir):
    """S7 — ORACLE-CHECKED at row level through the REAL ``stats_events``
    operator (plans/lineage.py): key = ``bucket@key``
    (AmazonS3DataStore.java:196), full four-action taxonomy — FINISHED /
    discard / ACCESS_EXCEPTION / EXCEPTION. The reference's two catch arms
    (:279-287) are exercised by splitting the flagship's size failures:
    even doc_ids are relabeled as extraction errors (the generic-throwable
    arm → EXCEPTION), odd keep MaxLengthExceededException (crawling-access
    arm → ACCESS_EXCEPTION)."""
    from fess_ds_s3_spark.plans import lineage as lineage_ops
    routed = _routed_round1(spark, sf_dir)
    failed = F.col("status") == "failed"
    routed = (
        routed
        .withColumn("status", F.when(F.col("status") == "pending",
                                     F.lit("stored"))
                    .otherwise(F.col("status")))
        .withColumn("error_name",
                    F.when(failed & (F.col("doc_id") % 2 == 0),
                           F.lit("ExtractException"))
                    .otherwise(F.col("error_name")))
        .withColumnRenamed("bucket", "bucket_name"))
    return lineage_ops.stats_events(routed, round_id=1)


def q_script_projection(spark, sf_dir):
    """P11: config-driven script-map projection with object.x addressing."""
    f = _frontier(spark, sf_dir)
    return script_map_project(f, {
        "title": "object.key",
        "url": "object.url",
        "doc_id": "object.doc_id",
        "size_kb": "CAST(object.size / 1000.0 AS DOUBLE)",
    })


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: min doc_id + count per normalized-text fingerprint."""
    return (dedup.dedup_exact(_docs(spark, sf_dir))
            .select("fp", "doc_id", "dup_count"))


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over normalized text."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.fingerprint_md5("text").alias("fp"))


def q_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex segmentation."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count_ws("text").alias("ws_tokens"),
        T.token_count_bpe_ish("text").alias("bpe_tokens"),
        T.char_count("text").alias("chars"))


def q_quality(spark, sf_dir):
    """Quality scoring: punctuation/stopword ratios (4 dp)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_ratio("text").alias("stopword_ratio"))


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (marker-word counts, deterministic)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.lang_id("text").alias("lang_guess"))


def q_events_window(spark, sf_dir):
    """W2 analytic frame: per-user running total of event values."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return e.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"))


def q_cosine_topk(spark, sf_dir):
    """Similarity search: exact brute-force cosine top-5 for 10 queries."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return (similarity.brute_force_topk(queries, emb, k=5)
            .select("query_id", "vec_id", "rank"))


def q_rare_words(spark, sf_dir):
    """Corpus-relative rare-word quality signal
    (plans/curate.rare_word_ratio): per document, the share of its
    distinct words with corpus document-frequency ≤ 3 — the one quality
    gate that needs the corpus itself (per-row metrics are
    corpus-blind). Exact integer counts, one final division+round; the
    df join is a shuffle on the word key, never a broadcast of the
    vocabulary tail."""
    from fess_ds_s3_spark.plans.curate import rare_word_ratio
    return rare_word_ratio(_docs(spark, sf_dir), max_df=3)


def q_token_histogram(spark, sf_dir):
    """Per-source token-length histogram (plans/curate.token_histogram):
    power-of-two buckets via exact integer math (binary-string length,
    never a float log2 that rounds 2^k boundaries ambiguously) — the
    corpus-report companion to funnel_report, one map-side-combinable
    groupBy."""
    from fess_ds_s3_spark.plans.curate import token_histogram
    return token_histogram(_docs(spark, sf_dir))


def q_quantized_topk(spark, sf_dir):
    """int8-quantized cosine top-5 (operators/similarity.py): symmetric
    scalar quantization (scale = max|v|, floor(v·127/scale + 0.5)) of
    both sides, exact int64 code dot + integer squared norms, ranked by
    the quantized cosine — the 4×-smaller scan kernel an ANN re-rank
    runs at 100 TB. Every float step is a fixed-shape correctly-rounded
    IEEE op, so the DuckDB oracle reproduces codes, dots and ranks
    bit-for-bit; recall vs exact cosine is pinned in tests."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.quantized_topk(queries, emb, k=5)


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs on a doc subset (integers only)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_jaccard_pairs(d, n=3, threshold=0.02)


def q_html_text(spark, sf_dir):
    """HTML text extraction (functions/text.html_to_text): documents
    wrapped in a deterministic HTML envelope (style + script + comment
    + entity + tags), then the regexp chain recovers the visible text.
    Oracle replays HTML_STRIP_RULES verbatim (Java-regex ∩ RE2)."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<html><head><style>p{color:red}</style>"
              "<script>var x=\"<p>hidden</p>\";</script></head>"
              "<body><!-- note --><p>"),
        F.col("text"),
        F.lit("</p> &amp; <a href=\"https://"), F.col("source"),
        F.lit(".example/x\">link</a></body></html>"))
    return d.select("doc_id", T.html_to_text(html).alias("clean"))


def q_link_graph(spark, sf_dir):
    """Link harvesting → host graph (operators/graph.link_host_edges):
    each doc becomes a page at its frontier URL whose body links one
    absolute target host ('src'||(doc_id*3)%20) and one root-relative
    path (resolved against the page URL → a self-host edge). Output:
    distinct (src, dst) host edges."""
    from fess_ds_s3_spark.operators import graph
    f = _frontier(spark, sf_dir)
    pages = f.select(
        "url",
        F.concat(F.lit("<a href=\"https://src"),
                 ((F.col("doc_id") * 3) % 20).cast("string"),
                 F.lit(".example/t\">x</a><a href='/rel'>y</a>"))
        .alias("contents"))
    return graph.link_host_edges(pages)


def q_host_budget(spark, sf_dir):
    """Global round-budget apportionment (operators/politeness.
    host_budget): the per-host backlog (frontier rows per host) shares
    a budget of 137 fetches by largest-remainder — ⌊pending·B/T⌋ via
    exact integral `div` plus one unit to the biggest remainders
    (ties by host), Σ quota = B exactly, never above a host's backlog.
    The admission stage's global constraint, complementing the
    per-host politeness cap."""
    f = _frontier(spark, sf_dir)
    backlog = f.groupBy("host").agg(F.count(F.lit(1)).alias("pending"))
    return politeness.host_budget(backlog, 137)


def q_anchor_text(spark, sf_dir):
    """Anchor-text index (operators/graph.anchor_texts): every page
    carries one absolute link with a nested-tag anchor ('<b>doc</b> N',
    N = doc_id%5 — the harvest strips tags and collapses whitespace)
    and one root-relative link ('self link') that resolves to the
    page's own host. Output: (dst_url, anchor, n_refs) — the off-page
    description signal a crawl-fed index attaches per target URL. The
    oracle re-derives both groups from the synthesis rule; the regex
    harvest itself is pinned in test_html."""
    from fess_ds_s3_spark.operators import graph
    f = _frontier(spark, sf_dir)
    pages = f.select(
        "url",
        F.concat(F.lit("<a href=\"https://src"),
                 ((F.col("doc_id") * 3) % 20).cast("string"),
                 F.lit(".example/t\"><b>doc</b>\n"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit("</a><a href='/rel'>self link</a>"))
        .alias("contents"))
    return graph.anchor_texts(pages)


def q_asof_events(spark, sf_dir):
    """As-of join (operators/asof.py, J5 family): every event joins the
    latest earlier-or-equal 'snapshot' event (event_id % 10 == 0) of the
    same user — the union-window backward as-of. Oracle: DuckDB's
    native ASOF LEFT JOIN over identical integer timestamps."""
    from fess_ds_s3_spark.operators.asof import asof_join
    from fess_ds_s3_spark.operators.sessions import _micros
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "user_id",
                  _micros("ts", "2024-01-01 00:00:00").alias("us")))
    snap = (ev.filter(F.col("event_id") % 10 == 0)
            .select("user_id", "us", F.col("event_id").alias("snap_id")))
    return asof_join(ev, snap, on="user_id")


def q_asof_salted(spark, sf_dir):
    """Skew-safe as-of join (operators/asof.py time_slices>1): the same
    backward as-of as asof_events but through the range-partitioned
    path — each user's time axis is cut into 8 contiguous slices, the
    window runs per (user, slice), and slice boundaries are bridged by
    a cascaded last-right-row seed. Output must be bit-identical to the
    unsalted window (and to DuckDB's native ASOF LEFT JOIN oracle);
    max window-task input shrinks ~8x on a whale user."""
    from fess_ds_s3_spark.operators.asof import asof_join
    from fess_ds_s3_spark.operators.sessions import _micros
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "user_id",
                  _micros("ts", "2024-01-01 00:00:00").alias("us")))
    snap = (ev.filter(F.col("event_id") % 10 == 0)
            .select("user_id", "us", F.col("event_id").alias("snap_id")))
    return asof_join(ev, snap, on="user_id", time_slices=8)


def q_sitemap_seed(spark, sf_dir):
    """Sitemap parsing (functions/urls.sitemap_urls): each frontier row
    becomes a two-<loc> sitemap (its own URL + a mirror URL with
    whitespace padding the loc); the regex harvest recovers both,
    trimmed. Output: (doc_id, url) seed candidates."""
    from fess_ds_s3_spark.functions.urls import sitemap_urls
    f = _frontier(spark, sf_dir)
    xml = F.concat(
        F.lit("<?xml version=\"1.0\"?><urlset><url><loc>"), F.col("url"),
        F.lit("</loc></url><url><loc> https://mirror.example/"),
        F.col("doc_id").cast("string"),
        F.lit(" </loc></url></urlset>"))
    return f.select("doc_id", F.explode(sitemap_urls(xml)).alias("url"))


def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment (plans/export.py):
    shard = floor(hex8(md5(doc_id||seed)) * 8 / 16^8) — content-keyed,
    partitioning-invariant; the oracle re-parses the md5 hex digit by
    digit (16^8 = 2^32 makes the bucketing an exact integer shift)."""
    from fess_ds_s3_spark.plans import export
    d = _docs(spark, sf_dir).select("doc_id")
    return export.assign_shards(d, n_shards=8, seed="export")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): per-user
    sessions over the events table, 1800 s strict-greater gap, event-id
    tie-break, microseconds via tz-independent TIMESTAMP_NTZ arithmetic
    from a fixed naive base — integer columns only."""
    from fess_ds_s3_spark.operators import sessions
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.session_stats(ev, base_ts="2024-01-01 00:00:00")


def q_host_authority(spark, sf_dir):
    """Host-graph authority (operators/graph.py): fixed-point integer
    PageRank (damping 7/8, scale 10^12, 3 iterations) over a
    deterministic host link graph — each document links its source host
    to host 'src'||((doc_id*7) % 20). Integer div/sum only, so ranks are
    bit-exact at any parallelism and against the unrolled SQL oracle."""
    from fess_ds_s3_spark.operators import graph
    d = _docs(spark, sf_dir)
    edges = d.select(
        F.col("source").alias("src"),
        F.concat(F.lit("src"),
                 ((F.col("doc_id") * 7) % 20).cast("string")).alias("dst"))
    return graph.host_authority(edges, iterations=3)


def q_dedup_cluster(spark, sf_dir):
    """Duplicate CLUSTERING: n-gram-Jaccard pair edges → connected
    components via alternating large-star/small-star
    (operators/clustering.py, Kiveris et al. SoCC'14 — O(log n) rounds,
    all integer min-id math). One row per doc in the subset:
    (doc_id, component = min doc_id transitively reachable through the
    pair graph; singletons map to themselves). Oracle: the same pair CTE
    as `ngram_jaccard` + a recursive transitive closure."""
    from fess_ds_s3_spark.operators import clustering
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.02)
    return clustering.components(pairs.select("a", "b"), d)


# --- rows-only entries (non-SQL-expressible; pinned in tests/ instead) ----

def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs — ORACLE-CHECKED: the verify stage emits
    exact integer (inter, union) per surviving pair, and the DuckDB oracle
    computes the same all-pairs exact Jaccard ≥ τ set directly; equality
    holds iff LSH candidate recall is complete at τ on this corpus (128
    hashes / 32 bands ⇒ band-miss probability < 1e-4 even at τ exactly).

    The testdata corpus has no high-Jaccard pairs (banding provably can't
    recall sub-0.1-Jaccard pairs), so the query plants deterministic
    near-duplicates: each doc in the subset gets a clone (doc_id+10^6) with
    one appended token; LSH must recover exactly those pairs.
    """
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0) \
        .select("doc_id", "text")
    clones = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" nearduplicate"))
                      .alias("text"))
    corpus = d.unionByName(clones)
    return (dedup.dedup_minhash_lsh(corpus, threshold=0.7, num_hashes=128,
                                    bands=32, shingle_n=3)
            .select("a", "b", "inter", "union_"))


def q_simhash(spark, sf_dir):
    """SimHash near-dup pairs with Hamming ≤ 4 — ORACLE-CHECKED: tokens use
    the portable md5-derived 60-bit hash so DuckDB rebuilds the identical
    signatures bit-for-bit, and (radius+1)-block pigeonhole recall is
    COMPLETE at the radius (proven vs brute force at r=0/3/12 in tests), so
    blocked candidate pairs == all pairs within the radius == the oracle's
    all-pairs set."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0) \
        .select("doc_id", "text")
    # planted positives: exact clones (Hamming 0) + one-token edits (small
    # but corpus-dependent Hamming — both engines agree either way)
    exact = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    near = d.select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                    F.concat("text", F.lit(" nearduplicate")).alias("text"))
    corpus = d.unionByName(exact).unionByName(near)
    sigs = dedup.simhash(corpus, token_hash=dedup.md5_token_hash60)
    return dedup.simhash_candidate_pairs(sigs, max_hamming=4)


def q_ann_lsh(spark, sf_dir):
    """SRP-LSH ANN — ORACLE-CHECKED recall contract (was rows-only in r2):
    each query gets a planted bit-identical clone (vec_id + 10^6). An
    identical vector lands in the SAME bucket in every SRP table, so the
    clone is deterministically a candidate; exact re-rank puts it at rank 1
    (cos = 1.0, the unique maximum on this corpus). The query emits the
    ANN top-1 AND agreement with the in-query brute-force top-1
    (``matches_exact``) — both SQL-derivable: top1 = the clone, cos = 1,
    agreement = true. Tie-safety (ADVICE r3): the vec_id-ascending
    tie-break could only prefer a non-clone if some corpus vector tied the
    clone's cos 1.0; the testdata fixture is verified tie-free — the max
    cross-pair cosine among these queries is < 0.50 at every SF (DuckDB
    all-pairs check), far below the 0.9999995 rounding tie threshold.
    Distribution-recall (non-planted) stays pinned in
    tests/test_similarity.py against the exact baseline."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = 64  # fixed embedding width in the testdata schema (all SFs);
    # passed explicitly — no .first() driver action at plan-build time
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    clones = (emb.filter(F.col("vec_id") < 10)
              .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                      "embedding"))
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    ann1 = (similarity.ann_lsh_topk(queries, corpus, dim, k=1, bits=8,
                                    tables=8)
            .select("query_id", F.col("vec_id").alias("top1_id"),
                    F.round("cos", 4).alias("top1_cos")))
    exact1 = (similarity.brute_force_topk(queries, corpus, k=1)
              .select("query_id", F.col("vec_id").alias("_exact_id")))
    return (ann1.join(exact1, "query_id")
            .select("query_id", "top1_id", "top1_cos",
                    (F.col("top1_id") == F.col("_exact_id"))
                    .alias("matches_exact")))


def q_approx_distinct(spark, sf_dir):
    """A3: approx_count_distinct over frontier URLs (HLL++) — ORACLE-CHECKED
    accuracy contract: emits the exact distinct count plus a boolean
    asserting the HLL estimate landed within 5% (default rsd 0.05 ⇒ the
    bound holds w.h.p.; the estimate itself is engine-specific so the
    *contract*, not the estimate, is the comparable value)."""
    agg = (_frontier(spark, sf_dir)
           .agg(F.approx_count_distinct("url").alias("approx"),
                F.countDistinct("url").alias("exact_urls")))
    return agg.select(
        "exact_urls",
        (F.abs(F.col("approx") - F.col("exact_urls"))
         <= F.col("exact_urls") * 0.05).alias("within_tolerance"))


def q_decode_media(spark, sf_dir):
    """Multimodal plumbing — ORACLE-CHECKED: binary media column → decoded
    metadata via mapInPandas. The stub kernel is a pure function of
    sha256(content) (multimodal.py:_fake_decode), so DuckDB reproduces the
    width/height bit-for-bit from the same bytes — the whole mapInPandas
    round-trip (Arrow batches, per-row error capture, schema) is verified,
    not just row counts."""
    d = _docs(spark, sf_dir)
    media = d.select(
        F.concat(F.lit("m-"), F.col("doc_id")).alias("media_id"),
        F.encode("text", "utf-8").alias("content"))
    # pin the fixture kernel: decode_media's default auto-selects a real
    # PIL kernel when Pillow is importable, which must never change the
    # oracle's sha256-derived values
    return (multimodal.decode_media(media,
                                    decoder=multimodal._fake_decode)
            .select("media_id", "media_type", "width", "height",
                    "decode_error"))


def q_embed_neardup(spark, sf_dir):
    """Tier-4 dedup — ORACLE-CHECKED: embedding-cosine near-dup pairs via
    SRP-LSH bucket collisions + exact cosine verify. Planted bit-identical
    clones (vec_id+10^6 for vec_id < 50) are recalled deterministically
    (identical vectors share every bucket); the DuckDB oracle computes the
    same all-pairs cosine ≥ τ set exactly."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    clones = (emb.filter(F.col("vec_id") < 50)
              .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                      "embedding"))
    corpus = emb.unionByName(clones)
    return dedup.embedding_neardup_pairs(corpus, threshold=0.95, dim=64,
                                         bits=8, tables=4)


def q_object_map(spark, sf_dir):
    """P5/P6 — ORACLE-CHECKED: the objectMap projection over a listing-only
    frontier (no content column → mimetype carries the response type; owner
    and response-passthrough fields are null-safe typed nulls, the
    reference's null-owner behavior, AmazonS3DataStoreTest.java:302-322)."""
    from fess_ds_s3_spark.operators.project import build_object_map
    cfg = CrawlConfig(region=REGION)
    m = build_object_map(_frontier(spark, sf_dir), cfg)
    return m.select("url", "management_url", "filename", "bucket_name",
                    "key", "size", "owner_id", "mimetype", "content_type",
                    "filetype", "e_tag", "storage_class", "content_length")


def q_mime_sniff(spark, sf_dir):
    """P7 — ORACLE-CHECKED: content-based MIME re-detection (magic bytes →
    extension → utf-8 heuristic, extract.sniff_mime_py). Payload bytes are
    utf-8 text, so every branch is reproducible in SQL: ASCII magics are
    text prefixes, the extension map is a CASE, and the utf-8 fallback
    always lands text/plain."""
    from fess_ds_s3_spark.operators.extract import sniff_mime
    d = _docs(spark, sf_dir)
    filename = (F.when(F.col("lang") == "en", F.lit("doc.txt"))
                .when(F.col("lang") == "zh", F.lit("doc.html"))
                .otherwise(F.lit("doc.bin")))
    return d.select(
        "doc_id",
        sniff_mime(F.encode("text", "utf-8"), filename).alias("sniffed"))


def q_rolling_fingerprint(spark, sf_dir):
    """Rabin-Karp rolling-hash fingerprint (oracle: DuckDB list_reduce)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    T.fingerprint_rolling("text").alias("fp"))


def q_robots_filter(spark, sf_dir):
    """F6: robots rules table + RFC 9309 longest-match filter routing.

    Deterministic robots bodies per bucket-host: even-numbered src hosts
    disallow /docs/zh/; rows-only (longest-match semantics pinned in
    tests/test_robots.py against stdlib robotparser where comparable).
    """
    from fess_ds_s3_spark.operators import robots as robots_ops
    cfg = CrawlConfig(region=REGION)
    f = flt.with_status_columns(_frontier(spark, sf_dir))
    hosts = f.select("host").distinct()
    bodies = hosts.select(
        "host",
        F.when(F.regexp_extract("host", r"^src([0-9]+)", 1).cast("int")
               % 2 == 0,
               F.lit("User-agent: *\nDisallow: /docs/zh/\nCrawl-delay: 1\n"))
        .otherwise(F.lit("User-agent: *\nDisallow:\n")).alias("body"))
    rules = robots_ops.robots_rules_table(bodies)
    out = robots_ops.apply_robots_filter(f, rules, cfg)
    return (out.groupBy("status", "discard_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("status", "discard_reason"))


def q_ivf_topk(spark, sf_dir):
    """IVF ANN — ORACLE-CHECKED recall contract (was rows-only in r2): a
    planted bit-identical clone per query is assigned to the SAME inverted
    list as the query's nearest centroid (identical vector, identical
    assignment tie-break), and the query always probes that list first
    (nprobe ≥ 1) — so the clone is deterministically recalled and exact
    re-rank puts it at rank 1 (cos = 1.0). Emits the same SQL-derivable
    contract as ``ann_lsh``; distribution recall pinned in tests."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    clones = (emb.filter(F.col("vec_id") < 5)
              .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                      "embedding"))
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    cents = similarity.train_centroids(emb, 8, iters=1)
    ivf1 = (similarity.ivf_topk(queries, corpus, cents, k=1, nprobe=3)
            .select("query_id", F.col("vec_id").alias("top1_id"),
                    F.round("cos", 4).alias("top1_cos")))
    exact1 = (similarity.brute_force_topk(queries, corpus, k=1)
              .select("query_id", F.col("vec_id").alias("_exact_id")))
    return (ivf1.join(exact1, "query_id")
            .select("query_id", "top1_id", "top1_cos",
                    (F.col("top1_id") == F.col("_exact_id"))
                    .alias("matches_exact")))


def q_spans_roundtrip(spark, sf_dir):
    """input_hint spans — ORACLE-CHECKED roundtrip: interleaved text+media
    spans are built from ``documents`` (text split in half, a media span
    wedged between, array DELIBERATELY emitted out of offset order), then
    extraction must re-sort by offset and reproduce exactly the
    concatenation the DuckDB oracle computes from the raw text (md5
    compared); link extraction must surface the single media_ref."""
    from fess_ds_s3_spark.operators.extract import (links_from_spans,
                                                    text_from_spans)
    d = _docs(spark, sf_dir)
    words = F.split(
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
    half = (F.size(words) / 2).cast("int")
    t1 = F.array_join(F.slice(words, F.lit(1), half), " ")
    t2 = F.array_join(F.slice(words, half + 1, F.size(words) - half), " ")
    media = F.concat(F.lit("https://media.example.com/"),
                     F.col("doc_id").cast("string"), F.lit(".png"))

    def span(kind, text_col, ref_col, off):
        return F.struct(F.lit(kind).alias("kind"), text_col.alias("text"),
                        ref_col.alias("media_ref"), F.lit(off).alias("offset"))

    none_s = F.lit(None).cast("string")
    spans = F.array(  # out of offset order on purpose
        span("media", none_s, media, 1),
        span("text", t2, none_s, 2),
        span("text", t1, none_s, 0))
    docs = d.select("doc_id", spans.alias("spans"))
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.md5(text_from_spans("spans")).alias("text_md5"),
        links_from_spans("spans").getItem(0).alias("link"),
        F.size(links_from_spans("spans")).alias("n_links"))


def q_multiround_crawl(spark, sf_dir):
    """S5/S6/S7/X3 — the DRIVER STACK, gate-checked end to end: a real
    ``CrawlDriver`` crawl (3 rounds, metadata-only, bloom seen-set, salted
    politeness, per-host budgets, snapshot sinks + rounds ledger) into a
    fresh warehouse; the output is the committed stats rows read back
    through the crash-safe ledgered-snapshot path (``read_committed``).

    SQL-derivable because scheduling over a STATIC frontier admits
    budget-slices per host in the deterministic rank order (priority, url):
    the row ranked ``rk`` within its host is admitted in round
    ``floor((rk-1)/budget)``, and the filter chain routes it exactly like
    the flagship (E1 url_filter discard → E2 max-size ACCESS_EXCEPTION →
    FINISHED). Every admitted URL enters the seen-set regardless of
    routing, so rounds never re-admit."""
    import tempfile
    from fess_ds_s3_spark.plans.crawl import CrawlDriver
    cfg = CrawlConfig(region=REGION, include_pattern=_INCLUDE,
                      exclude_pattern=_EXCLUDE, max_size=_MAX_SIZE,
                      bloom_expected=100_000, seen_partitions=8)
    f = _frontier(spark, sf_dir).withColumn(
        "discovery_time", F.to_timestamp(F.lit("2020-01-01")))
    budgets = (f.select("host").distinct()
               .select("host", _budget_spark().alias("budget_per_round")))
    warehouse = tempfile.mkdtemp(prefix="graft-multiround-")
    driver = CrawlDriver(spark, warehouse, cfg)
    driver.seed(f)
    driver.run(3, host_budgets=budgets)
    return driver.read_committed("stats").select("stats_key", "action",
                                                 "round")


def q_listing_diff(spark, sf_dir):
    """Incremental re-crawl (operators/incremental.py): diff two listing
    snapshots and classify added / modified / deleted / unchanged with
    null-safe version comparison — the change-detection use of the
    reference's e_tag/size objectMap fields (AmazonS3DataStore.java:103,
    309) it never exploits itself. Previous listing = frontier minus
    doc_id%13==0 (those become ``added``); current = frontier minus
    doc_id%17==0 (``deleted``); the current ETag is bumped on doc_id%7==0
    (``modified``); ETags are NULL on doc_id%11==0 in BOTH snapshots
    (null-safe ⇒ ``unchanged``, not modified). One equi join, pure JVM
    classification — the 100 TB shape is the changed fraction, never the
    listing."""
    from fess_ds_s3_spark.operators import incremental as inc
    f = _frontier(spark, sf_dir)
    etag = F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string")) \
            .otherwise(F.concat(F.lit("v"),
                                (F.col("doc_id") % 3).cast("string")))
    prev = (f.filter(F.col("doc_id") % 13 != 0)
            .select("bucket", "key", etag.alias("e_tag"), "size"))
    cur_etag = F.when((F.col("doc_id") % 7 == 0)
                      & (F.col("doc_id") % 11 != 0), F.lit("bumped")) \
                .otherwise(etag)
    cur = (f.filter(F.col("doc_id") % 17 != 0)
           .select("bucket", "key", cur_etag.alias("e_tag"), "size"))
    return inc.listing_diff(cur, prev)


def q_recrawl_schedule(spark, sf_dir):
    """Adaptive re-crawl scheduling (operators/incremental.py): per-object
    change-rate estimation over a 4-cycle diff history → Laplace-smoothed
    rate, clamped re-crawl interval, next-due cycle, priority (the Nutch
    AdaptiveFetchSchedule model as ONE aggregate — no per-fetch mutable
    state). History is synthesized deterministically from the frontier:
    first observation at cycle 1 + doc_id%2, 'modified' when
    (doc_id+cycle)%3==0, 'deleted' at cycle 4 for doc_id%17==0 (excluded
    from the schedule). One shuffle with map-side partial agg; the 100 TB
    shape is a scan-side filter on next_cycle afterwards."""
    from fess_ds_s3_spark.operators import incremental as inc
    f = _frontier(spark, sf_dir)
    first = (F.col("doc_id") % 2 + 1).cast("int")
    obs = (f.select("bucket", "key", "doc_id", first.alias("first_cycle"))
           .select("bucket", "key", "doc_id", "first_cycle",
                   F.explode(F.sequence(F.col("first_cycle"), F.lit(4)))
                   .alias("cycle")))
    change = (F.when(F.col("cycle") == F.col("first_cycle"), F.lit("added"))
              .when((F.col("cycle") == 4) & (F.col("doc_id") % 17 == 0),
                    F.lit("deleted"))
              .when((F.col("doc_id") + F.col("cycle")) % 3 == 0,
                    F.lit("modified"))
              .otherwise(F.lit("unchanged")))
    hist = obs.select("bucket", "key", "cycle", change.alias("change"))
    return inc.change_rate_priority(hist, base_interval=8)


def q_schedule_fold(spark, sf_dir):
    """Incremental adaptive-schedule fold (operators/incremental.
    update_schedule): three cycles of listing diffs folded one at a
    time into the running (n_obs, n_mod, last_cycle) state — the
    O(change-rate) twin of the batch aggregate for crawls that cannot
    retain raw history. Labels per cycle mirror recrawl_schedule's
    deterministic history (first obs at 1 + doc_id%2, 'modified' when
    (doc_id+cycle)%3==0, 'deleted' at cycle 3 for doc_id%17==0 — those
    keys LEAVE the folded schedule). Oracle: the batch aggregate over
    the concatenated 3-cycle history minus deleted keys."""
    from fess_ds_s3_spark.operators import incremental as inc
    f = _frontier(spark, sf_dir)
    first = (F.col("doc_id") % 2 + 1).cast("int")
    base = f.select("bucket", "key", "doc_id",
                    first.alias("first_cycle"))
    sched = None
    for cycle in (1, 2, 3):
        change = (F.when(F.col("first_cycle") == cycle, F.lit("added"))
                  .when((F.lit(cycle) == 3) & (F.col("doc_id") % 17 == 0),
                        F.lit("deleted"))
                  .when((F.col("doc_id") + cycle) % 3 == 0,
                        F.lit("modified"))
                  .otherwise(F.lit("unchanged")))
        diff = (base.filter(F.col("first_cycle") <= cycle)
                .select("bucket", "key", change.alias("change")))
        sched = inc.update_schedule(sched, diff, cycle, base_interval=8)
    return sched


def q_prefetch_dedup(spark, sf_dir):
    """Pre-fetch content-identity dedup (operators/dedup.prefetch_dedup):
    route admitted candidates to fetch / copy_known / copy_batch on
    (e_tag, size) identity BEFORE the GET — the cheapest dedup tier (the
    reference carries the content-derived ETag into every objectMap,
    AmazonS3DataStore.java:103, without exploiting it). Identities are
    synthesized for collisions: e_tag = e<doc_id%10> (NULL on doc_id%11),
    size = doc_id%7 — a 70-identity space so every action occurs at every
    SF; the known index = every 10th object under idx:// URLs. Known side
    reduces to one row per identity; the in-batch window reuses the
    join's partitioning — one shuffle end-to-end."""
    from fess_ds_s3_spark.operators import dedup
    f = _frontier(spark, sf_dir)
    etag = (F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("e"),
                                (F.col("doc_id") % 10).cast("string"))))
    ident = [etag.alias("e_tag"), (F.col("doc_id") % 7).alias("size")]
    cand = f.select("url", *ident)
    known = (f.filter(F.col("doc_id") % 10 == 0)
             .select(F.concat(F.lit("idx://"), F.col("key")).alias("url"),
                     *ident))
    return dedup.prefetch_dedup(cand, known)


def q_corpus_curate(spark, sf_dir):
    """Corpus-curation funnel (plans/curate.py): score (lang-ID, token
    count, stopword density, md5 fingerprint) → filter (en, ≥20 tokens,
    stopword density ≥ 1/50 as an exact integer cross-multiplication) →
    exact dedup (min-doc_id survivor + dup_count). The training-data
    stage the reference's indexer handoff stops short of. One shuffle —
    on the fingerprint of the kept fraction only."""
    from fess_ds_s3_spark.plans.curate import curate_corpus
    return curate_corpus(_docs(spark, sf_dir))


def q_curate_sample_cap(spark, sf_dir):
    """Curation funnel v2 (plans/curate.py round-4 stages): deterministic
    3/4 hash subsample of the raw corpus (content-keyed md5, threshold
    'c0000000' — functions/sampling.py, bit-identical in any engine) →
    score/filter/exact-dedup → per-source cap of 5 surviving docs
    (longest-first, doc_id tiebreak) through the salted two-pass window
    (operators/caps.py). Every stage is exact SQL — the sample predicate,
    the integer stopword floor, and the cap's ROW_NUMBER all reproduce
    verbatim in the DuckDB oracle."""
    from fess_ds_s3_spark.plans.curate import curate_corpus
    return curate_corpus(_docs(spark, sf_dir), sample=(3, 4),
                         sample_seed="r4", max_per_source=5,
                         cap_salt_buckets=4)


def q_curate_interleaved(spark, sf_dir):
    """Curation over the input_hint payload shape — interleaved
    text+media span documents (plans/curate.curate_interleaved). Spans
    are synthesized from ``documents`` exactly like ``spans_roundtrip``
    (text halved into two text spans, array emitted OUT of offset order)
    plus ``doc_id % 3`` media spans wedged between; the first media ref
    is NULLed when ``doc_id % 7 == 0`` (a broken reference). The engine
    computes every span stat from the real array (size/filter/exists —
    no explode); the oracle re-derives them from the synthesis rule
    (n_media = doc_id % 3) and runs the same text funnel on the raw
    text, which the offset-ordered re-concatenation reproduces exactly
    (the spans_roundtrip md5 contract). Gates: media ratio <= 1/3
    (integer cross-multiplication: keeps m <= 1), broken refs dropped."""
    from fess_ds_s3_spark.plans.curate import curate_interleaved
    d = _docs(spark, sf_dir)
    return curate_interleaved(_synth_spans(d), max_media=(1, 3))


def _synth_spans(d, *, pii=False, ref_key=None):
    """Interleaved-span synthesis shared by the span-shaped gate entries:
    text halved into two text spans (t1@0, t2@10), ``doc_id % 3`` media
    spans wedged between (offsets 1, 2), the first media ref NULLed when
    ``doc_id % 7 == 0``, and the array emitted OUT of offset order.
    ``pii=True`` appends deterministic PII AFTER the half-split (email
    into t1, IP + phone into t2) so per-span redaction is oracle-exact;
    ``ref_key`` overrides the media-ref key (default ``doc_id`` — pass
    e.g. ``doc_id % 50`` to make refs SHARED across documents)."""
    words = F.split(
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
    half = (F.size(words) / 2).cast("int")
    t1 = F.array_join(F.slice(words, F.lit(1), half), " ")
    t2 = F.array_join(F.slice(words, half + 1, F.size(words) - half), " ")
    if pii:
        t1 = F.concat(t1, F.lit(" contact user"),
                      F.col("doc_id").cast("string"), F.lit("@example.com"))
        t2 = F.concat(t2, F.lit(" ip 10.0."),
                      (F.col("doc_id") % 256).cast("string"),
                      F.lit(".9 tel +1 555 "),
                      (F.lit(2000000) + F.col("doc_id")).cast("string"))

    def span(kind, text_col, ref_col, off):
        return F.struct(F.lit(kind).alias("kind"), text_col.alias("text"),
                        ref_col.alias("media_ref"),
                        F.lit(off).alias("offset"))

    none_s = F.lit(None).cast("string")
    if ref_key is None:
        ref_key = F.col("doc_id")
    ref = [F.concat(F.lit("https://media.example.com/"),
                    ref_key.cast("string"),
                    F.lit(f"-{j}.png")) for j in range(2)]
    ref[0] = F.when(F.col("doc_id") % 7 == 0, none_s).otherwise(ref[0])
    media_all = F.array(span("media", none_s, ref[0], 1),
                        span("media", none_s, ref[1], 2))
    m_count = (F.col("doc_id") % 3).cast("int")
    spans = F.concat(F.slice(media_all, F.lit(1), m_count),
                     F.array(span("text", t2, none_s, 10),
                             span("text", t1, none_s, 0)))
    return d.select("doc_id", spans.alias("spans"))


def q_scrub_interleaved(spark, sf_dir):
    """Span-preserving PII scrub over the input_hint payload
    (operators/spans.scrub_interleaved) — ORACLE-CHECKED on all three
    guarantees at once: (1) the span-sequence invariant (kind, media_ref,
    offset, order) survives the scrub bit-identically (``structure`` is
    the offset-ordered ``kind:ref:offset`` join), (2) the scrubbed text
    is exactly the per-span sequential email→IP→phone redaction chain
    (md5 of the offset-ordered extraction), (3) the per-doc per-kind
    counts match what was replaced. PII is injected per-half AFTER the
    split (fixture rule), because per-SPAN semantics are the contract —
    a shape straddling two spans is neither counted nor redacted, in
    either engine. Shuffle-free: rewrite + counts are array folds."""
    from fess_ds_s3_spark.operators import spans as spans_ops
    from fess_ds_s3_spark.operators.extract import (spans_sorted,
                                                    text_from_spans)
    docs = _synth_spans(_docs(spark, sf_dir), pii=True)
    out = spans_ops.scrub_interleaved(docs)
    structure = F.array_join(
        F.transform(spans_sorted("spans"),
                    lambda s: F.concat_ws(
                        ":", s["kind"],
                        F.coalesce(s["media_ref"], F.lit("-")),
                        s["offset"].cast("string"))), "|")
    return out.select(
        "doc_id", structure.alias("structure"),
        F.md5(text_from_spans("spans")).alias("scrubbed_md5"),
        F.col("pii_email").alias("n_email"),
        F.col("pii_ipv4").alias("n_ipv4"),
        F.col("pii_phone").alias("n_phone"))


def q_pack_interleaved(spark, sf_dir):
    """Media-aware sequence packing over interleaved docs
    (operators/packing.pack_interleaved): per-doc cost = whitespace
    tokens of each text span + a flat 64 tokens per media span (the
    multimodal trainer's fixed per-image patch budget), then the same
    fixed-stride integer-exact layout as ``pack_sequences`` (shard =
    doc_id % 16, budget 512). The half-split preserves total text
    tokens, so the oracle derives the cost as ws_tokens(text) +
    (doc_id % 3) * 64 and replays the identical SUM OVER window. One
    shuffle; the cost fold is map-side in the same stage."""
    from fess_ds_s3_spark.operators.packing import pack_interleaved
    docs = _synth_spans(_docs(spark, sf_dir))
    return pack_interleaved(docs, budget=512, media_tokens=64,
                            shard=(F.col("doc_id") % 16)).select(
        "doc_id", "tokens", "shard", "seq_id", "seq_offset")


def q_media_manifest(spark, sf_dir):
    """Media fetch planning (operators/spans.media_manifest): distinct
    media objects referenced by an interleaved corpus with reference
    counts and the smallest referencing doc as representative — refs are
    keyed by ``doc_id % 50`` so each object is shared by ~n/50 documents
    (the 100 TB reality: one hero image, millions of pages) and the
    fetch plan has ONE row per object. NULL (broken) refs are excluded
    by extraction. One explode (the output's own cardinality) + one
    map-side-combined shuffle; the oracle replays the synthesis rule as
    a UNION ALL + GROUP BY."""
    from fess_ds_s3_spark.operators.spans import media_manifest
    docs = _synth_spans(_docs(spark, sf_dir),
                        ref_key=F.col("doc_id") % 50)
    return media_manifest(docs)


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (operators/packing.py): documents
    sharded by ``doc_id % 16`` (oracle-derivable; production default is
    xxhash64), laid out in doc_id order within each shard, sequence
    boundary every 512 whitespace tokens — ``seq_id``/``seq_offset`` are
    integer-exact window math (pmod + exactly-divisible division), so
    the DuckDB oracle's ``cum // 512`` / ``cum % 512`` reproduce them
    bit-for-bit. One shuffle, on the shard key."""
    from fess_ds_s3_spark.operators.packing import pack_sequences
    d = _docs(spark, sf_dir).select(
        "doc_id", T.token_count_ws("text").alias("tokens"))
    return pack_sequences(d, "tokens", budget=512,
                          shard=(F.col("doc_id") % 16))


def q_corpus_split(spark, sf_dir):
    """Deterministic train/eval/test split (functions/sampling.hash_split,
    8:1:1): each doc's label is a pure function of md5(doc_id || seed) —
    exhaustive, disjoint, stable under repartitioning — and the DuckDB
    oracle reproduces it with the same chained hex-threshold CASE."""
    from fess_ds_s3_spark.functions.sampling import hash_split
    return _docs(spark, sf_dir).select(
        "doc_id",
        hash_split("doc_id", {"train": 8, "eval": 1, "test": 1},
                   seed="split1").alias("split"))


def q_decontam(spark, sf_dir):
    """Eval-set decontamination (operators/decontam.py): eval set =
    documents with doc_id % 7 == 0; every corpus doc is audited for exact
    word-8-gram overlap (md5 fingerprints, broadcast probe). Eval members
    self-hit, near-copies cross-hit; DuckDB rebuilds the identical distinct
    gram sets and counts."""
    from fess_ds_s3_spark.operators.decontam import flag_contaminated
    d = _docs(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 7 == 0)
    return flag_contaminated(d, ev, n=8)


def q_eval_coverage(spark, sf_dir):
    """Reverse decontamination audit (operators/decontam.eval_coverage):
    per benchmark item (eval = doc_id % 7 == 0), how many of its
    distinct word-8-grams appear anywhere in the corpus and across how
    many corpus documents — the table an eval owner reads. Same gram
    normalization/md5 fingerprints as `decontam`; DuckDB rebuilds the
    identical distinct gram sets and both COUNT(DISTINCT)s."""
    from fess_ds_s3_spark.operators.decontam import eval_coverage
    d = _docs(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 7 == 0)
    return eval_coverage(d, ev, n=8)


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (functions/text.redact_pii): documents augmented with
    deterministic email/IP/phone shapes, then counted and redacted. The
    patterns live in the Java-regex ∩ RE2 common subset, so the oracle
    replays the identical regexes sequentially in DuckDB."""
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com ip 10.0."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".9 tel +1 555 "),
                 (F.lit(2000000) + F.col("doc_id")).cast("string"))
        .alias("t"))
    cnt = T.pii_counts("t")
    return aug.select("doc_id",
                      cnt["email"].alias("n_email"),
                      cnt["ipv4"].alias("n_ipv4"),
                      cnt["phone"].alias("n_phone"),
                      T.redact_pii("t").alias("redacted"))


def q_repetition(spark, sf_dir):
    """Repetition quality gates (functions/text.dup_line_frac /
    top_bigram_frac): lines are synthesized by turning ' the ' into
    newlines (documents ship as one line), then the duplicate-line
    fraction and the most-frequent-bigram fraction are computed per row —
    sorted-array max-run fold, no explode. DuckDB re-derives both via
    list functions / unnest-group-max."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("lined"))
    return d.select("doc_id",
                    T.dup_line_frac("lined").alias("dup_line_frac"),
                    T.top_bigram_frac("lined").alias("top_bigram_frac"))


def q_fetch_conditional(spark, sf_dir):
    """S4 conditional fetch — ORACLE-CHECKED through the REAL store stage:
    admitted rows carry a prior ETag (the true md5 for even doc_ids, a
    stale marker for odd), the GETs go out IfNoneMatch, and unchanged
    objects come back body-less with ``_not_modified`` set. DuckDB derives
    the same routing from the fixture rule: not_modified ⇔ even doc_id;
    modified rows' content md5 = md5(text)."""
    from fess_ds_s3_spark.sources.object_store import fetch_objects
    root = _ensure_store(spark, sf_dir)
    f = (_frontier(spark, sf_dir)
         .filter(F.col("doc_id") % 7 == 0)
         .join(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id")
         .select("doc_id", "bucket", "key", "url",
                 F.when(F.col("doc_id") % 2 == 0, F.md5(F.col("text")))
                 .otherwise(F.lit("stale")).alias("prior_etag")))
    fetched = fetch_objects(f, root, if_none_match_col="prior_etag")
    return fetched.select(
        "url", F.col("_not_modified").alias("not_modified"),
        F.md5("content").alias("content_md5"))


#: data-mixture gate parameters: src0's allocation exceeds its corpus
#: (keep-all branch), src1-src5 get fractional rates, src6-src19 are
#: unlisted (dropped) — every branch of the threshold math is exercised.
_MIX_WEIGHTS = {"src0": 60, "src1": 5, "src2": 3, "src3": 1,
                "src4": 2, "src5": 1}
_MIX_BUDGET = 30000


def q_mix_plan(spark, sf_dir):
    """Data-mixture plan (plans/mix.py): per-source token totals → the
    32-bit hash-sampling threshold that delivers ``weight/Σweights *
    token_budget`` tokens from each source (capped at one epoch — no
    upsampling). The rate math is two fixed-shape IEEE-double ops, so
    the DuckDB oracle lands on the identical integer threshold; the
    zero-token and over-allocated branches resolve to explicit
    keep-all rather than relying on engine-divergent ``x / 0.0``."""
    from fess_ds_s3_spark.plans.mix import mix_plan
    return mix_plan(_docs(spark, sf_dir), _MIX_WEIGHTS, _MIX_BUDGET)


def q_mix_corpus(spark, sf_dir):
    """Data-mixture application (plans/mix.py): content-keyed hash
    sample at each source's planned rate — the training-recipe stage
    that turns a curated crawl into a weighted corpus. One partial-agg
    shuffle to ~#sources rows, broadcast join back, one filter; the
    kept set is a pure function of (doc_id, seed, per-source totals),
    bit-identical in the DuckDB oracle."""
    from fess_ds_s3_spark.plans.mix import mix_corpus
    return mix_corpus(_docs(spark, sf_dir), _MIX_WEIGHTS, _MIX_BUDGET,
                      seed="r5")


def q_mix_epochs(spark, sf_dir):
    """Mixing with up-sampling (plans/mix.mix_corpus_epochs): src0's
    allocation exceeds its content ~17× → capped at max_epochs=3 full
    copies per doc; src1-src5 land fractional (< 1 epoch, hash-sampled
    single copies); src6-19 unweighted → zero copies. The epoch rate
    reuses mix_plan's fixed-shape IEEE math plus two more fixed-shape
    ops (full = ⌊t_cap/2^32⌋, frac = ⌊t_cap − full·2^32⌋), so every
    copy row reproduces bit-for-bit in DuckDB."""
    from fess_ds_s3_spark.plans.mix import mix_corpus_epochs
    return mix_corpus_epochs(_docs(spark, sf_dir), _MIX_WEIGHTS,
                             _MIX_BUDGET, max_epochs=3, seed="r5e")


def q_funnel_report(spark, sf_dir):
    """Curation-funnel observability (plans/curate.funnel_report): per
    stage (input → lang → length → stopword → dedup) the surviving
    document count and token mass, computed in ONE pass as conditional
    aggregates inside a single fingerprint groupBy. Input is documents
    plus an exact-duplicate copy of every 3rd doc (id-shifted), so the
    dedup stage's distinct-fingerprint count and min-id-winner token
    mass diverge from stage 4 and get a real oracle check."""
    from fess_ds_s3_spark.plans.curate import funnel_report
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = (d.filter(F.col("doc_id") % 3 == 0)
           .select((F.col("doc_id") + F.lit(10000000)).alias("doc_id"),
                   "text"))
    return funnel_report(d.unionByName(dup))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full round-1 scheduling pipeline on sf0.001."""
    return q_admission_round1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate registry.  ORDERING IS LOAD-BEARING: the driver's correctness
    gate checks the FIRST 50 entries in dict order.  Entries that have
    never had a driver row (the round-3/4 LLM-pipeline surface) and
    entries fixed or added this round come first; long-green veterans
    (driver-passed in rounds 1-4) fill the remainder of the window, and
    the simplest repeatedly-proven projections sit past position 50.
    """
    return {
        # -- never driver-checked before round 5 (positions 51-67 in r4) --
        "ivf_topk": q_ivf_topk,
        "multiround_crawl": q_multiround_crawl,
        "listing_diff": q_listing_diff,
        "recrawl_schedule": q_recrawl_schedule,
        "prefetch_dedup": q_prefetch_dedup,
        "corpus_curate": q_corpus_curate,
        "curate_sample_cap": q_curate_sample_cap,
        "curate_interleaved": q_curate_interleaved,
        "pack_sequences": q_pack_sequences,
        "corpus_split": q_corpus_split,
        "decontam": q_decontam,
        "eval_coverage": q_eval_coverage,
        "pii_redact": q_pii_redact,
        "repetition": q_repetition,
        "fetch_conditional": q_fetch_conditional,
        "scrub_interleaved": q_scrub_interleaved,
        "pack_interleaved": q_pack_interleaved,
        "media_manifest": q_media_manifest,
        # -- fixed this round (r4 driver RED: oracle HUGEINT vs BIGINT) --
        "sessionize": q_sessionize,
        # -- new in round 5 --
        "asof_salted": q_asof_salted,
        "schedule_fold": q_schedule_fold,
        "mix_plan": q_mix_plan,
        "mix_corpus": q_mix_corpus,
        "mix_epochs": q_mix_epochs,
        "funnel_report": q_funnel_report,
        "quantized_topk": q_quantized_topk,
        "anchor_text": q_anchor_text,
        "host_budget": q_host_budget,
        "admission_fair": q_admission_fair,
        "token_histogram": q_token_histogram,
        "rare_words": q_rare_words,
        # -- driver-green veterans (rounds 1-4), most complex first --
        "admission_round1": q_admission_round1,
        "admission_bucketed": q_admission_bucketed,
        "politeness": q_politeness,
        "seen_antijoin": q_seen_antijoin,
        "seen_bloom_antijoin": q_seen_bloom_antijoin,
        "seen_cuckoo_antijoin": q_seen_cuckoo_antijoin,
        "robots_filter": q_robots_filter,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "embed_neardup": q_embed_neardup,
        "dedup_cluster": q_dedup_cluster,
        "host_authority": q_host_authority,
        "asof_events": q_asof_events,
        "cosine_topk": q_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_exact": q_dedup_exact,
        "fetch_store": q_fetch_store,
        "fetch_join": q_fetch_join,
        # ---- position-50 boundary: everything below is long-green
        # ---- driver-proven surface (r1-r4 green every round)
        "stats_events": q_stats_events,
        "events_window": q_events_window,
        "link_graph": q_link_graph,
        "object_map": q_object_map,
        "spans_roundtrip": q_spans_roundtrip,
        "bucket_catalog": q_bucket_catalog,
        "listing_order": q_listing_order,
        "status_counts": q_status_counts,
        "approx_distinct": q_approx_distinct,
        "quality": q_quality,
        "union_dedup": q_union_dedup,
        "host_agg": q_host_agg,
        "decode_media": q_decode_media,
        "object_fields": q_object_fields,
        "bucket_filter": q_bucket_filter,
        "url_build": q_url_build,
        "include_exclude": q_include_exclude,
        "mime_filter": q_mime_filter,
        "size_routing": q_size_routing,
        "resize_plan": q_resize_plan,
        "frame_sample": q_frame_sample,
        "script_projection": q_script_projection,
        "fingerprint": q_fingerprint,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "shard_assign": q_shard_assign,
        "html_text": q_html_text,
        "sitemap_seed": q_sitemap_seed,
        "mime_sniff": q_mime_sniff,
        "rolling_fingerprint": q_rolling_fingerprint,
    }


def oracle_sql() -> dict[str, str]:
    budget = _BUDGET_SQL
    admitted_ctes = FRONTIER_CTE + f""",
    unseen AS (
      SELECT * FROM frontier WHERE NOT EXISTS (
        SELECT 1 FROM frontier s
        WHERE s.doc_id % 3 = 0 AND s.url = frontier.url)
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY host ORDER BY priority, url) AS INT) AS host_rank
      FROM unseen
    ),
    admitted AS (
      SELECT * FROM ranked WHERE host_rank <= {budget}
    )
    """
    flagship = admitted_ctes + f"""
    SELECT host, host_rank, url,
           CASE WHEN NOT regexp_matches(url, '^(?:{_INCLUDE})$')
                     OR regexp_matches(url, '^(?:{_EXCLUDE})$')
                THEN 'discarded'
                WHEN size > {_MAX_SIZE} THEN 'failed'
                ELSE 'pending' END AS status,
           CASE WHEN NOT regexp_matches(url, '^(?:{_INCLUDE})$')
                     OR regexp_matches(url, '^(?:{_EXCLUDE})$')
                THEN 'url_filter' END AS discard_reason,
           CASE WHEN (regexp_matches(url, '^(?:{_INCLUDE})$')
                      AND NOT regexp_matches(url, '^(?:{_EXCLUDE})$'))
                     AND size > {_MAX_SIZE}
                THEN 'MaxLengthExceededException' END AS error_name
    FROM admitted
    """
    out = {
        "bucket_catalog": FRONTIER_CTE + """
            SELECT bucket, count(*) AS n_objects, min(key) AS first_key
            FROM frontier GROUP BY bucket ORDER BY bucket""",
        "fetch_join": FRONTIER_CTE + """
            SELECT url,
                   CASE WHEN doc_id % 7 = 0 THEN 'pending'
                        ELSE 'failed' END AS status,
                   CASE WHEN doc_id % 7 != 0
                        THEN 'NoSuchKeyException' END AS error_name
            FROM frontier""",
        "object_fields": FRONTIER_CTE + """
            SELECT doc_id,
                   CASE resp_content_type
                        WHEN 'text/plain' THEN 'txt'
                        WHEN 'text/html' THEN 'html'
                        WHEN 'application/json' THEN 'json'
                        WHEN 'application/pdf' THEN 'pdf'
                        ELSE 'others' END AS filetype,
                   CAST(DATE '2020-01-01'
                        + CAST(doc_id % 1000 AS INT) AS VARCHAR) AS mod_date
            FROM frontier""",
        "listing_order": FRONTIER_CTE + """
            SELECT bucket, key, page_rank FROM (
              SELECT bucket, key, CAST(row_number() OVER (
                  PARTITION BY bucket ORDER BY key) AS INT) AS page_rank
              FROM frontier) WHERE page_rank <= 50""",
        "bucket_filter": FRONTIER_CTE + """
            SELECT bucket, key FROM frontier
            WHERE bucket IN ('src0', 'src1')""",
        "url_build": FRONTIER_CTE + f"""
            SELECT doc_id, url,
                   'https://s3.console.aws.amazon.com/s3/object/' || bucket
                     || '/' || key || '?region={REGION}' AS management_url,
                   regexp_extract(key, '([^/]*)$', 1) AS filename
            FROM frontier""",
        "include_exclude": FRONTIER_CTE + f"""
            SELECT url,
                   CASE WHEN regexp_matches(url, '^(?:{_INCLUDE})$')
                             AND NOT regexp_matches(url, '^(?:{_EXCLUDE})$')
                        THEN 'pending' ELSE 'discarded' END AS status,
                   CASE WHEN NOT (regexp_matches(url, '^(?:{_INCLUDE})$')
                             AND NOT regexp_matches(url, '^(?:{_EXCLUDE})$'))
                        THEN 'url_filter' END AS discard_reason
            FROM frontier""",
        "mime_filter": FRONTIER_CTE + """
            SELECT url, resp_content_type,
                   CASE WHEN regexp_matches(resp_content_type,
                        '^(?:(?:text/plain)|(?:text/html))$')
                        THEN 'pending' ELSE 'discarded' END AS status,
                   CASE WHEN NOT regexp_matches(resp_content_type,
                        '^(?:(?:text/plain)|(?:text/html))$')
                        THEN 'mimetype' END AS discard_reason
            FROM frontier""",
        "size_routing": FRONTIER_CTE + f"""
            SELECT url, size,
                   CASE WHEN size > {_MAX_SIZE} THEN 'failed'
                        ELSE 'pending' END AS status,
                   CASE WHEN size > {_MAX_SIZE}
                        THEN 'MaxLengthExceededException' END AS error_name
            FROM frontier""",
        "politeness": FRONTIER_CTE + f"""
            SELECT host, host_rank, url FROM (
              SELECT host, url, CAST(row_number() OVER (
                  PARTITION BY host ORDER BY priority, url) AS INT)
                  AS host_rank
              FROM frontier)
            WHERE host_rank <= {budget}""",
        "seen_antijoin": FRONTIER_CTE + """
            SELECT url FROM frontier f
            WHERE NOT EXISTS (
              SELECT 1 FROM frontier s
              WHERE s.doc_id % 3 = 0 AND s.url = f.url)""",
        # bloom/cuckoo pre-filter + exact confirm is output-identical to the
        # plain exact anti-join (no false negatives) — same oracle, so both
        # at-scale seen paths are value-checked end-to-end
        "seen_bloom_antijoin": FRONTIER_CTE + """
            SELECT url FROM frontier f
            WHERE NOT EXISTS (
              SELECT 1 FROM frontier s
              WHERE s.doc_id % 3 = 0 AND s.url = f.url)""",
        "seen_cuckoo_antijoin": FRONTIER_CTE + """
            SELECT url FROM frontier f
            WHERE NOT EXISTS (
              SELECT 1 FROM frontier s
              WHERE s.doc_id % 3 = 0 AND s.url = f.url)""",
        "resize_plan": """
            WITH meta AS (
              SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_id,
                     -- stub decode kernel: width/height = bytes 0/1 of
                     -- sha256(content), recomputed from the same utf-8 text
                     CAST(16 + (('0x' || substr(sha256(text), 1, 2))::INT
                                % 64) AS INT) AS width,
                     CAST(16 + (('0x' || substr(sha256(text), 3, 2))::INT
                                % 64) AS INT) AS height
              FROM documents),
            s AS (SELECT *, least(224.0 / width, 224.0 / height) AS sc
                  FROM meta)
            SELECT media_id, width, height,
                   round(sc, 6) AS scale,
                   CAST(floor(width * sc) AS INT) AS new_width,
                   CAST(floor(height * sc) AS INT) AS new_height,
                   CAST(floor((224 - floor(width * sc)) / 2.0) AS INT)
                       AS pad_x,
                   CAST(floor((224 - floor(height * sc)) / 2.0) AS INT)
                       AS pad_y
            FROM s""",
        "frame_sample": """
            WITH v AS (
              SELECT doc_id,
                     CAST(n_chars * 40 AS BIGINT) AS duration_ms
              FROM documents),
            p AS (
              SELECT doc_id, duration_ms,
                     CAST(greatest(1, floor(duration_ms / 1000.0 * 1.0))
                          AS INT) AS nf
              FROM v),
            pts AS (
              SELECT doc_id, duration_ms, nf,
                     list_transform(
                       generate_series(0, nf - 1),
                       i -> CAST(floor(i * (duration_ms * 1.0 / nf)
                                 + (duration_ms * 1.0 / nf) / 2)
                            AS BIGINT)) AS lst
              FROM p)
            SELECT doc_id, duration_ms,
                   nf AS n_frames,
                   lst[1] AS first_point,
                   lst[len(lst)] AS last_point,
                   CAST(list_aggregate(lst, 'sum') AS BIGINT) AS points_sum
            FROM pts""",
        "fetch_store": FRONTIER_CTE + """
            SELECT f.url,
                   CASE WHEN f.doc_id % 7 = 0 THEN 'stored'
                        ELSE 'failed' END AS status,
                   CASE WHEN f.doc_id % 7 != 0
                        THEN 'NoSuchKeyException' END AS error_name,
                   CASE WHEN f.doc_id % 7 = 0
                        THEN md5(d.text) END AS contents_md5
            FROM frontier f JOIN documents d USING (doc_id)""",
        "admission_round1": flagship,
        # the bucketed (exchange-free) round is DEFINED to produce the same
        # admissions as seen-anti-join → per-host rank → budget cut, so the
        # flagship's scheduling CTEs are its oracle verbatim
        "admission_bucketed": admitted_ctes
        + "SELECT host, host_rank, url FROM admitted",
        "status_counts": f"WITH routed AS ({flagship}) " +
            "SELECT status, count(*) AS n FROM routed GROUP BY status "
            "ORDER BY status",
        "host_agg": FRONTIER_CTE + """
            SELECT host, count(*) AS n_urls,
                   -- DuckDB widens sum(BIGINT) to HUGEINT (surfaces as
                   -- float64); Spark keeps LONG — cast for a bit-equal hash
                   CAST(sum(size) AS BIGINT) AS total_bytes,
                   min(key) AS min_key, max(key) AS max_key
            FROM frontier GROUP BY host""",
        "union_dedup": FRONTIER_CTE + """
            SELECT bucket, count(*) AS n FROM (
              SELECT DISTINCT bucket, url FROM (
                SELECT bucket, url FROM frontier WHERE doc_id < 250
                UNION ALL
                SELECT bucket, url FROM frontier
                WHERE doc_id >= 100 AND doc_id < 350))
            GROUP BY bucket ORDER BY bucket""",
        # row-level stats through the real stats_events operator: E1
        # discards → 'discard', size failures split into the two reference
        # catch arms (even doc_id relabeled ExtractException → EXCEPTION,
        # odd → ACCESS_EXCEPTION), everything else FINISHED
        "stats_events": admitted_ctes + f"""
            SELECT bucket || '@' || key AS stats_key,
                   CASE WHEN NOT regexp_matches(url, '^(?:{_INCLUDE})$')
                             OR regexp_matches(url, '^(?:{_EXCLUDE})$')
                        THEN 'discard'
                        WHEN size > {_MAX_SIZE} AND doc_id % 2 = 0
                        THEN 'EXCEPTION'
                        WHEN size > {_MAX_SIZE} THEN 'ACCESS_EXCEPTION'
                        ELSE 'FINISHED' END AS action,
                   CAST(1 AS INT) AS round
            FROM admitted""",
        "script_projection": FRONTIER_CTE + """
            SELECT key AS title, url, doc_id,
                   CAST(size / 1000.0 AS DOUBLE) AS size_kb
            FROM frontier""",
        "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fp,
                   min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY 1""",
        "fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fp
            FROM documents""",
        "token_count": r"""
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                        END AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT)
                       AS bpe_tokens,
                   CAST(length(text) AS BIGINT) AS chars
            FROM documents""",
        "quality": r"""
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE round(len(regexp_extract_all(text, '[^\w\s]'))
                             * 1.0 / length(text), 4) END AS punct_ratio,
                   CASE WHEN trim(text) = '' THEN 0.0
                        ELSE round(len(regexp_extract_all(lower(text),
             '\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'))
                             * 1.0
                             / len(regexp_split_to_array(trim(text), '\s+')),
                             4) END AS stopword_ratio
            FROM documents""",
        "lang_id": r"""
            WITH scores AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text),
                    '\b(?:the|and|of|to|is)\b')) AS s_en,
                len(regexp_extract_all(lower(text),
                    '\b(?:der|die|und|nicht|das)\b')) AS s_de,
                len(regexp_extract_all(lower(text),
                    '\b(?:le|la|et|les|des)\b')) AS s_fr,
                len(regexp_extract_all(lower(text),
                    '\b(?:el|los|las|una|que)\b')) AS s_es
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
                        WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
                        ELSE 'es' END AS lang_guess
            FROM scores""",
        "events_window": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       2) AS running_value
            FROM events""",
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(
                               CAST(q.qv AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                                CAST(q.qv AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))),
                       6) AS cos
              FROM q, embeddings e WHERE q.query_id != e.vec_id),
            ranked AS (
              SELECT query_id, vec_id, CAST(row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT)
                  AS rank
              FROM scored)
            SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5""",
        "ngram_jaccard": r"""
            WITH docs AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM documents WHERE doc_id % 10 = 0),
            sh AS (
              SELECT DISTINCT doc_id, shingle
              FROM docs,
                   unnest(list_transform(
                       generate_series(1, greatest(len(words) - 2, 1)),
                       n -> array_to_string(words[n : n + 2], ' ')))
                   t(shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.a, i.b, i.inter,
                   sa.n_sh + sb.n_sh - i.inter AS union_
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE i.inter * 1.0 >= (sa.n_sh + sb.n_sh - i.inter) * 0.02""",
        "dedup_cluster": r"""
            WITH RECURSIVE docs AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM documents WHERE doc_id % 10 = 0),
            sh AS (
              SELECT DISTINCT doc_id, shingle
              FROM docs,
                   unnest(list_transform(
                       generate_series(1, greatest(len(words) - 2, 1)),
                       n -> array_to_string(words[n : n + 2], ' ')))
                   t(shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT i.a, i.b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.a
              JOIN sizes sb ON sb.doc_id = i.b
              WHERE i.inter * 1.0
                    >= (sa.n_sh + sb.n_sh - i.inter) * 0.02),
            und AS (SELECT a AS u, b AS v FROM pairs
                    UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT doc_id AS id, doc_id AS r FROM docs
              UNION
              SELECT und.u AS id, reach.r
              FROM und JOIN reach ON und.v = reach.id)
            SELECT id AS doc_id, MIN(r) AS component
            FROM reach GROUP BY 1""",
        "html_text": r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><head><style>p{color:red}</style>'
                     || '<script>var x="<p>hidden</p>";</script></head>'
                     || '<body><!-- note --><p>' || text
                     || '</p> &amp; <a href="https://' || source
                     || '.example/x">link</a></body></html>' AS html
              FROM documents),
            s AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(
                         regexp_replace(html,
                             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                         '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                         '(?s)<!--.*?-->', ' ', 'g'),
                         '<[^>]*>', ' ', 'g') AS t
              FROM h),
            e AS (
              SELECT doc_id,
                     replace(replace(replace(replace(replace(replace(t,
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', ''''), '&nbsp;', ' '),
                         '&amp;', '&') AS t
              FROM s)
            SELECT doc_id,
                   trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
            FROM e""",
        "link_graph": f"""
            SELECT DISTINCT
                   source || '.s3.{REGION}.amazonaws.com' AS src,
                   'src' || CAST((doc_id * 3) % 20 AS VARCHAR)
                       || '.example' AS dst
            FROM documents
            UNION
            -- the '/rel' root-relative href resolves to the page's own
            -- host (resolve_url default) → one self-edge per source host
            SELECT DISTINCT
                   source || '.s3.{REGION}.amazonaws.com' AS src,
                   source || '.s3.{REGION}.amazonaws.com' AS dst
            FROM documents""",
        "admission_fair": admitted_ctes + """,
            backlog AS (
              SELECT host, CAST(COUNT(*) AS BIGINT) AS pending
              FROM admitted GROUP BY host
            ),
            t AS (SELECT CAST(SUM(pending) AS BIGINT) AS tot FROM backlog),
            qb AS (
              SELECT host, pending, tot,
                     (pending * 23) // tot AS fl,
                     (pending * 23) % tot AS rem
              FROM backlog, t
            ),
            qr AS (
              SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rnk,
                     CAST(23 - SUM(fl) OVER () AS BIGINT) AS leftover
              FROM qb
            ),
            quotas AS (
              SELECT host,
                     CAST(CASE WHEN tot <= 0 THEN 0
                          WHEN tot <= 23 THEN pending
                          ELSE fl + CASE WHEN rnk <= leftover THEN 1
                                    ELSE 0 END END AS BIGINT) AS quota
              FROM qr
            )
            SELECT a.host, a.host_rank, a.url, q.quota
            FROM admitted a JOIN quotas q ON a.host = q.host
            WHERE a.host_rank <= q.quota""",
        "host_budget": FRONTIER_CTE + """,
            backlog AS (
              SELECT host, CAST(COUNT(*) AS BIGINT) AS pending
              FROM frontier GROUP BY host
            ),
            t AS (SELECT CAST(SUM(pending) AS BIGINT) AS tot FROM backlog),
            base AS (
              SELECT host, pending, tot,
                     (pending * 137) // tot AS fl,
                     (pending * 137) % tot AS rem
              FROM backlog, t
            ),
            rk AS (
              SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rnk,
                     CAST(137 - SUM(fl) OVER () AS BIGINT) AS leftover
              FROM base
            )
            SELECT host, pending,
                   CAST(CASE WHEN tot <= 0 THEN 0
                        WHEN tot <= 137 THEN pending
                        ELSE fl + CASE WHEN rnk <= leftover THEN 1
                                  ELSE 0 END END AS BIGINT) AS quota
            FROM rk""",
        "anchor_text": f"""
            SELECT 'https://src' || CAST((doc_id * 3) % 20 AS VARCHAR)
                       || '.example/t' AS dst_url,
                   'doc ' || CAST(doc_id % 5 AS VARCHAR) AS anchor,
                   CAST(COUNT(*) AS BIGINT) AS n_refs
            FROM documents GROUP BY 1, 2
            UNION ALL
            SELECT 'https://' || source
                       || '.s3.{REGION}.amazonaws.com/rel' AS dst_url,
                   'self link' AS anchor,
                   CAST(COUNT(*) AS BIGINT) AS n_refs
            FROM documents GROUP BY 1, 2""",
        "asof_events": r"""
            WITH ev AS (
              SELECT event_id, user_id,
                     date_diff('microsecond',
                               TIMESTAMP '2024-01-01 00:00:00', ts) AS us
              FROM events),
            snap AS (
              SELECT user_id, us, event_id AS snap_id
              FROM ev WHERE event_id % 10 = 0)
            SELECT e.event_id, e.user_id, e.us,
                   s.snap_id AS snap_id_asof, s.us AS us_asof
            FROM ev e
            ASOF LEFT JOIN snap s
              ON e.user_id = s.user_id AND e.us >= s.us""",
        "sitemap_seed": FRONTIER_CTE + """
            SELECT doc_id,
                   unnest([url,
                           'https://mirror.example/'
                               || CAST(doc_id AS VARCHAR)]) AS url
            FROM frontier""",
        "shard_assign": r"""
            SELECT doc_id,
                   CAST((list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(
                           string_split(substr(md5(
                               CAST(doc_id AS VARCHAR) || 'export'),
                               1, 8), ''),
                           c -> CAST(strpos('0123456789abcdef', c) - 1
                                     AS BIGINT))),
                       (a, c) -> a * 16 + c) * 8) // 4294967296
                       AS INT) AS shard
            FROM documents""",
        "sessionize": r"""
            WITH ev AS (
              SELECT user_id, event_id,
                     date_diff('microsecond',
                               TIMESTAMP '2024-01-01 00:00:00', ts) AS us
              FROM events),
            flags AS (
              SELECT user_id, event_id, us,
                     CASE WHEN LAG(us) OVER w IS NULL
                            OR us - LAG(us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (
              SELECT user_id, us,
                     -- DuckDB SUM over INT yields HUGEINT (-> float64 in
                     -- pandas); Spark emits BIGINT.  The driver hasher is
                     -- type-strict, so pin the oracle to BIGINT too.
                     CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM flags)
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MIN(us) AS start_us, MAX(us) AS end_us
            FROM sess GROUP BY 1, 2""",
        "host_authority": r"""
            WITH e AS (
              SELECT DISTINCT source AS src,
                     'src' || CAST((doc_id * 7) % 20 AS VARCHAR) AS dst
              FROM documents),
            nodes AS (SELECT src AS host FROM e
                      UNION SELECT dst FROM e),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
            r0 AS (SELECT host, CAST(1000000000000 AS BIGINT) AS rank
                   FROM nodes),
            inc1 AS (SELECT e.dst AS host, SUM(r.rank // d.deg) AS inc
                     FROM e JOIN deg d ON e.src = d.src
                            JOIN r0 r ON r.host = e.src
                     GROUP BY 1),
            r1 AS (SELECT n.host,
                          CAST(125000000000
                               + (7 * COALESCE(i.inc, 0)) // 8 AS BIGINT)
                              AS rank
                   FROM nodes n LEFT JOIN inc1 i ON i.host = n.host),
            inc2 AS (SELECT e.dst AS host, SUM(r.rank // d.deg) AS inc
                     FROM e JOIN deg d ON e.src = d.src
                            JOIN r1 r ON r.host = e.src
                     GROUP BY 1),
            r2 AS (SELECT n.host,
                          CAST(125000000000
                               + (7 * COALESCE(i.inc, 0)) // 8 AS BIGINT)
                              AS rank
                   FROM nodes n LEFT JOIN inc2 i ON i.host = n.host),
            inc3 AS (SELECT e.dst AS host, SUM(r.rank // d.deg) AS inc
                     FROM e JOIN deg d ON e.src = d.src
                            JOIN r2 r ON r.host = e.src
                     GROUP BY 1),
            r3 AS (SELECT n.host,
                          CAST(125000000000
                               + (7 * COALESCE(i.inc, 0)) // 8 AS BIGINT)
                              AS rank
                   FROM nodes n LEFT JOIN inc3 i ON i.host = n.host)
            SELECT host, rank FROM r3""",
        "rolling_fingerprint": r"""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                     (acc, c) -> (acc * 257 + c) % 2147483647) AS fp
            FROM documents""",
        "minhash_lsh": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     text || ' nearduplicate' AS text
              FROM documents WHERE doc_id % 10 = 0),
            docs AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM corpus),
            sh AS (
              SELECT DISTINCT doc_id, shingle
              FROM docs,
                   unnest(list_transform(
                       generate_series(1, greatest(len(words) - 2, 1)),
                       n -> array_to_string(words[n : n + 2], ' ')))
                   t(shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.a, i.b, i.inter,
                   sa.n_sh + sb.n_sh - i.inter AS union_
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 6)
                  >= 0.7""",
        "approx_distinct": FRONTIER_CTE + """
            SELECT count(DISTINCT url) AS exact_urls,
                   CAST(1 AS BOOLEAN) AS within_tolerance
            FROM frontier""",
        "spans_roundtrip": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM documents),
            parts AS (
              SELECT doc_id, words,
                     CAST(floor(len(words) / 2) AS INT) AS half
              FROM d)
            SELECT doc_id,
                   CAST(3 AS INT) AS n_spans,
                   md5(array_to_string(words[1 : half], ' ') || ' '
                       || array_to_string(words[half + 1 : len(words)], ' '))
                       AS text_md5,
                   'https://media.example.com/' || CAST(doc_id AS VARCHAR)
                       || '.png' AS link,
                   CAST(1 AS INT) AS n_links
            FROM parts""",
        "robots_filter": FRONTIER_CTE + """
            , routed AS (
              SELECT CASE WHEN CAST(regexp_extract(host, '^src([0-9]+)', 1)
                                    AS INT) % 2 = 0
                           AND url LIKE '%/docs/zh/%'
                          THEN 'discarded' ELSE 'pending' END AS status,
                     CASE WHEN CAST(regexp_extract(host, '^src([0-9]+)', 1)
                                    AS INT) % 2 = 0
                           AND url LIKE '%/docs/zh/%'
                          THEN 'robots' END AS discard_reason
              FROM frontier)
            SELECT status, discard_reason, count(*) AS n
            FROM routed GROUP BY status, discard_reason
            ORDER BY status, discard_reason""",
        "simhash": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000, text
              FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2000000, text || ' nearduplicate'
              FROM documents WHERE doc_id % 10 = 0),
            docs AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM corpus),
            toks AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
              FROM docs, unnest(words) t(w)),
            bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM toks, unnest(generate_series(0, 59)) s(i)
              GROUP BY 1, 2),
            sigs AS (
              SELECT doc_id,
                     sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                          ELSE 0 END) AS sig
              FROM bits GROUP BY 1)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 4""",
        "object_map": FRONTIER_CTE + f"""
            SELECT url,
                   'https://s3.console.aws.amazon.com/s3/object/' || bucket
                     || '/' || key || '?region={REGION}' AS management_url,
                   regexp_extract(key, '([^/]*)$', 1) AS filename,
                   bucket AS bucket_name, key, size,
                   CAST(NULL AS VARCHAR) AS owner_id,
                   resp_content_type AS mimetype,
                   resp_content_type AS content_type,
                   CASE resp_content_type
                        WHEN 'text/plain' THEN 'txt'
                        WHEN 'text/html' THEN 'html'
                        ELSE 'others' END AS filetype,
                   CAST(NULL AS VARCHAR) AS e_tag,
                   CAST(NULL AS VARCHAR) AS storage_class,
                   CAST(NULL AS BIGINT) AS content_length
            FROM frontier""",
        "mime_sniff": """
            SELECT doc_id,
                   CASE
                     -- magic bytes first (ASCII magics are text prefixes;
                     -- PNG/JPEG magics can't lead utf-8-encoded text)
                     WHEN substr(text, 1, 4) = '%PDF'
                          THEN 'application/pdf'
                     WHEN substr(text, 1, 4) = 'GIF8' THEN 'image/gif'
                     WHEN substr(text, 1, 4) = 'PK' || chr(3) || chr(4)
                          THEN 'application/zip'
                     WHEN substr(text, 1, 5) = '<?xml'
                          THEN 'application/xml'
                     -- then the extension map (filename derived from lang)
                     WHEN lang = 'en' THEN 'text/plain'
                     WHEN lang = 'zh' THEN 'text/html'
                     -- .bin maps to octet-stream in the extension table
                     ELSE 'application/octet-stream' END AS sniffed
            FROM documents""",
        "embed_neardup": """
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id, embedding
              FROM embeddings WHERE vec_id < 50),
            pairs AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                                CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])))),
                       6) AS cos
              FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
            SELECT a, b FROM pairs WHERE cos >= 0.95""",
        "decode_media": """
            SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_id,
                   'image' AS media_type,
                   -- stub decode kernel: width/height are bytes 0 and 1 of
                   -- sha256(content) (multimodal._fake_decode) — DuckDB
                   -- recomputes them from the same utf-8 bytes
                   CAST(16 + (('0x' || substr(sha256(text), 1, 2))::INT % 64)
                        AS INT) AS width,
                   CAST(16 + (('0x' || substr(sha256(text), 3, 2))::INT % 64)
                        AS INT) AS height,
                   CAST(NULL AS VARCHAR) AS decode_error
            FROM documents""",
        # ann_lsh / ivf_topk: the hash structures themselves (numpy-seeded
        # gaussian hyperplanes / Lloyd centroids) are not SQL-expressible,
        # but the planted-clone recall CONTRACT is: an identical vector is
        # deterministically recalled (same SRP buckets in every table /
        # same inverted list) and exact re-rank puts it at rank 1 with
        # cos = 1.0, agreeing with the in-query brute-force top-1.
        # Distribution recall stays pinned in tests/test_similarity.py.
        "ann_lsh": """
            SELECT vec_id AS query_id,
                   vec_id + 1000000 AS top1_id,
                   CAST(1.0 AS DOUBLE) AS top1_cos,
                   TRUE AS matches_exact
            FROM embeddings WHERE vec_id < 10""",
        "ivf_topk": """
            SELECT vec_id AS query_id,
                   vec_id + 1000000 AS top1_id,
                   CAST(1.0 AS DOUBLE) AS top1_cos,
                   TRUE AS matches_exact
            FROM embeddings WHERE vec_id < 5""",
        # driver stack: a static frontier admits budget-slices per host in
        # rank order, so round = floor((host_rank - 1) / budget); routing
        # per admitted row is the flagship chain (E1 discard → E2 size)
        "multiround_crawl": FRONTIER_CTE + f""",
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                  PARTITION BY host ORDER BY priority, url) AS INT) AS rk
              FROM frontier
            ),
            adm AS (
              SELECT *, CAST(floor((rk - 1) / {budget}) AS INT) AS round
              FROM ranked
              WHERE floor((rk - 1) / {budget}) < 3
            )
            SELECT bucket || '@' || key AS stats_key,
                   CASE WHEN NOT regexp_matches(url, '^(?:{_INCLUDE})$')
                             OR regexp_matches(url, '^(?:{_EXCLUDE})$')
                        THEN 'discard'
                        WHEN size > {_MAX_SIZE} THEN 'ACCESS_EXCEPTION'
                        ELSE 'FINISHED' END AS action,
                   round
            FROM adm""",
        # incremental re-crawl: FULL OUTER JOIN of the two derived listing
        # snapshots; IS NOT DISTINCT FROM = Spark's eqNullSafe
        "listing_diff": FRONTIER_CTE + """,
            tagged AS (
              SELECT bucket, key, size,
                     CASE WHEN doc_id % 11 = 0 THEN NULL
                          ELSE 'v' || CAST(doc_id % 3 AS VARCHAR)
                     END AS e_tag,
                     doc_id
              FROM frontier
            ),
            prev AS (
              SELECT bucket, key, e_tag, size FROM tagged
              WHERE doc_id % 13 <> 0
            ),
            cur AS (
              SELECT bucket, key,
                     CASE WHEN doc_id % 7 = 0 AND doc_id % 11 <> 0
                          THEN 'bumped' ELSE e_tag END AS e_tag,
                     size
              FROM tagged
              WHERE doc_id % 17 <> 0
            )
            SELECT COALESCE(c.bucket, p.bucket) AS bucket,
                   COALESCE(c.key, p.key) AS key,
                   CASE WHEN c.key IS NOT NULL AND p.key IS NOT NULL THEN
                          CASE WHEN c.e_tag IS NOT DISTINCT FROM p.e_tag
                                AND c.size IS NOT DISTINCT FROM p.size
                               THEN 'unchanged' ELSE 'modified' END
                        WHEN c.key IS NOT NULL THEN 'added'
                        ELSE 'deleted' END AS change,
                   c.e_tag AS cur_e_tag, c.size AS cur_size,
                   p.e_tag AS prev_e_tag, p.size AS prev_size
            FROM cur c FULL OUTER JOIN prev p
              ON c.bucket = p.bucket AND c.key = p.key""",
        "recrawl_schedule": FRONTIER_CTE + """,
            obs AS (
              SELECT bucket, key, doc_id,
                     1 + doc_id % 2 AS first_cycle, c.cycle
              FROM frontier,
                   (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS cycle) c
              WHERE c.cycle >= 1 + doc_id % 2
            ),
            labeled AS (
              SELECT bucket, key, cycle,
                     CASE WHEN cycle = first_cycle THEN 'added'
                          WHEN cycle = 4 AND doc_id % 17 = 0 THEN 'deleted'
                          WHEN (doc_id + cycle) % 3 = 0 THEN 'modified'
                          ELSE 'unchanged' END AS change
              FROM obs
            ),
            agg AS (
              SELECT bucket, key,
                     COUNT(*) AS n_obs,
                     CAST(SUM(CASE WHEN change IN ('modified', 'added')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_mod,
                     MAX(cycle) AS last_cycle
              FROM labeled WHERE change <> 'deleted'
              GROUP BY bucket, key
            ),
            rated AS (
              SELECT *, CAST(n_mod + 1 AS DOUBLE)
                        / CAST(n_obs + 2 AS DOUBLE) AS rate
              FROM agg
            ),
            sched AS (
              SELECT *,
                     LEAST(CAST(64 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
                       CAST(ROUND(CAST(8 AS DOUBLE) * (1 - rate) / rate)
                            AS BIGINT))) AS recrawl_interval
              FROM rated
            )
            SELECT bucket, key, n_obs, n_mod, last_cycle,
                   rate AS change_rate, recrawl_interval,
                   last_cycle + recrawl_interval AS next_cycle,
                   rate AS priority
            FROM sched""",
        "prefetch_dedup": FRONTIER_CTE + """,
            tagged AS (
              SELECT url, key, doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN NULL
                          ELSE 'e' || CAST(doc_id % 10 AS VARCHAR)
                     END AS e_tag,
                     doc_id % 7 AS size
              FROM frontier
            ),
            cand AS (SELECT url, e_tag, size FROM tagged),
            known AS (
              SELECT 'idx://' || key AS url, e_tag, size
              FROM tagged WHERE doc_id % 10 = 0
            ),
            krep AS (
              SELECT e_tag, size, MIN(url) AS known_src
              FROM known WHERE e_tag IS NOT NULL
              GROUP BY e_tag, size
            ),
            j AS (
              SELECT c.url, c.e_tag, c.size, k.known_src
              FROM cand c LEFT JOIN krep k
                ON c.e_tag = k.e_tag AND c.size = k.size
            ),
            w AS (
              SELECT *, MIN(url) OVER (PARTITION BY e_tag, size)
                        AS batch_src
              FROM j
            )
            SELECT url, e_tag, size,
                   CASE WHEN known_src IS NOT NULL THEN 'copy_known'
                        WHEN e_tag IS NULL THEN 'fetch'
                        WHEN url = batch_src THEN 'fetch'
                        ELSE 'copy_batch' END AS fetch_action,
                   CASE WHEN known_src IS NOT NULL THEN known_src
                        WHEN e_tag IS NULL THEN NULL
                        WHEN url = batch_src THEN NULL
                        ELSE batch_src END AS src_url
            FROM w""",
        "corpus_curate": """
            WITH raw AS (
              SELECT doc_id, text,
                len(regexp_extract_all(lower(text),
                    '\\b(?:the|and|of|to|is)\\b')) AS s_en,
                len(regexp_extract_all(lower(text),
                    '\\b(?:der|die|und|nicht|das)\\b')) AS s_de,
                len(regexp_extract_all(lower(text),
                    '\\b(?:le|la|et|les|des)\\b')) AS s_fr,
                len(regexp_extract_all(lower(text),
                    '\\b(?:el|los|las|una|que)\\b')) AS s_es,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS BIGINT) AS ws_tokens,
                len(regexp_extract_all(lower(text),
             '\\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b'
                    )) AS stop_hits
              FROM documents
            ),
            m AS (
              SELECT doc_id, ws_tokens, stop_hits,
                     CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
                          WHEN s_en = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'en'
                          WHEN s_de = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'de'
                          WHEN s_fr = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'fr'
                          ELSE 'es' END AS lang_guess,
                     CASE WHEN trim(text) = '' THEN 0.0
                          ELSE round(stop_hits * 1.0 / ws_tokens, 4)
                     END AS stopword_ratio,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                         'g')) AS fp
              FROM raw
            ),
            kept AS (
              SELECT * FROM m
              WHERE lang_guess IN ('en') AND ws_tokens >= 20
                AND stop_hits * 50 >= ws_tokens * 1
            )
            SELECT fp,
                   min(doc_id) AS doc_id,
                   arg_min(lang_guess, doc_id) AS lang_guess,
                   arg_min(ws_tokens, doc_id) AS ws_tokens,
                   arg_min(stopword_ratio, doc_id) AS stopword_ratio,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM kept GROUP BY fp""",
        "curate_sample_cap": """
            WITH raw AS (
              SELECT doc_id, text, source,
                len(regexp_extract_all(lower(text),
                    '\\b(?:the|and|of|to|is)\\b')) AS s_en,
                len(regexp_extract_all(lower(text),
                    '\\b(?:der|die|und|nicht|das)\\b')) AS s_de,
                len(regexp_extract_all(lower(text),
                    '\\b(?:le|la|et|les|des)\\b')) AS s_fr,
                len(regexp_extract_all(lower(text),
                    '\\b(?:el|los|las|una|que)\\b')) AS s_es,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS BIGINT) AS ws_tokens,
                len(regexp_extract_all(lower(text),
             '\\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b'
                    )) AS stop_hits
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'r4'), 1, 8)
                    < 'c0000000'
            ),
            m AS (
              SELECT doc_id, source, ws_tokens, stop_hits,
                     CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
                          WHEN s_en = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'en'
                          WHEN s_de = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'de'
                          WHEN s_fr = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'fr'
                          ELSE 'es' END AS lang_guess,
                     CASE WHEN trim(text) = '' THEN 0.0
                          ELSE round(stop_hits * 1.0 / ws_tokens, 4)
                     END AS stopword_ratio,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                         'g')) AS fp
              FROM raw
            ),
            kept AS (
              SELECT * FROM m
              WHERE lang_guess IN ('en') AND ws_tokens >= 20
                AND stop_hits * 50 >= ws_tokens * 1
            ),
            surv AS (
              SELECT fp,
                     min(doc_id) AS doc_id,
                     arg_min(lang_guess, doc_id) AS lang_guess,
                     arg_min(ws_tokens, doc_id) AS ws_tokens,
                     arg_min(stopword_ratio, doc_id) AS stopword_ratio,
                     CAST(count(*) AS BIGINT) AS dup_count,
                     arg_min(source, doc_id) AS source
              FROM kept GROUP BY fp
            ),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY source
                        ORDER BY ws_tokens DESC, doc_id ASC) AS rk
              FROM surv
            )
            SELECT fp, doc_id, lang_guess, ws_tokens, stopword_ratio,
                   dup_count, source
            FROM ranked WHERE rk <= 5""",
        "curate_interleaved": """
            WITH raw AS (
              SELECT doc_id, text,
                CAST(doc_id % 3 AS INTEGER) AS n_media,
                CAST(2 + doc_id % 3 AS INTEGER) AS n_spans,
                (doc_id % 7 = 0 AND doc_id % 3 >= 1) AS broken,
                len(regexp_extract_all(lower(text),
                    '\\b(?:the|and|of|to|is)\\b')) AS s_en,
                len(regexp_extract_all(lower(text),
                    '\\b(?:der|die|und|nicht|das)\\b')) AS s_de,
                len(regexp_extract_all(lower(text),
                    '\\b(?:le|la|et|les|des)\\b')) AS s_fr,
                len(regexp_extract_all(lower(text),
                    '\\b(?:el|los|las|una|que)\\b')) AS s_es,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS BIGINT) AS ws_tokens,
                len(regexp_extract_all(lower(text),
             '\\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b'
                    )) AS stop_hits
              FROM documents
            ),
            m AS (
              SELECT doc_id, n_spans, n_media, broken, ws_tokens,
                     stop_hits,
                     CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
                          WHEN s_en = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'en'
                          WHEN s_de = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'de'
                          WHEN s_fr = greatest(s_en,s_de,s_fr,s_es)
                            THEN 'fr'
                          ELSE 'es' END AS lang_guess,
                     CASE WHEN trim(text) = '' THEN 0.0
                          ELSE round(stop_hits * 1.0 / ws_tokens, 4)
                     END AS stopword_ratio,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                         'g')) AS fp
              FROM raw
            ),
            kept AS (
              SELECT * FROM m
              WHERE n_media * 3 <= n_spans * 1
                AND NOT broken
                AND lang_guess IN ('en') AND ws_tokens >= 20
                AND stop_hits * 50 >= ws_tokens * 1
            )
            SELECT fp,
                   min(doc_id) AS doc_id,
                   arg_min(lang_guess, doc_id) AS lang_guess,
                   arg_min(ws_tokens, doc_id) AS ws_tokens,
                   arg_min(stopword_ratio, doc_id) AS stopword_ratio,
                   arg_min(n_spans, doc_id) AS n_spans,
                   arg_min(n_media, doc_id) AS n_media,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM kept GROUP BY fp""",
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS BIGINT) AS tokens,
                CAST(doc_id % 16 AS INTEGER) AS shard
              FROM documents
            ),
            c AS (
              SELECT *, COALESCE(SUM(tokens) OVER (
                          PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cum
              FROM t
            )
            SELECT doc_id, tokens, shard,
                   CAST(cum // 512 AS BIGINT) AS seq_id,
                   CAST(cum % 512 AS BIGINT) AS seq_offset
            FROM c""",
        "corpus_split": """
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)
                             || 'split1'), 1, 8) < 'cccccccc' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)
                             || 'split1'), 1, 8) < 'e6666666' THEN 'eval'
                        ELSE 'test' END AS split
            FROM documents""",
        "decontam": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' ') AS w
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 1)),
                       i -> array_to_string(w[i:i+7], ' '))) AS gs
              FROM toks
            ), doc_g AS (
              SELECT doc_id, unnest(gs) AS g FROM grams
            ), eval_g AS (
              SELECT DISTINCT g FROM doc_g WHERE doc_id % 7 = 0
            ), hits AS (
              SELECT d.doc_id, count(*) AS h
              FROM doc_g d JOIN eval_g e USING (g) GROUP BY d.doc_id
            )
            SELECT g.doc_id,
                   CAST(len(g.gs) AS BIGINT) AS doc_ngrams,
                   CAST(coalesce(h.h, 0) AS BIGINT) AS eval_ngram_hits,
                   coalesce(h.h, 0) >= 1 AS contaminated
            FROM grams g LEFT JOIN hits h USING (doc_id)""",
        "eval_coverage": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' ') AS w
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 1)),
                       i -> array_to_string(w[i:i+7], ' '))) AS gs
              FROM toks
            ), doc_g AS (
              SELECT doc_id, unnest(gs) AS g FROM grams
            ), eval_g AS (
              SELECT doc_id AS eval_id, g FROM doc_g WHERE doc_id % 7 = 0
            ), sizes AS (
              SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS eval_ngrams
              FROM eval_g GROUP BY eval_id
            ), m AS (
              SELECT e.eval_id, d.g, d.doc_id
              FROM doc_g d JOIN eval_g e USING (g)
            ), agg AS (
              SELECT eval_id,
                     CAST(COUNT(DISTINCT g) AS BIGINT) AS grams_hit,
                     CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS corpus_docs
              FROM m GROUP BY eval_id
            )
            SELECT s.eval_id, s.eval_ngrams,
                   COALESCE(a.grams_hit, 0) AS grams_hit,
                   COALESCE(a.corpus_docs, 0) AS corpus_docs,
                   COALESCE(a.grams_hit, 0) >= 1 AS compromised
            FROM sizes s LEFT JOIN agg a USING (eval_id)""",
        "pii_redact": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id
                          || '@example.com ip 10.0.' || (doc_id % 256)
                          || '.9 tel +1 555 ' || (2000000 + doc_id) AS t
              FROM documents
            ), s1 AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM aug
            ), s2 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t1,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
                       AS BIGINT) AS n_ipv4,
                     regexp_replace(t1,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                       '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id, n_email, n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                     '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
                   regexp_replace(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]',
                                  '<PHONE>', 'g') AS redacted
            FROM s2""",
        "repetition": r"""
            WITH lined AS (
              SELECT doc_id, replace(text, ' the ', chr(10)) AS lined
              FROM documents
            ), lines AS (
              SELECT doc_id,
                     list_filter(string_split(lined, chr(10)),
                                 l -> trim(l) <> '') AS ls
              FROM lined
            ), dl AS (
              SELECT doc_id,
                     CASE WHEN len(ls) = 0 THEN 0.0
                          ELSE round((len(ls) - len(list_distinct(ls)))
                                     * 1.0 / len(ls), 4) END AS dup_line_frac
              FROM lines
            ), toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(lined)),
                                                 '\s+', ' ', 'g'), ' ') AS w
              FROM lined
            ), bg AS (
              SELECT doc_id, len(w) - 1 AS nb,
                     list_transform(generate_series(1,
                                                    greatest(len(w) - 1, 1)),
                                    i -> w[i] || ' ' || w[i+1]) AS gs
              FROM toks
            ), ex AS (
              SELECT doc_id, unnest(gs) AS g FROM bg
            ), top AS (
              SELECT doc_id, max(c) AS mx FROM (
                SELECT doc_id, g, count(*) AS c FROM ex GROUP BY doc_id, g)
              GROUP BY doc_id
            )
            SELECT b.doc_id, d.dup_line_frac,
                   CASE WHEN b.nb < 1 THEN 0.0
                        ELSE round(t.mx * 1.0 / b.nb, 4)
                   END AS top_bigram_frac
            FROM bg b JOIN top t USING (doc_id)
            JOIN dl d ON d.doc_id = b.doc_id""",
        "fetch_conditional": FRONTIER_CTE + """
            SELECT f.url,
                   (f.doc_id % 2 = 0) AS not_modified,
                   CASE WHEN f.doc_id % 2 = 0 THEN NULL
                        ELSE md5(d.text) END AS content_md5
            FROM frontier f JOIN documents d USING (doc_id)
            WHERE f.doc_id % 7 = 0""",
        "scrub_interleaved": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_split_to_array(regexp_replace(lower(trim(text)),
                         '\s+', ' ', 'g'), ' ') AS words
              FROM documents
            ), parts AS (
              SELECT doc_id, words,
                     CAST(floor(len(words) / 2) AS INT) AS half
              FROM d
            ), halves AS (
              SELECT doc_id,
                     array_to_string(words[1 : half], ' ')
                       || ' contact user' || doc_id || '@example.com' AS t1,
                     array_to_string(words[half + 1 : len(words)], ' ')
                       || ' ip 10.0.' || (doc_id % 256)
                       || '.9 tel +1 555 ' || (2000000 + doc_id) AS t2
              FROM parts
            ), s1 AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(t1,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(t2,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                     regexp_replace(t1,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1a,
                     regexp_replace(t2,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t2a
              FROM halves
            ), s2 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t1a,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
                     + len(regexp_extract_all(t2a,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
                       AS BIGINT) AS n_ipv4,
                     regexp_replace(t1a, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                                    '<IP>', 'g') AS t1b,
                     regexp_replace(t2a, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                                    '<IP>', 'g') AS t2b
              FROM s1
            ), s3 AS (
              SELECT doc_id, n_email, n_ipv4,
                     CAST(len(regexp_extract_all(t1b,
                       '\+?[0-9][0-9()\- ]{6,}[0-9]'))
                     + len(regexp_extract_all(t2b,
                       '\+?[0-9][0-9()\- ]{6,}[0-9]'))
                       AS BIGINT) AS n_phone,
                     regexp_replace(t1b, '\+?[0-9][0-9()\- ]{6,}[0-9]',
                                    '<PHONE>', 'g') AS t1c,
                     regexp_replace(t2b, '\+?[0-9][0-9()\- ]{6,}[0-9]',
                                    '<PHONE>', 'g') AS t2c
              FROM s2
            )
            SELECT s3.doc_id,
                   'text:-:0'
                   || CASE WHEN s3.doc_id % 3 >= 1 THEN '|media:'
                             || CASE WHEN s3.doc_id % 7 = 0 THEN '-'
                                ELSE 'https://media.example.com/'
                                  || s3.doc_id || '-0.png' END || ':1'
                      ELSE '' END
                   || CASE WHEN s3.doc_id % 3 >= 2 THEN '|media:'
                             || 'https://media.example.com/'
                             || s3.doc_id || '-1.png' || ':2'
                      ELSE '' END
                   || '|text:-:10' AS structure,
                   md5(t1c || ' ' || t2c) AS scrubbed_md5,
                   n_email, n_ipv4, n_phone
            FROM s3""",
        "pack_interleaved": r"""
            WITH t AS (
              SELECT doc_id,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS BIGINT)
                + (doc_id % 3) * 64 AS tokens,
                CAST(doc_id % 16 AS INTEGER) AS shard
              FROM documents
            ),
            c AS (
              SELECT *, COALESCE(SUM(tokens) OVER (
                          PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cum
              FROM t
            )
            SELECT doc_id, tokens, shard,
                   CAST(cum // 512 AS BIGINT) AS seq_id,
                   CAST(cum % 512 AS BIGINT) AS seq_offset
            FROM c""",
        "media_manifest": """
            WITH refs AS (
              SELECT doc_id,
                     'https://media.example.com/'
                       || CAST(doc_id % 50 AS VARCHAR) || '-0.png'
                       AS media_ref
              FROM documents WHERE doc_id % 3 >= 1 AND doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id,
                     'https://media.example.com/'
                       || CAST(doc_id % 50 AS VARCHAR) || '-1.png'
                       AS media_ref
              FROM documents WHERE doc_id % 3 >= 2
            )
            SELECT media_ref, CAST(count(*) AS BIGINT) AS ref_count,
                   min(doc_id) AS first_doc
            FROM refs GROUP BY media_ref""",
        # salted as-of must be bit-identical to the unsalted path, so it
        # shares the native ASOF-join oracle verbatim (installed below)
        "schedule_fold": FRONTIER_CTE + """,
            obs AS (
              SELECT bucket, key, doc_id,
                     1 + doc_id % 2 AS first_cycle, c.cycle
              FROM frontier,
                   (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS cycle) c
              WHERE c.cycle >= 1 + doc_id % 2
            ),
            labeled AS (
              SELECT bucket, key, cycle,
                     CASE WHEN cycle = first_cycle THEN 'added'
                          WHEN cycle = 3 AND doc_id % 17 = 0 THEN 'deleted'
                          WHEN (doc_id + cycle) % 3 = 0 THEN 'modified'
                          ELSE 'unchanged' END AS change
              FROM obs
            ),
            -- fold semantics: a 'deleted' diff row removes the key from
            -- the running schedule entirely (unlike the batch aggregate,
            -- which only drops the deleted observation row)
            agg AS (
              SELECT bucket, key,
                     COUNT(*) AS n_obs,
                     CAST(SUM(CASE WHEN change IN ('modified', 'added')
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_mod,
                     MAX(cycle) AS last_cycle
              FROM labeled
              WHERE change <> 'deleted'
                AND NOT EXISTS (
                  SELECT 1 FROM labeled d
                  WHERE d.bucket = labeled.bucket
                    AND d.key = labeled.key AND d.change = 'deleted')
              GROUP BY bucket, key
            ),
            rated AS (
              SELECT *, CAST(n_mod + 1 AS DOUBLE)
                        / CAST(n_obs + 2 AS DOUBLE) AS rate
              FROM agg
            ),
            sched AS (
              SELECT *,
                     LEAST(CAST(64 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
                       CAST(ROUND(CAST(8 AS DOUBLE) * (1 - rate) / rate)
                            AS BIGINT))) AS recrawl_interval
              FROM rated
            )
            SELECT bucket, key, n_obs, n_mod, last_cycle,
                   rate AS change_rate, recrawl_interval,
                   last_cycle + recrawl_interval AS next_cycle,
                   rate AS priority
            FROM sched""",
    }
    out["asof_salted"] = out["asof_events"]
    # Data-mixture oracles: the threshold is two fixed-shape IEEE-double
    # ops over compile-time literals (repr round-trips the exact double),
    # so DuckDB reproduces Spark's integer threshold bit-for-bit; keep
    # decisions are the sampling module's md5-hex comparison.
    mix_w = sum(_MIX_WEIGHTS.values())
    numer_case = ("CASE " + " ".join(
        f"WHEN source = '{s}' THEN {float(w * _MIX_BUDGET * 2**32)!r}"
        for s, w in _MIX_WEIGHTS.items()) + " ELSE 0.0 END")
    weight_case = ("CASE " + " ".join(
        f"WHEN source = '{s}' THEN {w}"
        for s, w in _MIX_WEIGHTS.items()) + " ELSE 0 END")
    ratio = (f"({numer_case}) / (CAST(src_tokens AS DOUBLE) "
             f"* {float(mix_w)!r})")
    mix_cte = f"""
        toks AS (
          SELECT doc_id, source,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS tok
          FROM documents
        ),
        tot AS (
          SELECT source, CAST(SUM(tok) AS BIGINT) AS src_tokens
          FROM toks GROUP BY source
        ),
        plan AS (
          SELECT source, CAST({weight_case} AS BIGINT) AS weight,
                 src_tokens,
                 CAST(CASE WHEN src_tokens <= 0 THEN 4294967296
                      WHEN {ratio} >= 4294967296.0 THEN 4294967296
                      ELSE CAST(FLOOR({ratio}) AS BIGINT)
                      END AS BIGINT) AS sample_threshold
          FROM tot
        )"""
    out["mix_plan"] = f"""
        WITH {mix_cte}
        SELECT source, weight, src_tokens, sample_threshold FROM plan"""
    out["mix_corpus"] = f"""
        WITH {mix_cte}
        SELECT d.doc_id, d.source, d.tok AS tokens,
               p.src_tokens, p.sample_threshold
        FROM toks d JOIN plan p USING (source)
        WHERE CASE WHEN p.sample_threshold >= 4294967296
                   THEN d.doc_id IS NOT NULL
              ELSE substr(md5(CAST(d.doc_id AS VARCHAR) || 'r5'), 1, 8)
                   < printf('%08x', p.sample_threshold) END"""
    out["rare_words"] = r"""
        WITH w AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                   ' '))) AS w
          FROM documents
        ),
        nz AS (SELECT doc_id, w FROM w WHERE w <> ''),
        dfreq AS (SELECT w, COUNT(*) AS df FROM nz GROUP BY w),
        per AS (
          SELECT n.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(COUNT(*) FILTER (WHERE f.df <= 3) AS BIGINT)
                   AS n_rare
          FROM nz n JOIN dfreq f USING (w) GROUP BY n.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_words, 0) AS n_words,
               COALESCE(p.n_rare, 0) AS n_rare,
               CASE WHEN COALESCE(p.n_words, 0) = 0 THEN 0.0
                    ELSE round(p.n_rare / p.n_words, 6) END AS rare_ratio
        FROM documents d LEFT JOIN per p USING (doc_id)"""
    out["token_histogram"] = r"""
        WITH toks AS (
          SELECT source,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END AS BIGINT) AS tok
          FROM documents
        )
        SELECT source, CAST(length(bin(tok + 1)) - 1 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS tokens
        FROM toks GROUP BY 1, 2"""
    out["quantized_topk"] = """
        WITH qz AS (
          SELECT vec_id,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS m,
                 embedding
          FROM embeddings
        ),
        codes AS (
          SELECT vec_id,
            CASE WHEN m = 0.0 THEN list_transform(embedding, x -> 0)
            ELSE list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / m + 0.5)
                           AS INT)) END AS c
          FROM qz
        ),
        withn AS (
          SELECT vec_id, c,
            CAST(list_dot_product(
                 list_transform(c, x -> CAST(x AS DOUBLE)),
                 list_transform(c, x -> CAST(x AS DOUBLE))) AS BIGINT)
              AS n2
          FROM codes
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id,
            CAST(list_dot_product(
                 list_transform(q.c, x -> CAST(x AS DOUBLE)),
                 list_transform(c.c, x -> CAST(x AS DOUBLE))) AS BIGINT)
              AS qdot,
            CASE WHEN q.n2 = 0 OR c.n2 = 0 THEN 0.0
            ELSE round(CAST(list_dot_product(
                   list_transform(q.c, x -> CAST(x AS DOUBLE)),
                   list_transform(c.c, x -> CAST(x AS DOUBLE)))
                   AS BIGINT)
                 / (sqrt(CAST(q.n2 AS DOUBLE))
                    * sqrt(CAST(c.n2 AS DOUBLE))), 6) END AS qcos
          FROM withn q, withn c
          WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY qcos DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, qdot, qcos
        FROM ranked WHERE rank <= 5"""
    has_weight_case = ("CASE " + " ".join(
        f"WHEN source = '{s}' THEN 1" for s in _MIX_WEIGHTS)
        + " ELSE 0 END")
    epoch_cap = 3
    t_cap = (f"LEAST(({numer_case}) / (CAST(src_tokens AS DOUBLE) "
             f"* {float(mix_w)!r}), {float(epoch_cap * 2**32)!r})")
    out["mix_epochs"] = f"""
        WITH toks AS (
          SELECT doc_id, source,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END AS BIGINT) AS tok
          FROM documents
        ),
        tot AS (
          SELECT source, CAST(SUM(tok) AS BIGINT) AS src_tokens
          FROM toks GROUP BY source
        ),
        p AS (
          SELECT source,
            CASE WHEN ({has_weight_case}) = 0 THEN 0
                 WHEN src_tokens <= 0 THEN 1
                 ELSE CAST(FLOOR(({t_cap}) / 4294967296.0) AS INT)
            END AS full_copies,
            CASE WHEN ({has_weight_case}) = 0 OR src_tokens <= 0 THEN 0
                 ELSE CAST(FLOOR(({t_cap})
                      - CAST(CAST(FLOOR(({t_cap}) / 4294967296.0) AS INT)
                             AS DOUBLE) * 4294967296.0) AS BIGINT)
            END AS frac_threshold
          FROM tot
        ),
        c AS (
          SELECT d.doc_id, d.source, d.tok AS tokens,
            p.full_copies
              + CASE WHEN p.frac_threshold >= 4294967296 THEN 1
                WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || 'r5e'), 1, 8)
                     < printf('%08x', p.frac_threshold) THEN 1
                ELSE 0 END AS copies
          FROM toks d JOIN p USING (source)
        )
        SELECT doc_id, source, CAST(u.g AS INT) AS copy_idx, tokens
        FROM c, UNNEST(generate_series(1, copies)) u(g)
        WHERE copies >= 1"""
    out["funnel_report"] = r"""
        WITH src AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000, text FROM documents
          WHERE doc_id % 3 = 0
        ),
        raw AS (
          SELECT doc_id, text,
            len(regexp_extract_all(lower(text),
                '\b(?:the|and|of|to|is)\b')) AS s_en,
            len(regexp_extract_all(lower(text),
                '\b(?:der|die|und|nicht|das)\b')) AS s_de,
            len(regexp_extract_all(lower(text),
                '\b(?:le|la|et|les|des)\b')) AS s_fr,
            len(regexp_extract_all(lower(text),
                '\b(?:el|los|las|una|que)\b')) AS s_es,
            CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+'))
                 END AS BIGINT) AS ws_tokens,
            len(regexp_extract_all(lower(text),
             '\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b'
                )) AS stop_hits
          FROM src
        ),
        m AS (
          SELECT doc_id, ws_tokens, stop_hits,
             CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
                  WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
                  WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
                  ELSE 'es' END AS lang_guess,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM raw
        ),
        flags AS (
          SELECT fp, ws_tokens, doc_id,
             (lang_guess IN ('en')) AS f_lang,
             (lang_guess IN ('en') AND ws_tokens >= 20) AS f_len,
             (lang_guess IN ('en') AND ws_tokens >= 20
              AND stop_hits * 50 >= ws_tokens * 1) AS f_stop
          FROM m
        ),
        g AS (
          SELECT fp,
            COUNT(*) AS n_all, COALESCE(SUM(ws_tokens), 0) AS t_all,
            COUNT(*) FILTER (WHERE f_lang) AS n_lang,
            COALESCE(SUM(ws_tokens) FILTER (WHERE f_lang), 0) AS t_lang,
            COUNT(*) FILTER (WHERE f_len) AS n_len,
            COALESCE(SUM(ws_tokens) FILTER (WHERE f_len), 0) AS t_len,
            COUNT(*) FILTER (WHERE f_stop) AS n_kept,
            COALESCE(SUM(ws_tokens) FILTER (WHERE f_stop), 0) AS t_kept,
            arg_min(ws_tokens, doc_id) FILTER (WHERE f_stop) AS w_tok
          FROM flags GROUP BY fp
        )
        SELECT '1_input' AS stage, CAST(COALESCE(SUM(n_all),0) AS BIGINT)
               AS docs, CAST(COALESCE(SUM(t_all),0) AS BIGINT) AS tokens
        FROM g
        UNION ALL SELECT '2_lang', CAST(COALESCE(SUM(n_lang),0) AS BIGINT),
               CAST(COALESCE(SUM(t_lang),0) AS BIGINT) FROM g
        UNION ALL SELECT '3_length', CAST(COALESCE(SUM(n_len),0) AS BIGINT),
               CAST(COALESCE(SUM(t_len),0) AS BIGINT) FROM g
        UNION ALL SELECT '4_stopword',
               CAST(COALESCE(SUM(n_kept),0) AS BIGINT),
               CAST(COALESCE(SUM(t_kept),0) AS BIGINT) FROM g
        UNION ALL SELECT '5_dedup',
               CAST(COUNT(*) FILTER (WHERE n_kept > 0) AS BIGINT),
               CAST(COALESCE(SUM(w_tok) FILTER (WHERE n_kept > 0), 0)
                    AS BIGINT) FROM g"""
    return out
