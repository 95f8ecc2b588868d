"""Build a local sf1.0-SHAPED timing dataset from sf0.1 (optimization r6).

NOT driver data and never used for correctness: the driver's round-end
measurement escalated to a driver-generated sf=1.0 (BENCH_r05.json), which
this sandbox does not have. For guide §1 measurement at that scale, this
script derives a 10x copy of the three tables the headline queries read
(documents, embeddings, events) from the read-only sf0.1:

- ids shift by k * STEP per copy k (STEP divisible by every modulus the
  headline queries take: %3, %10, %16, %50 — so subset ratios are
  preserved);
- document text for copy k > 0 is the SAME multiset of words in a
  deterministic per-copy order (sorted by xxhash64(word, k)): token
  counts, stopword hits, language markers and lengths are identical to
  the source row, while fingerprints and 5-gram shingle sets are
  disjoint across copies — so exact-dedup group sizes, LSH bucket loads
  and near-dup structure stay realistic instead of exploding with 10
  identical clones of every doc. Words are split on runs of whitespace
  after a ``trim``, the same split ``operators.dedup.shingles`` uses, and
  rejoined with single spaces. Two source docs with the same word
  multiset (in any order or spacing) become exact clones of each other
  in every copy after the first;
- embeddings/events rows are verbatim copies under shifted ids.

Usage: python scripts/make_sf_scale.py [out_dir] [copies]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
STEP = 10_008_000_000  # divisible by 3, 10, 16, 50; far above planted-clone offsets


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1-local"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    ev = spark.read.parquet(f"{SRC}/events.parquet")

    def shuffled_text(k: int):
        words = F.split(F.trim(F.col("text")), r"\s+")
        keyed = F.transform(
            words, lambda w: F.struct(F.xxhash64(w, F.lit(k)).alias("h"),
                                      w.alias("w")))
        return F.array_join(
            F.transform(F.array_sort(keyed), lambda s: s["w"]), " ")

    doc_parts = [docs]
    emb_parts = [emb]
    ev_parts = [ev]
    for k in range(1, copies):
        doc_parts.append(docs.select(
            (F.col("doc_id") + F.lit(k * STEP)).alias("doc_id"),
            shuffled_text(k).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")]))
        emb_parts.append(emb.select(
            (F.col("vec_id") + F.lit(k * STEP)).alias("vec_id"),
            *[c for c in emb.columns if c != "vec_id"]))
        ev_parts.append(ev.select(
            (F.col("event_id") + F.lit(k * STEP)).alias("event_id"),
            (F.col("user_id") + F.lit(k * STEP)).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "user_id")]))

    u = doc_parts[0]
    for p in doc_parts[1:]:
        u = u.unionByName(p.select(*docs.columns))
    u.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet")
    u = emb_parts[0]
    for p in emb_parts[1:]:
        u = u.unionByName(p.select(*emb.columns))
    u.repartition(16).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet")
    u = ev_parts[0]
    for p in ev_parts[1:]:
        u = u.unionByName(p.select(*ev.columns))
    u.repartition(32).write.mode("overwrite").parquet(
        f"{out}/events.parquet")

    # the remaining tables are read by non-headline queries only; symlink
    # the sf0.1 copies so any entry still resolves
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    print(f"wrote {out} (copies={copies})")
    spark.stop()


if __name__ == "__main__":
    main()
