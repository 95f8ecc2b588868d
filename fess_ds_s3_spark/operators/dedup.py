"""Document deduplication at training-data scale.

Four tiers, cheapest-first — a 100 TB dedup pipeline runs them as a funnel:

1. **Exact** — hash-groupBy on a normalized fingerprint (one shuffle on the
   16-byte hash, not the document text; map-side partial aggregation applies).
2. **MinHash + LSH** — shingle → minhash signature → band buckets →
   in-bucket candidate pairs → exact-Jaccard verify. The classic
   near-dup pipeline (Broder; used by most web-corpus dedups). One Arrow
   shingle pass yields each doc's distinct hash set; NULL ids are dropped,
   the sets are hash-partitioned on the id once, and banding and both
   verify sides read that one exchange (Spark reuses it). The trade-off:
   the hash sets cross one shuffle instead of the shingle kernel running
   3–7 times. Everything is built-in explode/groupBy/join except the
   shingler and the signature, vectorized over Arrow batches.
3. **SimHash** — 64-bit Charikar fingerprint + Hamming-ball blocking (split
   into ``radius + 1`` pigeonhole blocks; exact-match on any block →
   candidate — complete at any requested radius ≤ 63).
4. **Embedding cosine** — :func:`embedding_neardup_pairs`: SRP-LSH bucket
   collisions → exact cosine verify (crossJoin exact baseline for oracles;
   operators/similarity.py provides the shared ANN machinery).

Scale notes: LSH bands are the shuffle key — ``(band_id, band_hash)`` — so
candidate generation never compares across buckets; skewed buckets (boiler-
plate shingles) are capped with a per-bucket limit before the pair expansion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from fess_ds_s3_spark.functions.text import fingerprint_md5

#: Mersenne prime 2^31 - 1: with a,b < 2^31 and x folded to 31 bits,
#: a*x + b < 2^62 stays inside native int64 — the whole signature batch is
#: one contiguous numpy int64 op, never object-dtype Python bigints.
_MERSENNE31 = (1 << 31) - 1


# ---------------------------------------------------------------------------
# 0. pre-fetch content-identity dedup (cheapest tier: skip the GET itself)
# ---------------------------------------------------------------------------

def prefetch_dedup(candidates: DataFrame, known: DataFrame, *,
                   etag_col: str = "e_tag", size_col: str = "size",
                   url_col: str = "url") -> DataFrame:
    """Route admitted fetch candidates by content identity BEFORE the GET.

    S3's ETag is content-derived (md5 for single-part uploads), and the
    reference carries it into every objectMap (AmazonS3DataStore.java:103)
    without using it. At crawl scale the cheapest dedup tier is the one
    that never fetches: an object whose ``(e_tag, size)`` matches an
    already-indexed object, or an earlier candidate in the same admitted
    batch, can copy that row's extracted content instead of issuing a GET.

    Returns ``candidates``'s columns plus:

    - ``fetch_action`` — ``fetch`` (issue the GET), ``copy_known``
      (identical content already in the index), or ``copy_batch``
      (an in-batch twin with a smaller URL fetches; copy from it).
    - ``src_url`` — the URL to copy from (NULL for ``fetch``).

    Candidates with a NULL ETag always fetch (no identity to trust —
    the null-degradation twin of :func:`listing_diff`'s version compare).
    Multipart-upload ETags are not md5s but remain write-unique, so
    equality still implies same stored bytes.

    Scale shape: the known side reduces to one row per ``(e_tag, size)``
    (min-URL representative; map-side combine), candidates join it on
    those keys, and the in-batch window partitions by the SAME keys — so
    the join's output partitioning feeds the window with no further
    exchange. Everything is JVM column logic; AQE broadcasts the known
    side when the index's distinct-content set is small.
    """
    keys = [etag_col, size_col]
    known_rep = (known.filter(F.col(etag_col).isNotNull())
                 .groupBy(*keys)
                 .agg(F.min(url_col).alias("_known_src")))
    j = candidates.join(known_rep, on=keys, how="left")
    # NULL-ETag rows always fetch and never read batch_src — but without
    # the salt they'd all share ONE window partition per size (the
    # identity-less majority of a 10^9-row batch landing on a single
    # task). Salting them by their own URL makes each a singleton
    # partition; non-null groups get a constant salt, so their
    # min-URL representative is unchanged.
    null_salt = (F.when(F.col(etag_col).isNull(), F.col(url_col))
                 .otherwise(F.lit("")))
    w = Window.partitionBy(*keys, null_salt)
    batch_src = F.min(url_col).over(w)
    action = (F.when(F.col("_known_src").isNotNull(), F.lit("copy_known"))
              .when(F.col(etag_col).isNull(), F.lit("fetch"))
              .when(F.col(url_col) == batch_src, F.lit("fetch"))
              .otherwise(F.lit("copy_batch")))
    src = (F.when(F.col("_known_src").isNotNull(), F.col("_known_src"))
           .when(F.col(etag_col).isNull(), F.lit(None))
           .when(F.col(url_col) == batch_src, F.lit(None))
           .otherwise(batch_src))
    return (j.select(*candidates.columns,
                     action.alias("fetch_action"),
                     src.alias("src_url")))


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.

    One shuffle on the md5 hash; survivor choice is deterministic (min id).
    """
    h = fingerprint_md5(F.col(text)).alias("fp")
    return (df.select(F.col(id_col), h)
            .groupBy("fp")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count")))


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------

def shingles(text: Column | str, n: int = 5) -> Column:
    """Word n-gram shingles of the normalized text (distinct, as array)."""
    t = F.regexp_replace(F.lower(F.trim(
        F.col(text) if isinstance(text, str) else text)), r"\s+", " ")
    words = F.split(t, " ")
    count = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.array_distinct(F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " ")))


def explode_shingle_hashes(df: DataFrame, text: str = "text",
                           id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """(id, shingle_hash) rows — xxhash64 per distinct shingle.

    r6: shingle strings come from the Arrow kernel
    (functions/arrow_text.shingle_sets — identical string sets, ~10× the
    JVM slice+join build rate); the hash stays JVM xxhash64, so the
    emitted rows are unchanged bit-for-bit."""
    from fess_ds_s3_spark.functions.arrow_text import shingle_sets
    return (shingle_sets(df, text=text, id_col=id_col, n=n)
            .select(F.col(id_col), F.explode("shingle").alias("shingle"))
            .select(id_col, F.xxhash64("shingle").alias("shingle_hash")))


# ---------------------------------------------------------------------------
# 2. MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=num_hashes, dtype=np.int64)
    return a, b


def _hash_sets(df: DataFrame, text: str, id_col: str, n: int) -> DataFrame:
    """(id, _hs: array<long>) — each doc's distinct xxhash64 shingle set,
    from ONE Arrow shingle-kernel pass (functions/arrow_text.shingle_sets
    builds the strings; the hash stays JVM xxhash64)."""
    from fess_ds_s3_spark.functions.arrow_text import shingle_sets
    hset = F.array_distinct(F.transform("shingle",
                                        lambda s: F.xxhash64(s)))
    return (shingle_sets(df, text=text, id_col=id_col, n=n)
            .select(F.col(id_col), hset.alias("_hs")))


def _sign(num_hashes: int, seed: int):
    """Pandas UDF: array<long> hash set → array<long> minhash signature.

    The k permutations ``(a*x + b) mod p`` run as one native-int64 numpy
    matrix op per batch — p = 2^31-1 with 31-bit-folded shingle hashes
    keeps every intermediate below 2^62 (no object-dtype fallback; this is
    the 100 TB dedup hot path). The min over a set equals the min over the
    list it came from, so distinct or not, the signature is the same."""
    a, b = _minhash_params(num_hashes, seed)

    @pandas_udf(ArrayType(LongType()))
    def _sign_batch(hash_arrays: pd.Series) -> pd.Series:
        # r6: one batch-wide (k, Σn) matrix op + segment-min (reduceat)
        # instead of a small numpy op per document — same permutations,
        # same values, ~10× less per-doc dispatch overhead
        empty = [int(_MERSENNE31)] * len(a)
        lens = np.fromiter((0 if h is None else len(h)
                            for h in hash_arrays), dtype=np.int64,
                           count=len(hash_arrays))
        if lens.sum() == 0:
            return pd.Series([empty] * len(hash_arrays))
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64)
             for h in hash_arrays if h is not None and len(h)])
        # fold the signed-64-bit xxhash to 31 bits via uint64 mod-prime
        x31 = (flat.astype(np.uint64) % np.uint64(_MERSENNE31)) \
            .astype(np.int64)
        # (k, Σn) int64: a*x < 2^62, + b safe — native int64 throughout
        sig = (a[:, None] * x31[None, :] + b[:, None]) % _MERSENNE31
        nonempty = lens > 0
        offsets = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
        mins = np.minimum.reduceat(sig, offsets, axis=1)  # (k, #nonempty)
        out = [empty] * len(hash_arrays)
        for i, m in zip(np.nonzero(nonempty)[0], mins.T):
            out[i] = m.tolist()
        return pd.Series(out)

    return _sign_batch


def minhash_signatures(df: DataFrame, text: str = "text",
                       id_col: str = "doc_id", *, num_hashes: int = 128,
                       shingle_n: int = 5, seed: int = 42) -> DataFrame:
    """(id, signature:array<long>) — vectorized universal-hash minhash.

    The per-doc shingle set is hashed JVM-side (xxhash64, see
    :func:`_hash_sets`) and signed by :func:`_sign`. Rows keep their id
    as given, NULL included."""
    sign = _sign(num_hashes, seed)
    return (_hash_sets(df, text, id_col, shingle_n)
            .select(id_col, sign(F.col("_hs")).alias("signature")))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id", *,
                        bands: int = 16, max_bucket: int = 50) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) from shared
    buckets. ``max_bucket`` caps degenerate buckets (boilerplate): only
    the ``max_bucket`` lowest ids of a bucket pair within it. The cap is
    silent — nothing counts or logs the ids it drops — and costs recall
    only for pairs that share no other, uncapped bucket."""
    sig_len = F.size("signature")
    rows_col = (sig_len / bands).cast("int")
    banded = (
        signatures
        .select(F.col(id_col),
                F.posexplode(F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bnd: F.xxhash64(F.concat_ws(
                        ",", F.transform(
                            F.slice(F.col("signature"),
                                    bnd * rows_col + 1, rows_col),
                            lambda v: v.cast("string"))))))
                .alias("band_id", "band_hash")))
    w = Window.partitionBy("band_id", "band_hash").orderBy(id_col)
    capped = (banded.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= max_bucket))
    # r6: the old shape self-joined ``capped`` with itself on the bucket
    # key — evaluating the banding+window subtree TWICE and paying two
    # more exchanges (join + distinct). Same pair set, one subtree pass:
    # collect each capped bucket's ids (≤ max_bucket, so bounded memory —
    # the cap happens BEFORE the collect, degenerate buckets never
    # materialize whole) and expand a < b combinations in-place. The
    # groupBy key equals the window partition key, so the aggregation
    # reuses the window's exchange — no new shuffle before ``distinct``.
    buckets = (capped.groupBy("band_id", "band_hash")
               .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
               .filter(F.size("_ids") >= 2))
    combos = F.flatten(F.transform(
        "_ids",
        lambda a, i: F.transform(
            F.slice(F.col("_ids"), i + F.lit(2), F.size("_ids")),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))
    return (buckets.select(F.explode(combos).alias("_p"))
            .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            # a repeated id sorts next to its twin: (x, x) is not a pair
            .filter(F.col("a") < F.col("b"))
            .distinct())


def dedup_minhash_lsh(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id", *, num_hashes: int = 128,
                      bands: int = 16, shingle_n: int = 5,
                      threshold: float = 0.8, seed: int = 42) -> DataFrame:
    """Full near-dup pipeline → verified duplicate pairs (a < b).

    The input and the shingle kernel run once. One relation
    ``(id, _hs)`` — the distinct shingle-hash set per doc — is computed,
    rows with a NULL id are dropped (they can never pair), and it is
    hash-partitioned on the id. Banding signs ``_hs`` above that
    exchange; both verify sides read the same relation, so all three
    consumers share one id exchange (the plan shows it as
    ``ReusedExchange``). The hash sets cross that shuffle instead of the
    kernel re-running per consumer.

    Two details keep the exchange shareable: the signature is computed
    ABOVE the repartition (below it, column pruning would split the
    relation into a signature-only and a set-only branch), and the NULL
    filter sits BELOW it (otherwise the joins' inferred ``isnotnull``
    lands under the verify branches only). Either way the branches stop
    being identical and nothing is reused.

    Verify is per PAIR: ``size(array_intersect(ha, hb))`` over each
    side's distinct hash set, which equals the exploded shape's
    countDistinct of shared hashes — including under (astronomically
    unlikely) hash collisions, which both shapes fold the same way.
    """
    sets = (_hash_sets(df, text, id_col, shingle_n)
            .filter(F.col(id_col).isNotNull())
            .repartition(id_col))
    sign = _sign(num_hashes, seed)
    sigs = sets.select(id_col, sign(F.col("_hs")).alias("signature"))
    pairs = lsh_candidate_pairs(sigs, id_col, bands=bands)
    a_side = sets.select(F.col(id_col).alias("a"), F.col("_hs").alias("_ha"))
    b_side = sets.select(F.col(id_col).alias("b"), F.col("_hs").alias("_hb"))
    inter = F.size(F.array_intersect("_ha", "_hb")).cast("long")
    na = F.size("_ha").cast("long")
    nb = F.size("_hb").cast("long")
    out = (pairs.join(a_side, "a").join(b_side, "b")
           .select("a", "b", inter.alias("inter"),
                   (na + nb - inter).alias("union_"))
           # the exploded shape only materialized pairs with >= 1 shared
           # hash (inner join) — keep that contract at any threshold
           .filter(F.col("inter") > 0)
           .withColumn("jaccard",
                       F.round(F.col("inter") / F.col("union_"), 6)))
    return out.filter(F.col("jaccard") >= threshold).select(
        "a", "b", "inter", "union_", "jaccard")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, no sketch — the oracle-checkable variant)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text: str = "text",
                        id_col: str = "doc_id", *, n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """All-pairs exact word-n-gram Jaccard ≥ τ via shingle inverted index.

    Quadratic in the worst case — use for modest corpora or as the verify
    stage; the LSH variant is the scale path. Integer outputs (inter/union)
    keep it oracle-checkable bit-for-bit.

    ``max_doc_freq``: hot-shingle cap for skewed corpora — a boilerplate
    shingle shared by d documents contributes d² rows to the pair join (the
    LSH path caps buckets via ``max_bucket``; this is the equivalent guard).
    Shingles with document frequency > τ_df are dropped from the
    INTERSECTION counts only; per-doc sizes (union denominators) still count
    them, so reported Jaccard is a lower bound — a df≫1 shingle carries ~0
    discriminating signal anyway. Default None = exact semantics (the
    oracle-checked configuration). Not silent: the cap is an explicit
    parameter.
    """
    sh = explode_shingle_hashes(df, text, id_col, n=n).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = sh
    if max_doc_freq is not None:
        dfreq = (sh.groupBy("shingle_hash")
                 .agg(F.count(F.lit(1)).alias("_df")))
        joinable = (sh.join(dfreq.filter(F.col("_df") <= max_doc_freq)
                            .select("shingle_hash"), "shingle_hash"))
    a = joinable.select(F.col(id_col).alias("a"), "shingle_hash")
    b = joinable.select(F.col(id_col).alias("b"), "shingle_hash")
    inter = (a.join(b, "shingle_hash").filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.select(F.col(id_col).alias("a"),
                               F.col("n_sh").alias("na")), "a")
            .join(sizes.select(F.col(id_col).alias("b"),
                               F.col("n_sh").alias("nb")), "b")
            .withColumn("union_", F.col("na") + F.col("nb") - F.col("inter"))
            .filter(F.col("inter").cast("double")
                    >= F.col("union_") * threshold)
            .select("a", "b", "inter", "union_"))


def embedding_neardup_pairs(df: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            dim: int | None = None, bits: int = 8,
                            tables: int = 4, seed: int = 42,
                            exact: bool = False) -> DataFrame:
    """Tier-4 near-dup: (a, b) pairs with cosine ≥ τ over an embedding
    column.

    ``exact=True``: all-pairs crossJoin + cosine — the quadratic oracle
    baseline (|n|² pairs; fine for verification corpora).

    ``exact=False`` (default): SRP-LSH bucket-collision candidates → exact
    cosine verify of candidates only — the 100 TB path. The shuffle is
    keyed on (table, bucket); cost is Σ bucket², not n². Bit-identical
    vectors share every bucket in every table, so exact-duplicate recall is
    1 deterministically; near-identical recall tunes with (bits, tables)
    and is pinned against the exact baseline in tests.

    ``dim`` is required for the LSH path (hyperplane shapes); pass it
    explicitly — no ``.first()`` at plan-build time.
    """
    from fess_ds_s3_spark.operators.similarity import cosine, srp_bucket_udf

    if exact:
        a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
        cand = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    else:
        if dim is None:
            raise ValueError("dim is required for the LSH path")
        bucketize = srp_bucket_udf(dim, bits=bits, tables=tables, seed=seed)
        hashed = df.select(F.col(id_col), F.col(vec_col),
                           F.explode(bucketize(F.col(vec_col))).alias("_b"))
        left = hashed.select(F.col("_b"), F.col(id_col).alias("a"),
                             F.col(vec_col).alias("va"))
        right = hashed.select(F.col("_b"), F.col(id_col).alias("b"),
                              F.col(vec_col).alias("vb"))
        cand = (left.join(right, "_b").filter(F.col("a") < F.col("b"))
                .select("a", "va", "b", "vb").distinct())
    scored = cand.select(
        "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
    return scored.filter(F.col("cos") >= threshold).select("a", "b")


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text: str = "text",
            id_col: str = "doc_id", token_hash=None) -> DataFrame:
    """64-bit Charikar simhash per document (vectorized pandas UDF: token
    hash bit-votes). Blocking keys are derived by
    :func:`simhash_candidate_pairs` from the requested radius.

    ``token_hash``: Column→Column token hash, default ``xxhash64`` (fastest,
    engine mode). Pass a portable hash (e.g. md5-derived, see
    ``md5_token_hash60``) when the signatures must be reproducible outside
    Spark — with a portable hash the ENTIRE simhash pipeline is
    oracle-checkable, since pigeonhole blocking is recall-complete at the
    requested radius and therefore equals all-pairs-within-radius."""

    @pandas_udf(LongType())
    def _simhash(token_hashes: pd.Series) -> pd.Series:
        out = []
        for hashes in token_hashes:
            if hashes is None or len(hashes) == 0:
                out.append(0)
                continue
            h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
            # cast the bit matrix to SIGNED before the ±1 vote: in uint64,
            # 0*2-1 underflows to 2^64-1 and the majority vote silently
            # degenerates to "any bit set" (caught by the DuckDB oracle)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            sig = np.uint64(0)
            for i in np.where(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out.append(int(sig.astype(np.int64)))
        return pd.Series(out)

    hash_fn = token_hash or (lambda w: F.xxhash64(w))
    tokens = F.transform(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text))),
                                 r"\s+", " "), " "),
        hash_fn)
    return df.select(F.col(id_col), _simhash(tokens).alias("simhash"))


def md5_token_hash60(w: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5, as a long.

    60 bits keep the value inside int64; simhash bits 60–63 then always
    vote negative (deterministically 0) on BOTH engines. md5 exists in
    Spark and DuckDB alike, so signatures built with this hash are
    bit-reproducible in plain SQL (used by the driver gate's simhash
    oracle; xxhash64 stays the default for throughput)."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def _simhash_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per pigeonhole block: 64 bits split into
    ``max_hamming + 1`` contiguous blocks. If two signatures differ in at
    most ``max_hamming`` bits, at least one block is bit-identical."""
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    base, extra = divmod(64, n_blocks)
    blocks, shift = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        blocks.append((shift, width))
        shift += width
    return blocks


def simhash_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id", *,
                            max_hamming: int = 3,
                            max_block: int | None = None) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking sized to the radius: the 64-bit signature is split
    into ``max_hamming + 1`` blocks, so any qualifying pair shares at least
    one exact block — candidate recall is complete at the requested radius
    (completeness vs brute force is pinned in tests/test_dedup.py at radii
    0, 3, and 12). One shuffle keyed on ``(block_id, block_value)`` — the
    same LSH-band shape as :func:`lsh_candidate_pairs` — never N separate
    self-joins. ``max_block`` optionally caps degenerate blocks (boilerplate
    corpora) at the cost of recall, mirroring LSH's ``max_bucket``.
    """
    blocks = _simhash_blocks(max_hamming)
    keys = F.array(*[
        F.shiftrightunsigned("simhash", shift)
        # width 64 (radius 0) → all-ones mask, as int64 (-1)
        .bitwiseAND(F.lit((1 << width) - 1 if width < 64 else -1))
        for shift, width in blocks])
    banded = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(keys).alias("block_id", "block_val"))
    if max_block is not None:
        w = Window.partitionBy("block_id", "block_val").orderBy(id_col)
        banded = (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= max_block).drop("_rn"))
    left = banded.select("block_id", "block_val", F.col(id_col).alias("a"),
                         F.col("simhash").alias("sig_a"))
    right = banded.select("block_id", "block_val", F.col(id_col).alias("b"),
                          F.col("simhash").alias("sig_b"))
    pairs = (left.join(right, ["block_id", "block_val"])
             .filter(F.col("a") < F.col("b"))
             .select("a", "b", "sig_a", "sig_b").distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))
