"""Similarity search over embedding columns (array<float>).

Three paths:

- **Exact cosine top-k** (:func:`brute_force_topk`, and its int8 twin
  :func:`quantized_topk`) — one plan: the query side is collected to the
  driver, one numpy matmul per Arrow batch inside ``mapInArrow`` scores
  every corpus row against every query and keeps only the rows that can
  still reach the rounded top-k; the final score and rank come from
  Spark expressions. The all-pairs ``crossJoin`` plan it replaces is the
  reference oracle in ``tests/test_similarity.py``.
- **LSH-bucketed ANN (random hyperplanes)** — the scale path: sign-random-
  projection buckets (b bits per table, t tables); candidates = bucket
  collisions in any table; exact re-rank of candidates only. Recall tunes
  with (b, t); cost drops from |Q|×|C| to sum of bucket sizes.
- **IVF (k-means-lite)** — coarse quantizer via deterministic seeded
  centroid init + a few Lloyd iterations (all DataFrame ops), probe the
  ``nprobe`` nearest centroids per query.

All vector math stays in the JVM (higher-order functions) or numpy inside
Arrow batches — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

#: candidate-pruning slack around the 6-dp rounded score (see the
#: containment proof below): twice the half-up rounding radius (5e-7
#: each side) plus generous room for the one-ulp-level representation
#: error of the comparison values. Any pair whose unrounded score trails
#: the k-th best by more than this margin cannot outrank it after
#: rounding.
_ROUND6_MARGIN = 2.5e-6

#: Largest query side the exact top-k accepts. The query side is
#: collected to the driver and broadcast whole to every kernel task, so
#: it must stay a small side: 20k rows of 64-dim vectors are ~10 MB of
#: float64 (plus the collected Python lists). The gate's largest query
#: side is 1/50 of ``embeddings`` (40 rows at sf0.1, ~400 at sf1.0);
#: larger query sets belong to the bucketed candidate generators
#: (:func:`ann_lsh_topk`, :func:`ivf_topk`).
_MAX_QUERY_ROWS = 20_000


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float|double> columns (float64 acc)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank_top_k(scored: DataFrame, k: int, q_id: str, c_id: str,
                score: str) -> DataFrame:
    """Per query, the first ``k`` rows by ``score`` desc, ties broken by
    ``c_id`` asc (a total order → deterministic output) →
    (q_id, c_id, rank, the other columns of ``scored``)."""
    w = Window.partitionBy(q_id).orderBy(F.col(score).desc(),
                                         F.col(c_id).asc())
    rest = [c for c in scored.columns if c not in (q_id, c_id)]
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, c_id, "rank", *rest))


def _cosine_scored(cand: DataFrame, q_id: str, c_id: str, q_vec: str,
                   c_vec: str) -> DataFrame:
    """(q_id, c_id, cos): the 6-dp rounded cosine every cosine top-k
    ranks by."""
    return cand.select(
        q_id, c_id,
        F.round(cosine(F.col(q_vec), F.col(c_vec)), 6).alias("cos"))


# ---------------------------------------------------------------------------
# exact top-k: numpy candidate pruning inside mapInArrow
# ---------------------------------------------------------------------------
# Scoring every (query, corpus) pair with an interpreted
# ``aggregate(zip_with(...))`` fold under a BroadcastNestedLoopJoin is
# JVM row-at-a-time bulk math. Instead one numpy matmul per Arrow batch
# scores all pairs, and per query only the rows that can still reach the
# rounded top-k are emitted — a provable superset:
#
#   Containment proof. Let y be the unrounded score used for pruning and
#   x the engine's unrounded score, with |y - x| <= e (bit-equal for the
#   quantized path, <= ~3e-14 for float cosine; see the callers). The
#   final ordering is by round(x, 6) desc, id asc, and half-up rounding
#   moves a value by <= 5e-7 (+ ulp). Within any subset of rows (batch /
#   chunk — containment composes over any partitioning of the corpus),
#   let t be the k-th largest finite y. If a pair p is dropped, i.e.
#   y_p < t - M with margin M = 2.5e-6, then for each of the >= k pairs q
#   with y_q >= t:
#     round(x_q) - round(x_p) >= (y_q - y_p) - 2e - 2*(5e-7 + ulp) > 0,
#   so at least k pairs outrank p strictly and p cannot be in the global
#   top-k. Conversely every element ranked above a top-k member is itself
#   in the top-(k-1), hence kept, so row_number() over the pruned set
#   assigns identical ranks. Ties at the threshold are kept (>= t - M
#   keeps them all). Pairs the kernel cannot bound — a null vector, a
#   null element, 0/0 of a zero vector — score NaN: they are always kept
#   and never count toward t, which the proof allows (it only needs k
#   finite pairs above p). The kept rows carry the inputs of the final
#   Spark expression, which computes the same score — NULL included — as
#   the all-pairs plan would, so the output is identical.


def _list_matrix(arr: pa.Array, name: str,
                 dim: int | None = None) -> np.ndarray:
    """(n, dim) float64 matrix from an arrow ``list<float|double>`` column.

    A null vector becomes a NaN row and a null element a NaN entry (their
    scores are NaN, see the proof above). Every non-null vector must have
    ``dim`` elements (or, with ``dim`` None, one common length; a column
    without any non-null vector gives width 1 — all of it is NaN);
    otherwise a ``ValueError`` names column ``name``.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))[valid]
    dims = set(widths.tolist()) | ({dim} if dim is not None else set())
    if len(dims) > 1:
        raise ValueError(f"column {name!r} holds embeddings of differing "
                         f"dims {sorted(dims)}: one dim is required")
    d = dims.pop() if dims else 1
    out = np.full((len(arr), d), np.nan)
    values = arr.flatten().to_numpy(zero_copy_only=False)
    out[valid] = values.astype(np.float64).reshape(len(widths), d)
    return out


def _quantize_np(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric int8 scalar quantization — a 4× memory cut on float32
    embeddings: per vector ``scale = max|x|`` and the fixed-shape IEEE
    double sequence ``floor((x * 127.0) / scale + 0.5)`` per element, so
    codes lie in [-127, 127], reconstruction error is ≤ half a step, and
    every engine that replays the same operand order (the JVM form in the
    tests, the gate's DuckDB oracle) gets bit-identical codes. Zero
    vectors → all-zero codes (explicit branch, no 0/0); ``max`` skips NaN
    (null) elements like ``array_max`` skips nulls. Returns
    ``(codes, sq_norm)`` with codes held as exact small integers in
    float64 (|code| <= 127, so
    a float64 matmul of code matrices accumulates integers far below 2^53
    — every partial sum is exact regardless of summation order); a null
    code (null vector or element) is NaN and makes ``sq_norm`` NaN."""
    if mat.size == 0:
        return mat, np.zeros(len(mat))
    m = np.fmax.reduce(np.abs(mat), axis=1)
    safe = np.where(m == 0.0, 1.0, m)
    codes = np.floor((mat * 127.0) / safe[:, None] + 0.5)
    codes[m == 0.0] = 0.0
    return codes, (codes * codes).sum(axis=1)


def _prune_mask(y: np.ndarray, k: int) -> np.ndarray:
    """Boolean keep-mask over a (rows, queries) score block: per query,
    everything within ``_ROUND6_MARGIN`` of the k-th largest finite
    score. ``-inf`` marks excluded (self) pairs; NaN marks a pair the
    kernel cannot bound, which is always kept and never counts toward the
    threshold."""
    nan = np.isnan(y)
    fin = np.where(nan, -np.inf, y)
    n = fin.shape[0]
    if n > k:
        thr = np.partition(fin, n - k, axis=0)[n - k] - _ROUND6_MARGIN
        keep = fin >= thr[None, :]
    else:
        keep = np.ones_like(fin, dtype=bool)
    return (keep & (fin > -np.inf)) | nan


def _collect_query_side(queries: DataFrame, q_id: str, q_vec: str,
                        exclude_self: bool) -> tuple[pa.Array, pa.Array]:
    """Driver-side collect of the query side as typed arrow arrays
    ``(ids, vectors)``, at most ``_MAX_QUERY_ROWS`` rows (a larger side
    raises ``ValueError``). Under ``exclude_self`` null-id queries are
    dropped: ``q_id != c_id`` is null-rejecting, so they match nothing."""
    if exclude_self:
        queries = queries.filter(F.col(q_id).isNotNull())
    rows = queries.select(q_id, q_vec).limit(_MAX_QUERY_ROWS + 1).collect()
    if len(rows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"exact top-k query side has more than {_MAX_QUERY_ROWS} rows "
            f"(_MAX_QUERY_ROWS): it is collected to the driver; use "
            f"ann_lsh_topk or ivf_topk for large query sets")
    types = [to_arrow_type(queries.schema[c].dataType) for c in (q_id, q_vec)]
    return tuple(pa.array([r[i] for r in rows], type=t)
                 for i, t in enumerate(types))


def _id_field(df: DataFrame, name: str) -> StructField:
    f = df.schema[name]
    return StructField(name, f.dataType, f.nullable)


def _exact_candidates(queries: DataFrame, corpus: DataFrame, block, fields,
                      *, k: int, q_id: str, c_id: str, q_vec: str,
                      c_vec: str, exclude_self: bool) -> DataFrame:
    """The exact top-k candidate kernel shared by :func:`brute_force_topk`
    and :func:`quantized_topk` → (q_id, c_id, *fields): per query, a
    superset of its rounded top-k (containment proof above).

    ``block(qm, q_vecs, cm, c_vecs)`` scores one corpus chunk: ``qm`` and
    ``cm`` are the query and chunk matrices (:func:`_list_matrix`),
    ``q_vecs`` and ``c_vecs`` the arrow vector columns. It returns
    ``(y, emit)``: the (chunk rows, queries) pruning scores and
    ``emit(ri, qj)`` → the arrow columns ``fields`` of the kept pairs.
    An empty query side yields no candidates; dims that differ within
    either side or between the sides raise ``ValueError``."""
    q_ids, q_vecs = _collect_query_side(queries, q_id, q_vec, exclude_self)
    qmat = _list_matrix(q_vecs, q_vec)
    dim = qmat.shape[1] if q_vecs.null_count < len(q_vecs) else None
    q_idarr = np.asarray(q_ids.to_pylist())
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_vecs, qmat))
    if exclude_self:
        # q_id != c_id is null-rejecting: a null-id corpus row matches
        # nothing
        corpus = corpus.filter(F.col(c_id).isNotNull())
    schema = StructType([_id_field(queries, q_id), _id_field(corpus, c_id),
                         *fields])
    names, n_q, kk = schema.fieldNames(), len(q_ids), k
    step = max(1, 4_000_000 // max(n_q, 1))

    def _kernel(batches):
        qid_arr, qv_arr, qm = bc.value
        for batch in batches:
            if not n_q:
                continue
            cid_arr, cv_arr = batch.column(0), batch.column(1)
            cmat = _list_matrix(cv_arr, c_vec, dim)
            if dim is None:  # no query vector: every query row is NaN
                qm = np.full((n_q, cmat.shape[1]), np.nan)
            cids = cid_arr.to_numpy(zero_copy_only=False)
            for s in range(0, len(cmat), step):
                y, emit = block(qm, qv_arr, cmat[s:s + step],
                                cv_arr.slice(s, step))
                if exclude_self:
                    y = np.where(cids[s:s + step][:, None]
                                 == q_idarr[None, :], -np.inf, y)
                ri, qj = np.nonzero(_prune_mask(y, kk))
                if len(ri) == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [qid_arr.take(qj), cid_arr.take(ri + s), *emit(ri, qj)],
                    names=names)

    return corpus.select(c_id, c_vec).mapInArrow(_kernel, schema)


def _cosine_block(qm, q_vecs, cm, c_vecs):
    """Float cosine pruning scores; the kept pairs carry both original
    vectors, so :func:`cosine` computes the final score."""
    with np.errstate(divide="ignore", invalid="ignore"):
        y = (cm @ qm.T) / (np.sqrt((cm * cm).sum(axis=1))[:, None]
                           * np.sqrt((qm * qm).sum(axis=1))[None, :])
    return y, lambda ri, qj: [q_vecs.take(qj), c_vecs.take(ri)]


def brute_force_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 10,
                     q_id: str = "query_id", c_id: str = "vec_id",
                     q_vec: str = "query_vec", c_vec: str = "embedding",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k per query → (query_id, vec_id, rank, cos).

    A numpy matmul per Arrow batch scores every pair and keeps, per
    query, only the rows provably able to reach the rounded top-k
    (containment proof above — the matmul score differs from the
    engine's sequential fold by <= ~2·dim·eps, orders of magnitude under
    the margin). The kept pairs carry their ORIGINAL vectors and the
    final ``cos``/rank math runs through Spark expressions, so the output
    equals the all-pairs plan's. Rank ties break by vec_id.

    Null ids and vectors follow the all-pairs join: under
    ``exclude_self`` null-id rows on either side match nothing; a null
    vector scores NULL and ranks last. An empty query side gives an empty
    result; the query side is capped at ``_MAX_QUERY_ROWS`` rows; dims
    that differ within or between the sides raise ``ValueError``. Zero
    vectors divide by zero, as in the all-pairs plan.
    """
    cand = _exact_candidates(
        queries, corpus, _cosine_block,
        [StructField(q_vec, queries.schema[q_vec].dataType, True),
         StructField(c_vec, corpus.schema[c_vec].dataType, True)],
        k=k, q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec,
        exclude_self=exclude_self)
    return _rank_top_k(_cosine_scored(cand, q_id, c_id, q_vec, c_vec), k,
                       q_id, c_id, "cos")


# ---------------------------------------------------------------------------
# LSH (sign random projection)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(tables, bits, dim)).astype(np.float64)


def srp_bucket_udf(dim: int, *, bits: int = 12, tables: int = 4,
                   seed: int = 42):
    """Returns a pandas UDF: embedding → array of ``tables`` bucket keys."""
    planes = _hyperplanes(dim, bits, tables, seed)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        out = []
        keys = np.empty((len(mat), tables), dtype=np.int64)
        for t in range(tables):
            signs = (mat @ planes[t].T) > 0  # (n, bits)
            keys[:, t] = signs @ weights + (t << 48)  # disjoint per table
        for row in keys:
            out.append([int(v) for v in row])
        return pd.Series(out)

    return _buckets


def ann_lsh_topk(queries: DataFrame, corpus: DataFrame, dim: int, *,
                 k: int = 10, bits: int = 12, tables: int = 4,
                 seed: int = 42, q_id: str = "query_id",
                 c_id: str = "vec_id", q_vec: str = "query_vec",
                 c_vec: str = "embedding",
                 exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: SRP bucket join → exact cosine re-rank of
    candidates. Each side is hashed once; the join key is (bucket)."""
    bucketize = srp_bucket_udf(dim, bits=bits, tables=tables, seed=seed)
    qb = (queries.withColumn("_b", F.explode(bucketize(F.col(q_vec)))))
    cb = (corpus.withColumn("_b", F.explode(bucketize(F.col(c_vec)))))
    cand = (qb.join(cb, "_b")
            .select(q_id, c_id, q_vec, c_vec).distinct())
    if exclude_self:
        cand = cand.filter(F.col(q_id) != F.col(c_id))
    return _rank_top_k(_cosine_scored(cand, q_id, c_id, q_vec, c_vec), k,
                       q_id, c_id, "cos")


# ---------------------------------------------------------------------------
# IVF (coarse-quantizer probe)
# ---------------------------------------------------------------------------

def ivf_assign(corpus: DataFrame, centroids: DataFrame, *,
               c_id: str = "vec_id", c_vec: str = "embedding",
               cent_id: str = "centroid_id",
               cent_vec: str = "centroid") -> DataFrame:
    """Assign each vector to its nearest centroid (by cosine)."""
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        c_id, cent_id, cosine(F.col(c_vec), F.col(cent_vec)).alias("cos"))
    w = Window.partitionBy(c_id).orderBy(F.col("cos").desc(),
                                         F.col(cent_id).asc())
    return (scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1).select(c_id, cent_id))


def train_centroids(corpus: DataFrame, n_centroids: int, *, iters: int = 3,
                    seed: int = 42, c_id: str = "vec_id",
                    c_vec: str = "embedding") -> DataFrame:
    """Deterministic k-means-lite: seed centroids by hashed sample, then
    ``iters`` Lloyd steps, all as DataFrame aggregations. Centroid ids come
    from a row_number over the (deterministic) hash order — never
    monotonically_increasing_id, whose values depend on partition layout."""
    w = Window.orderBy("_h", c_id)  # n_centroids rows only — single task OK
    cents = (corpus
             .withColumn("_h", F.pmod(F.xxhash64(F.lit(seed), F.col(c_id)),
                                      F.lit(1_000_000)))
             .orderBy("_h", c_id).limit(n_centroids)
             .select((F.row_number().over(w) - 1).alias("centroid_id"),
                     F.col(c_vec).alias("centroid")))
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, c_id=c_id, c_vec=c_vec)
        agg = (corpus.join(assigned, c_id)
               .select("centroid_id", F.posexplode(c_vec)
                       .alias("pos", "val"))
               .groupBy("centroid_id", "pos")
               .agg(F.avg("val").alias("mean")))
        cents = (agg.groupBy("centroid_id")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "mean")))
                      .alias("pm"))
                 .select("centroid_id",
                         F.transform("pm", lambda s: s["mean"].cast("float"))
                         .alias("centroid")))
    return cents


def ivf_topk(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, *,
             k: int = 10, nprobe: int = 2, q_id: str = "query_id",
             c_id: str = "vec_id", q_vec: str = "query_vec",
             c_vec: str = "embedding",
             exclude_self: bool = True) -> DataFrame:
    """IVF probe: nearest ``nprobe`` centroids per query → exact re-rank
    within those inverted lists only."""
    assigned = ivf_assign(corpus, centroids, c_id=c_id, c_vec=c_vec)
    listed = corpus.join(assigned, c_id)
    q_scored = queries.crossJoin(F.broadcast(centroids)).select(
        q_id, q_vec, "centroid_id",
        cosine(F.col(q_vec), F.col("centroid")).alias("ccos"))
    w = Window.partitionBy(q_id).orderBy(F.col("ccos").desc(),
                                         F.col("centroid_id").asc())
    probes = (q_scored.withColumn("_r", F.row_number().over(w))
              .filter(F.col("_r") <= nprobe).select(q_id, q_vec,
                                                    "centroid_id"))
    cand = probes.join(listed, "centroid_id")
    if exclude_self:
        cand = cand.filter(F.col(q_id) != F.col(c_id))
    return _rank_top_k(_cosine_scored(cand, q_id, c_id, q_vec, c_vec), k,
                       q_id, c_id, "cos")


# ---------------------------------------------------------------------------
# int8 symmetric quantization (scalar quantizer — the 100 TB memory path)
# ---------------------------------------------------------------------------

def _quantized_block(qm, q_vecs, cm, c_vecs):
    """Quantized cosine pruning scores, bit-equal to the engine's
    unrounded ``qcos``: the code matmul is exact (see
    :func:`_quantize_np`) and the float steps are the same IEEE ops in the
    same order. The kept pairs carry the exact integer (qdot, ‖q‖², ‖c‖²)
    the final Spark expression reads, null where a code is null."""
    qc, qna = _quantize_np(qm)
    cc, cnb = _quantize_np(cm)
    dots = cc @ qc.T
    with np.errstate(divide="ignore", invalid="ignore"):
        y = dots / (np.sqrt(cnb)[:, None] * np.sqrt(qna)[None, :])
    # the explicit zero-vector branch, which also wins over a null side
    y[cnb == 0, :] = 0.0
    y[:, qna == 0] = 0.0

    def emit(ri, qj):
        return [pa.array(v, from_pandas=True).cast(pa.int64())
                for v in (dots[ri, qj], qna[qj], cnb[ri])]
    return y, emit


def quantized_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 10,
                   q_id: str = "query_id", c_id: str = "vec_id",
                   q_vec: str = "query_vec", c_vec: str = "embedding",
                   exclude_self: bool = True) -> DataFrame:
    """Top-k by quantized cosine: quantize both sides to int8 codes,
    score with ``dot(codes) / (√‖qc‖² · √‖cc‖²)`` — the dot and both
    squared norms are EXACT int64, and the only float steps (two
    correctly-rounded IEEE sqrt, one multiply, one divide, the 6-dp
    round) are fixed-shape, so every engine ranks identically and the
    gate oracle reproduces the output bit-for-bit.  Zero vectors score
    0 through an explicit branch (Spark's ``0/0 → NaN`` vs DuckDB's
    ``NULL`` never enters the plan).

    Scoring the codes' cosine rather than the raw inner product makes
    the quantizer's per-vector scale cancel out — the ranking tracks
    true cosine up to quantization error (recall vs
    :func:`brute_force_topk` pinned in tests).  At 100 TB this is the
    scan/re-rank kernel: the corpus side reads 4× less than float32,
    and it composes with the bucketed candidate generators
    (:func:`ann_lsh_topk`, :func:`ivf_topk`).

    The plan is :func:`brute_force_topk`'s: one exact numpy matmul per
    Arrow batch with a provable rounded-top-k candidate cut (containment
    proof above), then the Spark ``qcos`` expression and rank. Null ids,
    the empty query side, the query-side cap and differing dims behave as
    there; a null vector gives null ``qdot``/``qcos`` (ranked last) unless
    the other side is a zero vector, which scores 0.0.
    """
    scored = _exact_candidates(
        queries, corpus, _quantized_block,
        [StructField(c, LongType(), True) for c in ("qdot", "_na", "_nb")],
        k=k, q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec,
        exclude_self=exclude_self)
    qcos = (F.when((F.col("_na") == 0) | (F.col("_nb") == 0), F.lit(0.0))
            .otherwise(F.round(
                F.col("qdot").cast("double")
                / (F.sqrt(F.col("_na").cast("double"))
                   * F.sqrt(F.col("_nb").cast("double"))), 6)))
    scored = scored.select(q_id, c_id, "qdot", qcos.alias("qcos"))
    return _rank_top_k(scored, k, q_id, c_id, "qcos")
