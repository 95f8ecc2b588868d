"""Similarity search: brute-force exactness, LSH/IVF recall vs brute force,
and the exact top-k kernel against the all-pairs reference plans."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, LongType, StructField,
                               StructType)

from fess_ds_s3_spark.operators import similarity

DIM = 16


@pytest.fixture()
def corpus(spark):
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(200, DIM)).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(200)]
    schema = StructType([StructField("vec_id", LongType(), False),
                         StructField("embedding", ArrayType(FloatType()),
                                     False)])
    return spark.createDataFrame(rows, schema)


def _queries(corpus, n=5):
    return (corpus.filter(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def _numpy_topk(corpus_rows, k=10, n_queries=5):
    ids = np.array([r.vec_id for r in corpus_rows])
    mat = np.array([r.embedding for r in corpus_rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    expected = {}
    for qi in range(n_queries):
        q = mat[list(ids).index(qi)]
        sims = mat @ q
        order = sorted(
            ((round(s, 6), -i) for i, s in zip(ids, sims) if i != qi),
            reverse=True)
        expected[qi] = [int(-ni) for _, ni in order[:k]]
    return expected


class TestBruteForce:
    def test_matches_numpy(self, spark, corpus):
        rows = corpus.collect()
        expected = _numpy_topk(rows, k=10)
        got = similarity.brute_force_topk(
            _queries(corpus), corpus, k=10).collect()
        by_q = {}
        for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append(r.vec_id)
        assert by_q == expected

    def test_deterministic_under_partitioning(self, spark, corpus):
        a = similarity.brute_force_topk(_queries(corpus), corpus, k=5)
        b = similarity.brute_force_topk(
            _queries(corpus.repartition(13)), corpus.repartition(13), k=5)
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))


class TestAnnLsh:
    def test_recall_vs_brute_force(self, spark, corpus):
        brute = similarity.brute_force_topk(_queries(corpus), corpus, k=5)
        ann = similarity.ann_lsh_topk(_queries(corpus), corpus, DIM, k=5,
                                      bits=6, tables=12)
        b = {(r.query_id, r.vec_id) for r in brute.collect()}
        a = {(r.query_id, r.vec_id) for r in ann.collect()}
        recall = len(a & b) / len(b)
        assert recall >= 0.6  # 12 tables × 6 bits on 16-dim gaussian data

    def test_candidates_subset_scored_exactly(self, spark, corpus):
        """ANN scores must equal brute-force scores for returned pairs."""
        brute = {(r.query_id, r.vec_id): r.cos
                 for r in similarity.brute_force_topk(
                     _queries(corpus), corpus, k=200).collect()}
        ann = similarity.ann_lsh_topk(_queries(corpus), corpus, DIM, k=5,
                                      bits=6, tables=12).collect()
        for r in ann:
            assert brute[(r.query_id, r.vec_id)] == pytest.approx(
                r.cos, abs=1e-6)


class TestIvf:
    def test_ivf_returns_k_and_reasonable_recall(self, spark, corpus):
        cents = similarity.train_centroids(corpus, 8, iters=2)
        assert cents.count() == 8
        brute = similarity.brute_force_topk(_queries(corpus), corpus, k=5)
        ivf = similarity.ivf_topk(_queries(corpus), corpus, cents, k=5,
                                  nprobe=4)
        b = {(r.query_id, r.vec_id) for r in brute.collect()}
        a = {(r.query_id, r.vec_id) for r in ivf.collect()}
        assert len(a & b) / len(b) >= 0.5
        per_q = ivf.groupBy("query_id").count().collect()
        assert all(r["count"] == 5 for r in per_q)


def quantize_embeddings(df, *, vec="embedding", id_col="vec_id",
                        codes_col="codes", scale_col="q_scale"):
    """JVM form of the int8 symmetric quantizer, the oracle for
    :func:`similarity._quantize_np`: per vector ``scale = max|v|`` and
    ``code_i = floor(v_i * 127 / scale + 0.5)``, zero vectors → all-zero
    codes. The same fixed-shape IEEE double steps, so both forms give
    bit-identical codes (the gate's DuckDB oracle replays them too)."""
    v = F.col(vec)
    m = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    code = F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(127.0) / m
                             + F.lit(0.5)).cast("int"))
    zeros = F.transform(v, lambda x: F.lit(0))
    return df.select(
        F.col(id_col), m.alias(scale_col),
        F.when(m == 0.0, zeros).otherwise(code).alias(codes_col))


def quantized_dot(a, b):
    """Exact int64 inner product of two int8-code arrays (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _np_codes(df, vec="embedding", id_col="vec_id"):
    """{id: (vector, kernel codes, kernel squared norm)} of a frame."""
    rows = df.select(id_col, vec).collect()
    mat = np.array([r[vec] for r in rows], dtype=np.float64)
    codes, sq_norm = similarity._quantize_np(mat)
    return {r[id_col]: (mat[i], codes[i], sq_norm[i])
            for i, r in enumerate(rows)}


def _assert_kernel_matches_jvm(df):
    jvm = {r.vec_id: r.codes for r in quantize_embeddings(df).collect()}
    for vid, (_v, codes, sq_norm) in _np_codes(df).items():
        assert codes.tolist() == [float(c) for c in jvm[vid]]
        assert sq_norm == sum(c * c for c in jvm[vid])


class TestQuantized:
    def test_codes_bounded_and_extreme_maps_to_127(self, spark, corpus):
        for _v, codes, _n in _np_codes(corpus).values():
            assert max(abs(codes)) == 127
            assert all(-127 <= c <= 127 for c in codes)
        _assert_kernel_matches_jvm(corpus)

    def test_reconstruction_error_bound(self, spark, corpus):
        for v, codes, _n in _np_codes(corpus).values():
            step = np.abs(v).max() / 127.0
            for x, c in zip(v, codes):
                assert abs(x - c * step) <= step / 2 + 1e-9

    def test_zero_vector(self, spark):
        df = spark.createDataFrame(
            [(0, [0.0] * DIM), (1, [1.0] + [0.0] * (DIM - 1))],
            "vec_id long, embedding array<float>")
        qz = _np_codes(df)
        assert set(qz[0][1]) == {0.0} and qz[0][2] == 0.0
        assert qz[1][1][0] == 127
        _assert_kernel_matches_jvm(df)
        # zero vector scores 0.0 (explicit branch, no NaN)
        q = df.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec"))
        out = similarity.quantized_topk(q, df, k=2).collect()
        assert all(r.qcos == 0.0 for r in out if 0 in (r.query_id,
                                                       r.vec_id))

    def test_recall_vs_brute_force(self, spark, corpus):
        k = 10
        bf = similarity.brute_force_topk(_queries(corpus), corpus,
                                         k=k).collect()
        qt = similarity.quantized_topk(_queries(corpus), corpus,
                                       k=k).collect()
        exact = {(r.query_id, r.vec_id) for r in bf}
        quant = {(r.query_id, r.vec_id) for r in qt}
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.85, recall

    def test_deterministic_under_repartition(self, spark, corpus):
        a = sorted((r.query_id, r.vec_id, r.rank, r.qdot, r.qcos)
                   for r in similarity.quantized_topk(
                       _queries(corpus), corpus, k=5).collect())
        b = sorted((r.query_id, r.vec_id, r.rank, r.qdot, r.qcos)
                   for r in similarity.quantized_topk(
                       _queries(corpus.repartition(11)),
                       corpus.repartition(13), k=5).collect())
        assert a == b


def _rank(scored, k, score, *cols):
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(),
                                               F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", *cols, score))


def allpairs_brute_topk(queries, corpus, *, k, exclude_self=True):
    """Reference plan for :func:`similarity.brute_force_topk`: every
    (query, corpus) pair through a crossJoin, scored by the JVM fold."""
    joined = queries.crossJoin(corpus)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("vec_id"))
    scored = joined.select(
        "query_id", "vec_id",
        F.round(similarity.cosine(F.col("query_vec"), F.col("embedding")),
                6).alias("cos"))
    return _rank(scored, k, "cos")


def allpairs_quantized_topk(queries, corpus, *, k, exclude_self=True):
    """Reference plan for :func:`similarity.quantized_topk`: both sides
    quantized in the JVM, integer norms per row, a crossJoin of all
    pairs, the exact int64 code dot per pair."""
    qq = quantize_embeddings(
        queries, vec="query_vec", id_col="query_id", codes_col="_qc",
        scale_col="_qs").withColumn(
            "_na", quantized_dot(F.col("_qc"), F.col("_qc")))
    cq = quantize_embeddings(
        corpus, codes_col="_cc", scale_col="_cs").withColumn(
            "_nb", quantized_dot(F.col("_cc"), F.col("_cc")))
    joined = cq.crossJoin(F.broadcast(qq))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("vec_id"))
    qcos = (F.when((F.col("_na") == 0) | (F.col("_nb") == 0), F.lit(0.0))
            .otherwise(F.round(
                F.col("qdot").cast("double")
                / (F.sqrt(F.col("_na").cast("double"))
                   * F.sqrt(F.col("_nb").cast("double"))), 6)))
    scored = joined.select(
        "query_id", "vec_id",
        quantized_dot(F.col("_qc"), F.col("_cc")).alias("qdot"),
        "_na", "_nb").select("query_id", "vec_id", "qdot",
                             qcos.alias("qcos"))
    return _rank(scored, k, "qcos", "qdot")


KERNELS = [(similarity.brute_force_topk, allpairs_brute_topk),
           (similarity.quantized_topk, allpairs_quantized_topk)]


def _rows(df):
    return Counter(map(tuple, df.collect()))


def _assert_equals_allpairs(queries, corpus, k, kernels=KERNELS):
    for fast, ref in kernels:
        for exclude_self in (True, False):
            got = fast(queries, corpus, k=k, exclude_self=exclude_self)
            want = ref(queries, corpus, k=k, exclude_self=exclude_self)
            assert _rows(got) == _rows(want), (fast.__name__, exclude_self)


Q_SCHEMA = "query_id long, query_vec array<float>"
C_SCHEMA = "vec_id long, embedding array<float>"


def _frame(spark, rows, ddl):
    """(id, vector) rows as a literal relation: built in the JVM, so
    scanning it starts no Python worker (a ``createDataFrame`` list
    does), which keeps the generated-input tests fast."""
    empty = spark.createDataFrame([], ddl)
    if not rows:
        return empty
    (id_name, id_type), (vec_name, vec_type) = [
        (f.name, f.dataType) for f in empty.schema.fields]
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(i).cast(id_type).alias(id_name),
                 (F.lit(None) if v is None else F.array(*map(F.lit, v)))
                 .cast(vec_type).alias(vec_name))
        for i, v in rows])))


def _small(spark, corpus):
    return _frame(spark, [(r.vec_id, r.embedding) for r in
                          corpus.filter(F.col("vec_id") < 30).collect()],
                  C_SCHEMA)


class TestPrunedTopkEquivalence:
    """The numpy-pruned top-k kernel must be bit-identical to the
    all-pairs reference plans above — including score ties broken by
    vec_id, zero vectors, null ids and vectors, and arbitrary
    partitioning."""

    def test_quantized_prune_equals_allpairs(self, spark, corpus):
        a = sorted(map(tuple, similarity.quantized_topk(
            _queries(corpus), corpus, k=7).collect()))
        b = sorted(map(tuple, allpairs_quantized_topk(
            _queries(corpus), corpus, k=7).collect()))
        assert a == b

    def test_brute_prune_equals_allpairs(self, spark, corpus):
        a = sorted(map(tuple, similarity.brute_force_topk(
            _queries(corpus), corpus, k=7).collect()))
        b = sorted(map(tuple, allpairs_brute_topk(
            _queries(corpus), corpus, k=7).collect()))
        assert a == b

    def test_ties_and_zero_vectors(self, spark, corpus):
        # clones create exact score ties (broken by vec_id) straddling the
        # k boundary; a zero vector exercises quantized's explicit 0-score
        # branch (brute force's cosine divides by zero for zero vectors in
        # BOTH plans under ANSI mode — equally unsupported, so ties only)
        clones = corpus.select((F.col("vec_id") + 1000).alias("vec_id"),
                               "embedding")
        zero = spark.createDataFrame([(5000, [0.0] * DIM)], C_SCHEMA)
        tied = corpus.unionByName(clones).repartition(9)
        a = sorted(map(tuple, similarity.brute_force_topk(
            _queries(corpus), tied, k=5).collect()))
        b = sorted(map(tuple, allpairs_brute_topk(
            _queries(corpus), tied, k=5).collect()))
        assert a == b
        tied_z = tied.unionByName(zero).repartition(7)
        a = sorted(map(tuple, similarity.quantized_topk(
            _queries(corpus), tied_z, k=5).collect()))
        b = sorted(map(tuple, allpairs_quantized_topk(
            _queries(corpus), tied_z, k=5).collect()))
        assert a == b

    def test_empty_and_null_query_side_match_allpairs(self, spark, corpus):
        empty = _queries(corpus).filter(F.col("query_id") < 0)
        assert similarity.quantized_topk(empty, corpus, k=3).count() == 0
        assert similarity.brute_force_topk(empty, corpus, k=3).count() == 0
        small = _small(spark, corpus)
        nulls = _frame(spark, [(None, [1.0] * DIM), (7, None), (None, None)],
                       Q_SCHEMA)
        _assert_equals_allpairs(_queries(small).unionByName(nulls), small, 3)

    def test_null_corpus_rows_match_allpairs(self, spark, corpus):
        # a null embedding used to fail the job inside the kernel
        small = _small(spark, corpus)
        nulls = _frame(spark, [(900, None), (None, [1.0] * DIM),
                               (None, None), (901, [0.0] * DIM)], C_SCHEMA)
        _assert_equals_allpairs(_queries(small), small.unionByName(nulls), 4,
                                KERNELS[1:])
        _assert_equals_allpairs(_queries(small),
                                small.unionByName(nulls.limit(3)), 4)

    def test_ragged_dims_raise(self, spark, corpus):
        short = spark.createDataFrame([(999, [1.0] * (DIM - 1))], C_SCHEMA)
        ragged_q = spark.createDataFrame(
            [(1, [1.0] * DIM), (2, [1.0] * (DIM - 1))], Q_SCHEMA)
        for fn, _ in KERNELS:
            # corpus rows of another dim fail the kernel's task
            with pytest.raises(Exception, match="ValueError.*'embedding'"):
                fn(_queries(corpus), corpus.unionByName(short), k=3).collect()
            with pytest.raises(ValueError, match="'query_vec'"):
                fn(ragged_q, corpus, k=3)

    def test_query_side_is_capped(self, spark, corpus, monkeypatch):
        monkeypatch.setattr(similarity, "_MAX_QUERY_ROWS", 4)
        for fn, _ in KERNELS:
            assert fn(_queries(corpus, n=4), corpus, k=2).count() == 8
            with pytest.raises(ValueError, match="more than 4 rows"):
                fn(_queries(corpus, n=5), corpus, k=2)


def _plan_nodes(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


class TestExactTopkPlan:
    """No input sends the exact top-k to an all-pairs join: the executed
    plan runs the Arrow kernel even for null ids, null vectors and an
    empty query side."""

    @pytest.mark.parametrize("rows", [
        [(None, [1.0] * DIM)], [(3, None)], []],
        ids=["null_id", "null_vector", "empty"])
    def test_kernel_plan_for_edge_query_sides(self, spark, corpus, rows):
        queries = spark.createDataFrame(rows, Q_SCHEMA)
        for fn, _ in KERNELS:
            plan = _plan_nodes(fn(queries, corpus, k=3))
            assert "MapInArrow" in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert "CartesianProduct" not in plan


_ELEMENT = st.sampled_from([-1.0, 0.0, 0.5, 1.0, 2.0] * 3 + [None])


def _side(ids, dim, zero_vectors):
    vec = st.lists(_ELEMENT, min_size=dim, max_size=dim)
    if not zero_vectors:
        vec = vec.filter(lambda v: any(x for x in v if x is not None)
                         or None in v)
    row = st.tuples(st.none() | ids, st.none() | vec)
    # duplicate ids come from repeated rows: a repeated id with another
    # vector ties on (score, id) with another qdot, which no plan orders
    return st.lists(row, max_size=8).flatmap(
        lambda rows: st.lists(st.sampled_from(rows), max_size=3).map(
            lambda dups: rows + dups) if rows else st.just(rows))


def _case(zero_vectors):
    return st.integers(1, 3).flatmap(lambda dim: st.tuples(
        _side(st.integers(0, 9), dim, zero_vectors),
        _side(st.integers(0, 12), dim, zero_vectors),
        st.integers(1, 6)))


class TestExactTopkProperties:
    """Both functions, both ``exclude_self`` values, equal to the
    all-pairs oracle on generated inputs: null ids and vectors on either
    side (and null elements), duplicate ids, clone ties (the small value
    alphabet makes many vectors parallel) across the k boundary, k above
    the candidate count, empty sides. Zero vectors for quantized only:
    brute-force cosine divides by zero in the reference too."""

    @settings(max_examples=12, deadline=None)
    @given(case=_case(zero_vectors=False))
    def test_brute_force_equals_allpairs(self, spark, case):
        q, c, k = case
        # two corpus partitions: the kernel prunes each batch on its own
        _assert_equals_allpairs(_frame(spark, q, Q_SCHEMA),
                                _frame(spark, c, C_SCHEMA).repartition(2),
                                k, KERNELS[:1])

    @settings(max_examples=12, deadline=None)
    @given(case=_case(zero_vectors=True))
    def test_quantized_equals_allpairs(self, spark, case):
        q, c, k = case
        # two corpus partitions: the kernel prunes each batch on its own
        _assert_equals_allpairs(_frame(spark, q, Q_SCHEMA),
                                _frame(spark, c, C_SCHEMA).repartition(2),
                                k, KERNELS[1:])
