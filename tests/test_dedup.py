"""Dedup operators: exact, MinHash+LSH vs exact Jaccard, SimHash blocking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fess_ds_s3_spark.operators import dedup


@pytest.fixture()
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep dark forest tonight")
    other = "completely different text " * 4
    rows = []
    for i in range(30):
        # exact-duplicate groups: (0,1,2) share base, (3,4) share other
        if i in (0, 1, 2):
            rows.append((i, base))
        elif i in (3, 4):
            rows.append((i, other))
        elif i in (5, 6):
            # near-duplicates of doc 0 with one word changed
            words = base.split()
            words[i] = f"changed{i}"
            rows.append((i, " ".join(words)))
        else:
            rows.append((i, " ".join(f"w{i}x{j}" for j in range(20))))
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExact:
    def test_dedup_exact_groups(self, spark, docs):
        out = dedup.dedup_exact(docs).collect()
        groups = {r.doc_id: r.dup_count for r in out}
        assert groups[0] == 3  # docs 0,1,2
        assert groups[3] == 2  # docs 3,4
        # survivors are the min ids
        assert 1 not in groups and 2 not in groups and 4 not in groups

    def test_normalization(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello   World"), (1, "hello world"), (2, "  HELLO WORLD ")],
            "doc_id long, text string")
        out = dedup.dedup_exact(df).collect()
        assert len(out) == 1 and out[0].dup_count == 3

class TestMinHashLSH:
    def test_lsh_finds_what_exact_finds(self, spark, docs):
        """LSH+verify pairs == exact n-gram Jaccard pairs at the same
        threshold (verify stage makes LSH exact up to candidate recall;
        128 hashes / 32 bands ⇒ recall ≈ 1 at τ=0.5 for this corpus)."""
        exact = {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5).collect()}
        lsh = {(r.a, r.b) for r in dedup.dedup_minhash_lsh(
            docs, num_hashes=128, bands=32, shingle_n=3,
            threshold=0.5).collect()}
        assert lsh == exact
        assert (0, 5) in exact or (0, 6) in exact  # near-dups found

    def test_pair_rows_are_pinned(self, spark, docs):
        """The pair rows on this fixture, fixed: the same rows whether
        the input is a scan (floored by a repartition) or reads a
        shuffle (left to AQE)."""
        want = [(0, 1, 17, 17, 1.0), (0, 2, 17, 17, 1.0),
                (0, 5, 14, 20, 0.7), (0, 6, 14, 20, 0.7),
                (1, 2, 17, 17, 1.0), (1, 5, 14, 20, 0.7),
                (1, 6, 14, 20, 0.7), (2, 5, 14, 20, 0.7),
                (2, 6, 14, 20, 0.7), (3, 4, 3, 3, 1.0),
                (5, 6, 13, 21, 0.619048)]
        shuffled = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
        for src in (docs, shuffled):
            got = dedup.dedup_minhash_lsh(src, num_hashes=128, bands=32,
                                          shingle_n=3, threshold=0.5)
            assert sorted(map(tuple, got.collect())) == want
        default = dedup.dedup_minhash_lsh(docs).collect()
        assert sorted(map(tuple, default)) == [
            (0, 1, 15, 15, 1.0), (0, 2, 15, 15, 1.0), (1, 2, 15, 15, 1.0),
            (3, 4, 3, 3, 1.0)]

    def test_exact_pair_counts_are_integers(self, spark, docs):
        out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        row = out.first()
        if row is not None:
            assert row.inter <= row.union_

    def test_hot_shingle_cap_bounds_join_and_keeps_real_pairs(self, spark):
        """A boilerplate shingle planted in every doc must not quadratically
        blow up the pair join when max_doc_freq caps it, and genuine
        near-dup pairs still surface (the boilerplate contributes ~0
        Jaccard signal)."""
        boiler = "all rights reserved contact us"
        rows = [(i, f"unique{i} " * 10 + boiler) for i in range(40)]
        rows += [(100, "alpha beta gamma delta epsilon zeta " + boiler),
                 (101, "alpha beta gamma delta epsilon zeta " + boiler)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                           max_doc_freq=5)
        got = {(r.a, r.b) for r in capped.collect()}
        assert (100, 101) in got
        # boilerplate-only pairs are gone: without the cap every doc pair
        # shares the boilerplate shingles
        assert len(got) < 40
        # the cap fired: some shingle's document frequency exceeds it
        doc_freq = (dedup.explode_shingle_hashes(docs, n=3).distinct()
                    .groupBy("shingle_hash").count())
        assert doc_freq.filter(F.col("count") > 5).count() > 0

    def test_repeated_doc_id_yields_no_self_pair(self, spark, docs):
        """A doc_id that occurs twice shares every LSH bucket with itself;
        neither the candidate pairs nor the verified pairs may contain
        (x, x)."""
        twice = docs.unionByName(docs.filter(F.col("doc_id") == 7))
        sigs = dedup.minhash_signatures(twice, num_hashes=64)
        cand = [(r.a, r.b) for r in
                dedup.lsh_candidate_pairs(sigs, bands=16).collect()]
        verified = [(r.a, r.b) for r in dedup.dedup_minhash_lsh(
            twice, num_hashes=64, bands=16, threshold=0.5).collect()]
        assert cand and verified
        assert all(a < b for a, b in cand + verified)

    def test_signature_determinism(self, spark, docs):
        s1 = {(r.doc_id, tuple(r.signature)) for r in
              dedup.minhash_signatures(docs, num_hashes=16).collect()}
        s2 = {(r.doc_id, tuple(r.signature)) for r in
              dedup.minhash_signatures(
                  docs.repartition(7), num_hashes=16).collect()}
        assert s1 == s2

    def test_signature_values_are_pinned(self, spark, docs):
        """shingle → xxhash64 → sign has one code path; a drift in any
        step (distinct or not, hash, permutation, fold) changes these."""
        sig = (dedup.minhash_signatures(docs.filter(F.col("doc_id") == 0),
                                        num_hashes=16)
               .first().signature)
        assert sig == [269199653, 140291832, 136394756, 88477839,
                       270641545, 159735807, 207265713, 306069476,
                       105767561, 38807436, 315232947, 42236173,
                       111443824, 128912434, 86781186, 222331770]

    def test_signatures_keep_null_ids(self, spark, docs):
        nulls = spark.createDataFrame([(None, "some text here")],
                                      "doc_id long, text string")
        sigs = dedup.minhash_signatures(docs.unionByName(nulls),
                                        num_hashes=16)
        assert sigs.filter(F.col("doc_id").isNull()).count() == 1

    def test_null_ids_are_dropped_before_pairing(self, spark, docs):
        """Exchange reuse needs the NULL-id filter below the shared id
        exchange; dropping those rows must not change any pair. NULL and
        empty text stay: each shingles to one set and pairs with its
        twin."""
        base = docs.filter(F.col("doc_id") == 0).first().text
        extra = spark.createDataFrame(
            [(None, base), (None, None), (None, ""),
             (40, None), (41, None), (42, ""), (43, "")],
            "doc_id long, text string")
        corpus = docs.unionByName(extra)
        got = dedup.dedup_minhash_lsh(corpus, num_hashes=64, bands=16,
                                      threshold=0.5).collect()
        want = dedup.dedup_minhash_lsh(
            corpus.filter(F.col("doc_id").isNotNull()), num_hashes=64,
            bands=16, threshold=0.5).collect()
        assert all(r.a is not None and r.b is not None for r in got)
        assert sorted(got) == sorted(want)
        assert {(40, 41), (42, 43), (0, 1)} <= {(r.a, r.b) for r in got}

    def test_one_shingle_pass_shares_the_id_exchange(self, spark, docs):
        """Banding and both verify sides read one id-partitioned relation:
        the final AQE plan runs the shingle kernel and the signer once and
        reuses the id exchange for the two verify sides."""
        out = dedup.dedup_minhash_lsh(docs, num_hashes=64, bands=16,
                                      threshold=0.5)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the AQE string also prints the Initial Plan; count the final one
        final = plan.split("== Final Plan ==")[1] \
            .split("== Initial Plan ==")[0]
        assert final.count("MapInArrow") == 1
        assert final.count("ArrowEvalPython") == 1
        reused = [ln for ln in final.splitlines()
                  if "ReusedExchange" in ln and "REPARTITION_BY_COL" in ln]
        assert len(reused) >= 2


class TestEmbeddingNearDup:
    def test_lsh_recalls_identical_clones_and_never_exceeds_exact(self, spark):
        """Tier-4 dedup: the SRP-LSH path must (a) be a subset of the exact
        all-pairs result (verify stage is exact cosine) and (b) recall
        bit-identical clones with probability 1 (same buckets always)."""
        import numpy as np
        rng = np.random.RandomState(7)
        vecs = [(i, rng.randn(16).astype("float32").tolist())
                for i in range(30)]
        vecs += [(100 + i, vecs[i][1]) for i in range(5)]  # identical clones
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        exact = {(r.a, r.b) for r in dedup.embedding_neardup_pairs(
            df, threshold=0.95, exact=True).collect()}
        lsh = {(r.a, r.b) for r in dedup.embedding_neardup_pairs(
            df, threshold=0.95, dim=16, bits=8, tables=4).collect()}
        assert lsh <= exact
        assert {(i, 100 + i) for i in range(5)} <= lsh

    def test_requires_dim_for_lsh(self, spark):
        df = spark.createDataFrame([(0, [1.0, 2.0])],
                                   "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="dim"):
            dedup.embedding_neardup_pairs(df, threshold=0.9)


class TestSimHash:
    def test_identical_docs_distance_zero(self, spark, docs):
        pairs = dedup.simhash_candidate_pairs(
            dedup.simhash(docs), max_hamming=0).collect()
        got = {(r.a, r.b) for r in pairs}
        assert {(0, 1), (0, 2), (1, 2), (3, 4)} <= got

    @pytest.mark.parametrize("radius", [0, 3, 12])
    def test_blocking_complete_within_radius(self, spark, docs, radius):
        """Pigeonhole guarantee at the requested radius: every pair with
        Hamming ≤ r must be found by (r+1)-block blocking (vs brute force).
        Radius 12 is the __spark_entry__ q_simhash parameterization."""
        sigs = dedup.simhash(docs)
        rows = sigs.select("doc_id", "simhash").collect()
        brute = set()
        for i, ri in enumerate(rows):
            for rj in rows[i + 1:]:
                h = bin((ri.simhash ^ rj.simhash) & (2**64 - 1)).count("1")
                if h <= radius:
                    a, b = sorted((ri.doc_id, rj.doc_id))
                    brute.add((a, b))
        blocked = {(r.a, r.b) for r in dedup.simhash_candidate_pairs(
            sigs, max_hamming=radius).collect()}
        assert blocked == brute

    def test_block_widths_cover_64_bits(self):
        for r in (0, 3, 12, 31, 63):
            blocks = dedup._simhash_blocks(r)
            assert len(blocks) == r + 1
            assert sum(w for _, w in blocks) == 64
            assert all(w >= 1 for _, w in blocks)
            # contiguous, non-overlapping
            pos = 0
            for shift, width in blocks:
                assert shift == pos
                pos += width


class TestPrefetchDedup:
    def _frames(self, spark):
        cand = spark.createDataFrame([
            ("u01", "e1", 10),   # known content        -> copy_known
            ("u02", "e2", 20),   # new, unique           -> fetch
            ("u03", "e3", 30),   # new, twin of u04      -> fetch (min url)
            ("u04", "e3", 30),   # in-batch twin         -> copy_batch u03
            ("u05", None, 40),   # null etag             -> fetch
            ("u06", None, 40),   # null etag (same size) -> fetch too
            ("u07", "e1", 11),   # same etag, DIFFERENT size -> fetch
        ], "url string, e_tag string, size long")
        known = spark.createDataFrame([
            ("k-old", "e1", 10),
            ("k-older", "e1", 10),   # min url wins as src
            ("k-null", None, 99),    # null etag in index is no identity
        ], "url string, e_tag string, size long")
        return cand, known

    def test_routing_and_sources(self, spark):
        cand, known = self._frames(spark)
        out = {r.url: (r.fetch_action, r.src_url)
               for r in dedup.prefetch_dedup(cand, known).collect()}
        assert out == {
            "u01": ("copy_known", "k-old"),
            "u02": ("fetch", None),
            "u03": ("fetch", None),
            "u04": ("copy_batch", "u03"),
            "u05": ("fetch", None),
            "u06": ("fetch", None),
            "u07": ("fetch", None),
        }

    def test_candidate_columns_preserved(self, spark):
        cand, known = self._frames(spark)
        out = dedup.prefetch_dedup(cand, known)
        assert out.columns == ["url", "e_tag", "size",
                               "fetch_action", "src_url"]
        assert out.count() == cand.count()

    def test_every_copy_has_a_fetch_or_index_source(self, spark):
        cand, known = self._frames(spark)
        out = dedup.prefetch_dedup(cand, known)
        fetched = {r.url for r in
                   out.filter(F.col("fetch_action") == "fetch").collect()}
        indexed = {"k-old", "k-older", "k-null"}
        for r in out.filter(F.col("fetch_action") != "fetch").collect():
            assert r.src_url in (fetched | indexed)

    def test_empty_known_side(self, spark):
        cand, known = self._frames(spark)
        out = {r.url: r.fetch_action
               for r in dedup.prefetch_dedup(cand,
                                             known.limit(0)).collect()}
        assert "copy_known" not in out.values()
        assert out["u03"] == "fetch" and out["u04"] == "copy_batch"
