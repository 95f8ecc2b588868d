"""URL build/encoding goldens — exact strings pinned by the reference tests
(AmazonS3DataStoreTest.java:126-129,134-135,288-293)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fess_ds_s3_spark.functions.urls import (build_management_url,
                                             build_object_url,
                                             canonicalize_url,
                                             canonicalize_url_py,
                                             filename_from_key,
                                             java_uri_encode_path,
                                             object_url_py)
from tests.oracle import management_url_py


class TestJavaUriEncoding:
    def test_space_is_percent20(self):
        # AmazonS3DataStoreTest.java:288-293 pins space → %20 (not '+')
        assert java_uri_encode_path("dir name/file name.txt") == \
            "dir%20name/file%20name.txt"

    def test_path_legal_punctuation_not_encoded(self):
        # java.net.URI leaves pchar sub-delims + ':' '@' unencoded in paths
        s = "a/b!$&'()*+,;=:@-._~c"
        assert java_uri_encode_path(s) == s

    def test_non_ascii_utf8_percent_encoded(self):
        assert java_uri_encode_path("日") == "%E6%97%A5"

    def test_reserved_encoded(self):
        assert java_uri_encode_path("a?b#c[d]e") == "a%3Fb%23c%5Bd%5De"


class TestObjectUrl:
    def test_virtual_hosted_style(self):
        # AmazonS3DataStoreTest golden: https://{bucket}.s3.{region}...
        assert object_url_py("fess", "files/sample-0.txt", "ap-northeast-1") \
            == "https://fess.s3.ap-northeast-1.amazonaws.com/files/sample-0.txt"

    def test_space_encoding_golden(self):
        assert object_url_py("fess", "dir/sample file.txt", "us-east-1") == \
            "https://fess.s3.us-east-1.amazonaws.com/dir/sample%20file.txt"

    def test_endpoint_style(self):
        # endpoint override → {scheme}://{bucket}.{authority}/{key}
        assert object_url_py("fess", "a.txt", "r",
                             endpoint="http://localhost:9000") == \
            "http://fess.localhost:9000/a.txt"

    def test_management_url(self):
        assert management_url_py("fess", "dir/a b.txt", "us-east-1") == \
            ("https://s3.console.aws.amazon.com/s3/object/fess/"
             "dir/a%20b.txt?region=us-east-1")


class TestColumnExpressions:
    def test_build_object_url_matches_python(self, spark):
        df = spark.createDataFrame(
            [("fess-0", "files/sample-0.txt"), ("fess-1", "dir/a b.txt")],
            "bucket string, key string")
        rows = df.select(
            build_object_url("bucket", "key", "us-east-1").alias("url"),
            build_management_url("bucket", "key", "us-east-1").alias("m"),
        ).collect()
        for (bucket, key), row in zip(
                [("fess-0", "files/sample-0.txt"), ("fess-1", "dir/a b.txt")],
                rows):
            assert row["url"] == object_url_py(bucket, key, "us-east-1")
            assert row["m"] == management_url_py(bucket, key, "us-east-1")

    def test_filename_from_key(self, spark):
        df = spark.createDataFrame(
            [("files/sample-0.txt",), ("no-slash.bin",), ("a/b/c.pdf",)],
            "key string")
        got = [r[0] for r in df.select(filename_from_key("key")).collect()]
        assert got == ["sample-0.txt", "no-slash.bin", "c.pdf"]


class TestCanonicalization:
    def test_lowercase_host_strip_default_port(self):
        assert canonicalize_url_py("HTTPS://Example.COM:443/A/b") == \
            "https://example.com/A/b"

    def test_keeps_nondefault_port(self):
        assert canonicalize_url_py("http://example.com:8080/x") == \
            "http://example.com:8080/x"

    def test_dot_segments(self):
        assert canonicalize_url_py("https://e.com/a/./b/../c") == \
            "https://e.com/a/c"

    def test_strips_fragment_and_tracking_sorts_query(self):
        assert canonicalize_url_py(
            "https://e.com/p?b=2&utm_source=x&a=1#frag") == \
            "https://e.com/p?a=1&b=2"

    def test_idempotent(self):
        url = "https://E.com:443/a/../b?z=1&utm_medium=m&a=2#f"
        once = canonicalize_url_py(url)
        assert canonicalize_url_py(once) == once

    def test_udf_matches_python(self, spark):
        urls = ["HTTPS://Example.COM:443/A/b", "http://e.com:8080/x?b=2&a=1",
                "https://e.com/a/./b/../c#frag"]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [r[0] for r in
               df.select(canonicalize_url(F.col("url"))).collect()]
        assert got == [canonicalize_url_py(u) for u in urls]


class TestResolveUrl:
    def _resolve(self, spark, pairs):
        from fess_ds_s3_spark.functions.urls import resolve_url
        df = spark.createDataFrame(pairs, "base string, href string")
        return [r.out for r in
                df.select(resolve_url("base", "href").alias("out"))
                .collect()]

    def test_four_cases(self, spark):
        base = "https://h.example/a/b/page.html?q=1"
        got = self._resolve(spark, [
            (base, "https://other.example/x"),
            (base, "//cdn.example/y"),
            (base, "/root.css"),
            (base, "rel/img.png"),
        ])
        assert got == [
            "https://other.example/x",
            "https://cdn.example/y",
            "https://h.example/root.css",
            "https://h.example/a/b/rel/img.png",
        ]

    def test_pathless_base_and_nulls(self, spark):
        got = self._resolve(spark, [
            ("https://h.example", "x.html"),
            ("https://h.example", None),
            (None, "x.html"),
            ("not a url", "x.html"),
        ])
        assert got == ["https://h.example/x.html", None, None, None]

    def test_urljoin_agreement_on_scope(self, spark):
        # within the documented scope (no dot segments), matches urllib
        from urllib.parse import urljoin
        cases = [("https://h.example/a/b/c.html?old=1", h)
                 for h in ("https://x.example/q", "//y.example/p",
                           "/abs/p.txt", "d/e.txt", "f.txt?q=2#frag",
                           "?new=2")]
        got = self._resolve(spark, cases)
        assert got == [urljoin(b, h) for b, h in cases]

    def test_query_fragment_and_opaque_schemes(self, spark):
        """ADVICE r4: '?a=1' / '#top' / 'mailto:x' used to be treated as
        path-relative, yielding malformed frontier candidates like
        https://h/dir/mailto:x."""
        base = "https://h.example/a/b/page.html?q=1"
        got = self._resolve(spark, [
            (base, "?a=1"),
            ("https://h.example", "?a=1"),   # path-less base
            (base, "#top"),
            (base, "mailto:someone@example.org"),
            (base, "javascript:void(0)"),
            (base, "data:text/plain;base64,aGk="),
            # scheme-LIKE but actually path-relative (colon after slash)
            (base, "x/y:z.txt"),
        ])
        assert got == [
            "https://h.example/a/b/page.html?a=1",
            "https://h.example/?a=1",
            None, None, None, None,
            "https://h.example/a/b/x/y:z.txt",
        ]


class TestSitemapUrls:
    def test_locs_in_order_and_whitespace(self, spark):
        from fess_ds_s3_spark.functions.urls import sitemap_urls
        xml = ("<?xml version='1.0'?><urlset>"
               "<url><loc>https://h.example/a</loc></url>"
               "<url><loc>  https://h.example/b </loc></url>"
               "<url><lastmod>2024-01-01</lastmod></url></urlset>")
        df = spark.createDataFrame([(xml,)], "x string")
        got = df.select(sitemap_urls("x").alias("u")).first().u
        assert got == ["https://h.example/a", "https://h.example/b"]
