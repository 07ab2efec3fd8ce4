"""Tests for the URL function family, span-level duplication audit,
and per-group quota cap."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kubenetmon_spark.functions.url import (
    cut_query_string,
    domain,
    protocol,
    query_string,
    top_level_domain,
    url_param,
    url_path,
)
from kubenetmon_spark.operators.curation import cap_per_group
from kubenetmon_spark.operators.dedup import duplicate_span_fraction


class TestUrlFunctions:
    CASES = [
        # url, proto, host, tld, path, qs
        ("https://a.example.com/p/q?x=1&y=2#f", "https", "a.example.com",
         "com", "/p/q", "x=1&y=2"),
        ("http://user@host.org:8080/", "http", "host.org", "org", "/", ""),
        ("www.example.co/path", "", "www.example.co", "co", "/path", ""),
        ("example.com", "", "example.com", "com", "", ""),
        ("ftp://10.0.0.1/file.txt", "ftp", "10.0.0.1", "1", "/file.txt", ""),
        ("", "", "", "", "", ""),
    ]

    def test_parts(self, spark):
        df = spark.createDataFrame(
            [(u,) for u, *_ in self.CASES], ["url"]
        )
        rows = {
            r.url: r
            for r in df.select(
                "url",
                protocol("url").alias("proto"),
                domain("url").alias("host"),
                top_level_domain("url").alias("tld"),
                url_path("url").alias("path"),
                query_string("url").alias("qs"),
            ).collect()
        }
        for u, proto, host, tld, path, qs in self.CASES:
            r = rows[u]
            assert (r.proto, r.host, r.tld, r.path, r.qs) == (
                proto,
                host,
                tld,
                path,
                qs,
            ), u

    def test_param_and_cut(self, spark):
        df = spark.createDataFrame(
            [("https://h.com/p?lang=en&p=3#z",)], ["url"]
        )
        r = df.select(
            url_param("url", "lang").alias("lang"),
            url_param("url", "p").alias("p"),
            url_param("url", "missing").alias("m"),
            cut_query_string("url").alias("cut"),
        ).collect()[0]
        assert r.lang == "en" and r.p == "3" and r.m == ""
        assert r.cut == "https://h.com/p"

    def test_param_name_with_metacharacters(self, spark):
        # Regression: the name went into the regex unescaped, so
        # 'a.b' also matched 'aXb' (and 'q+' broke the pattern).
        df = spark.createDataFrame(
            [("https://h.com/p?aXb=wrong&a.b=right",)], ["url"]
        )
        r = df.select(url_param("url", "a.b").alias("v")).collect()[0]
        assert r.v == "right"


DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


class TestDuplicateSpans:
    def test_matches_python(self, spark):
        docs = [
            (1, "a b c d e f"),      # shares span 'a b c' with doc 2
            (2, "a b c x y z"),
            (3, "p q r s t u"),      # unique
            (4, "too short"),        # < n tokens -> no row
        ]
        n = 3
        out = {
            r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_bp)
            for r in duplicate_span_fraction(
                spark.createDataFrame(docs, DOC_SCHEMA),
                "doc_id",
                "text",
                n=n,
            ).collect()
        }
        # python reference
        from collections import Counter

        spans = {}
        for did, text in docs:
            t = text.split(" ")
            spans[did] = [
                " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
            ] if len(t) >= n else []
        counts = Counter(s for v in spans.values() for s in v)
        for did, sp in spans.items():
            if not sp:
                assert did not in out
                continue
            dup = sum(1 for s in sp if counts[s] >= 2)
            assert out[did] == (len(sp), dup, dup * 10000 // len(sp)), did

    def test_all_unique_zero(self, spark):
        docs = [(1, "a b c d"), (2, "e f g h")]
        out = duplicate_span_fraction(
            spark.createDataFrame(docs, DOC_SCHEMA), "doc_id", "text", n=2
        ).collect()
        assert all(r.n_dup_spans == 0 and r.dup_bp == 0 for r in out)


class TestCapPerGroup:
    def test_caps_and_is_deterministic(self, spark):
        rows = [(g, i) for g in ("a", "b") for i in range(20)]
        df = spark.createDataFrame(rows, ["grp", "id"])
        k1 = cap_per_group(df, ["grp"], 5, "id")
        k2 = cap_per_group(df, ["grp"], 5, "id")
        got1 = sorted((r.grp, r.id) for r in k1.collect())
        got2 = sorted((r.grp, r.id) for r in k2.collect())
        assert got1 == got2
        per = {}
        for g, _ in got1:
            per[g] = per.get(g, 0) + 1
        assert per == {"a": 5, "b": 5}

    def test_order_col_keeps_best(self, spark):
        rows = [("a", i, 100 - i) for i in range(10)]
        df = spark.createDataFrame(rows, ["grp", "id", "score"])
        kept = cap_per_group(df, ["grp"], 3, "id", order_col="score")
        # lowest score values rank first
        assert sorted(r.score for r in kept.collect()) == [91, 92, 93]

    def test_group_smaller_than_k_untouched(self, spark):
        df = spark.createDataFrame([("a", 1), ("a", 2)], ["grp", "id"])
        assert cap_per_group(df, ["grp"], 10, "id").count() == 2
