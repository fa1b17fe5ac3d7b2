"""URL canonicalization + URL-level dedup (functions/url.py,
operators/dedup.dedup_by_url): frozen-spec goldens, Spark<->DuckDB
parity on adversarial inputs, and the keep-first dedup contract."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.functions.url import (
    TRACKING_PARAMS,
    canonicalize_url,
    canonicalize_url_sql,
)

CASES = [
    # (raw, canonical)
    (
        "  HTTP://WWW.Example.COM:80/Path/?b=2&utm_source=x&a=1#frag ",
        "http://example.com/Path?a=1&b=2",
    ),
    ("https://example.com:443/a//b///?", "https://example.com/a//b"),
    ("http://example.com", "http://example.com"),
    ("http://example.com/", "http://example.com"),
    # only ONE leading www. strips; inner labels and ports on other
    # schemes survive
    (
        "http://sub.www.example.com/x?gclid=1&Ref=z&z=9&A=2",
        "http://sub.www.example.com/x?A=2&z=9",
    ),
    ("http://www.www.example.com/", "http://www.example.com"),
    ("ftp://Host.Com:21/file", "ftp://host.com:21/file"),
    # http port 443 / https port 80 are NOT default -> kept
    ("http://example.com:443/x", "http://example.com:443/x"),
    ("https://example.com:80/x", "https://example.com:80/x"),
    # duplicate keys kept (sorted bytewise), valueless and empty-key
    # params kept, empty params dropped
    ("http://example.com/x?a=1&a=0&=5&b&&", "http://example.com/x?=5&a=0&a=1&b"),
    # all params tracking -> '?' dropped entirely
    ("http://example.com/?utm_campaign=a&fbclid=b", "http://example.com"),
    # tracking match is on the lowercased KEY only
    (
        "HTTPS://EXAMPLE.com/UPPER/Path?UTM_X=1&q=Hello%20World",
        "https://example.com/UPPER/Path?q=Hello%20World",
    ),
    # passthrough tier: no scheme -> trimmed, otherwise untouched
    ("not a url at all", "not a url at all"),
    ("   spaced plain   ", "spaced plain"),
    ("example.com/path?utm_source=x", "example.com/path?utm_source=x"),
    # fragment strips even without a query
    ("http://example.com/a#b/c?d=1", "http://example.com/a"),
]


class TestCanonicalizeUrl:
    def test_goldens(self, spark):
        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(CASES)],
            "i long, url string",
        )
        got = {
            r["i"]: r["c"]
            for r in df.select(
                "i", canonicalize_url(F.col("url")).alias("c")
            ).collect()
        }
        for i, (raw, want) in enumerate(CASES):
            assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"

    def test_null_in_null_out(self, spark):
        df = spark.createDataFrame([(1, None)], "i long, url string")
        [r] = df.select(canonicalize_url(F.col("url")).alias("c")).collect()
        assert r["c"] is None

    def test_duckdb_parity(self, spark):
        raws = [raw for raw, _ in CASES] + [None]
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(raws)], "i long, url string"
        )
        got = {
            r["i"]: r["c"]
            for r in df.select(
                "i", canonicalize_url(F.col("url")).alias("c")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t(i BIGINT, url VARCHAR)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?)", list(enumerate(raws))
        )
        want = dict(
            con.execute(
                f"SELECT i, {canonicalize_url_sql('url')} FROM t"
            ).fetchall()
        )
        assert got == want

    def test_every_tracking_param_strips(self, spark):
        raws = [
            (i, f"http://h.com/?{p}=1&keep=2")
            for i, p in enumerate(TRACKING_PARAMS)
        ]
        df = spark.createDataFrame(raws, "i long, url string")
        out = df.select(
            canonicalize_url(F.col("url")).alias("c")
        ).distinct().collect()
        assert [r["c"] for r in out] == ["http://h.com?keep=2"]

    def test_custom_tracking_set(self, spark):
        df = spark.createDataFrame(
            [(0, "http://h.com/?sid=1&gclid=2")], "i long, url string"
        )
        [r] = df.select(
            canonicalize_url(F.col("url"), tracking_params=("sid",)).alias(
                "c"
            )
        ).collect()
        # custom set replaces the default: sid strips, gclid survives
        assert r["c"] == "http://h.com?gclid=2"


class TestDedupByUrl:
    def test_keeps_lowest_id_per_canonical(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import dedup_by_url

        rows = [
            (1, "http://Example.com/a?b=2&a=1"),
            (2, "HTTP://WWW.example.com:80/a/?a=1&b=2&utm_source=x#f"),
            (3, "http://example.com/a?gclid=z&b=2&a=1"),
            (4, "http://example.com/other"),
            (5, "plain text"),
            (6, "plain text"),
        ]
        df = spark.createDataFrame(rows, "id long, url string")
        got = sorted(
            (r["id"], r["canonical_url"])
            for r in dedup_by_url(df, "id", "url").collect()
        )
        assert got == [
            (1, "http://example.com/a?a=1&b=2"),
            (4, "http://example.com/other"),
            (5, "plain text"),
        ]

    def test_map_only_before_single_digest_shuffle(self, spark):
        from ml_hadoop_experiment_spark.operators.dedup import dedup_by_url

        df = spark.createDataFrame(
            [(1, "http://a.com/")], "id long, url string"
        )
        plan = (
            dedup_by_url(df, "id", "url")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # canonicalization must not add exchanges: exactly the window's
        # one shuffle
        assert plan.count("Exchange") == 1


HOST_CASES = [
    # (raw, host, registered_domain)
    ("https://News.Site0.co.uk/p/1", "news.site0.co.uk", "site0.co.uk"),
    ("http://WWW.Example.COM:8080/x", "www.example.com", "example.com"),
    ("https://user:pw@blog.example.org/p", "blog.example.org", "example.org"),
    ("http://example.gov.uk/a", "example.gov.uk", "example.gov.uk"),
    ("http://a.b.c.example.com.au/", "a.b.c.example.com.au", "example.com.au"),
    ("http://10.0.3.25/x", "10.0.3.25", "10.0.3.25"),
    ("http://localhost:9000/", "localhost", "localhost"),
    ("http://co.uk/", "co.uk", "co.uk"),
    ("file:///etc/passwd", "", ""),
    ("not a url", None, None),
]


class TestHostAndRegisteredDomain:
    def test_goldens(self, spark):
        from ml_hadoop_experiment_spark.functions.url import (
            registered_domain,
            url_host,
        )

        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _, _) in enumerate(HOST_CASES)],
            "i long, url string",
        )
        rows = {
            r["i"]: (r["h"], r["d"])
            for r in df.select(
                "i",
                url_host(F.col("url")).alias("h"),
                registered_domain(url_host(F.col("url"))).alias("d"),
            ).collect()
        }
        for i, (raw, want_h, want_d) in enumerate(HOST_CASES):
            assert rows[i] == (want_h, want_d), f"{raw!r}: {rows[i]}"

    def test_duckdb_parity(self, spark):
        from ml_hadoop_experiment_spark.functions.url import (
            registered_domain,
            registered_domain_sql,
            url_host,
            url_host_sql,
        )

        raws = [raw for raw, _, _ in HOST_CASES] + [None]
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(raws)], "i long, url string"
        )
        got = {
            r["i"]: (r["h"], r["d"])
            for r in df.select(
                "i",
                url_host(F.col("url")).alias("h"),
                registered_domain(url_host(F.col("url"))).alias("d"),
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t(i BIGINT, url VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(raws)))
        h = url_host_sql("url")
        want = {
            i: (hh, dd)
            for i, hh, dd in con.execute(
                f"SELECT i, {h}, {registered_domain_sql(h)} FROM t"
            ).fetchall()
        }
        assert got == want

    def test_every_multi_part_suffix(self, spark):
        from ml_hadoop_experiment_spark.functions.url import (
            MULTI_PART_SUFFIXES,
            registered_domain,
        )

        hosts = [f"www.brand.{s}" for s in MULTI_PART_SUFFIXES]
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(hosts)], "i long, h string"
        )
        rows = {
            r["i"]: r["d"]
            for r in df.select(
                "i", registered_domain(F.col("h")).alias("d")
            ).collect()
        }
        for i, s in enumerate(MULTI_PART_SUFFIXES):
            assert rows[i] == f"brand.{s}"
