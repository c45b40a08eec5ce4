"""Extraction gates: byte-identical text per url (input_hint invariant)
and ParsePubkeys link semantics (reference pkg/crawler/process.go:227-255)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark import datagen
from crawler_spark.functions import extract


def test_extract_text_byte_identical(spark):
    fx = datagen.FIXTURES["acyclic1"]
    pages = datagen.pages_df(spark, fx.follows)
    bad = pages.withColumn("etext", extract.extract_text("html")).filter(
        (F.col("etext") != F.col("text")) | F.col("etext").isNull()
    )
    assert bad.count() == 0


def test_extract_links_match_fixture_edges(spark):
    fx = datagen.FIXTURES["acyclic1"]
    pages = datagen.pages_df(spark, fx.follows)
    got = {
        r["url"]: r["links"]
        for r in pages.withColumn(
            "links", extract.extract_links("html", "url")
        ).select("url", "links").collect()
    }
    for i, ds in fx.follows.items():
        assert got[datagen.node_url(i)] == sorted(datagen.node_url(j) for j in ds)


def test_self_link_dropped_and_dedup():
    url = "https://nodeX.test/"
    html = datagen.render_html(
        url, "t", [url, "https://a.test/", "https://a.test/", "https://b.test/"]
    )
    links = extract._links_one(html, url)
    assert links == ["https://a.test/", "https://b.test/"]


def test_outlink_cap_skips_page():
    # >100k anchors -> page skipped entirely (reference returns nil)
    url = "https://nodeX.test/"
    links = [f"https://l{i}.test/" for i in range(100_001)]
    html = datagen.render_html(url, "t", links)
    assert extract._links_one(html, url) == []


def test_is_valid_url(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"u": ["https://ok.test/", "http://ok.test", "ftp://no", "https://", None]}
        )
    )
    got = [r[0] for r in df.select(extract.is_valid_url(F.col("u"))).collect()]
    assert got == [True, True, False, False, None] or got == [True, True, False, False, False]


def test_url_host(spark):
    df = spark.createDataFrame(pd.DataFrame({"u": ["https://host3.test/p9"]}))
    assert df.select(extract.url_host(F.col("u"))).first()[0] == "host3.test"


CANON_CASES = [
    ("HTTP://Example.COM:80/Path/To/Page?b=2&a=1#frag",
     "http://example.com/Path/To/Page?a=1&b=2"),
    ("https://Example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),  # non-default port kept
    ("http://example.com", "http://example.com/"),
    ("http://example.com?z=1", "http://example.com/?z=1"),
    ("https://Sub.Example.com/Path?", "https://sub.example.com/Path"),
    ("http://example.com:80", "http://example.com/"),
    ("https://example.com/a?b=2&a=1&c", "https://example.com/a?a=1&b=2&c"),
    ("http://example.com/#", "http://example.com/"),
    ("ftp://Example.com:80/x", "ftp://example.com:80/x"),  # :80 only default for http
    ("https://example.com/path#a#b", "https://example.com/path"),
    ("not a url", "not a url"),  # no scheme://host -> pass through
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    got = [
        r.c
        for r in df.select(
            extract.canonical_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [want for _, want in CANON_CASES]


def test_canonical_url_idempotent(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    twice = df.select(
        extract.canonical_url(F.col("url")).alias("once")
    ).select(
        "once", extract.canonical_url(F.col("once")).alias("again")
    )
    assert twice.filter(F.col("once") != F.col("again")).count() == 0


def test_url_host_stops_at_query_and_fragment(spark):
    """The authority ends at '/', '?' or '#': a url with a query
    right after the host must bucket under the bare host, or it
    bypasses per-host rate limits and misses the robots host join."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "u": [
                    "https://a.test?page=2",
                    "https://a.test#frag",
                    "https://a.test/p?page=2",
                ]
            }
        )
    )
    got = [r[0] for r in df.select(extract.url_host(F.col("u"))).collect()]
    assert got == ["a.test", "a.test", "a.test"]


def test_is_valid_url_requires_nonempty_host(spark):
    """'https:///path' is longer than its scheme but has NO authority
    — it must be invalid, not land in the '' politeness bucket."""
    df = spark.createDataFrame(
        pd.DataFrame({"u": ["https:///path", "http:///", "https://h.test"]})
    )
    got = [r[0] for r in df.select(extract.is_valid_url(F.col("u"))).collect()]
    assert got == [False, False, True]


def test_extract_text_skips_undecodable_paragraph(spark):
    """A non-utf8 <p> (latin-1 bytes, truncated multibyte) must be
    skipped like _links_one does — not raise and kill the task."""
    html = "<p>ok</p>".encode() + b"<p>caf\xe9</p>" + "<p>two</p>".encode()
    df = spark.createDataFrame(pd.DataFrame({"h": [html]}))
    got = df.select(extract.extract_text(F.col("h"))).first()[0]
    assert got == "ok\ntwo"


def test_url_spam_score_and_filter(spark):
    """RefinedWeb-style pre-fetch URL gate: keyword spam scoring,
    parent-suffix domain blocking, validity, and attribution."""
    rows = [
        ("https://good.test/article/history",),          # kept
        ("https://a.test/free-casino-download",),        # spam 2+1+1=4
        ("https://sub.evil.test/page",),                 # blocked (parent)
        ("https://evil.test/",),                         # blocked (exact)
        ("ftp://bad.test/x",),                           # invalid
        ("https://num.test/p/1234567890",),              # digits -> +1 only
        ("https://long.test/" + "x" * 115,),             # path+query 116
        ("https://long.test/" + "x" * 121,),             # path+query 122
        ("https://freebsd.org/",),                       # 'free' in host
    ]
    urls = spark.createDataFrame(rows, "url string")
    blocked = spark.createDataFrame([("evil.test",)], "domain string")
    got = {
        r["url"]: (r["keep"], r["reason"], r["spam_score"])
        for r in extract.url_filter(
            urls, blocked, max_spam_score=2
        ).collect()
    }
    assert got["https://good.test/article/history"] == (True, None, 0)
    k, rsn, sc = got["https://a.test/free-casino-download"]
    assert (k, rsn) == (False, "spam") and sc >= 3
    assert got["https://sub.evil.test/page"][:2] == (False, "blocked_domain")
    assert got["https://evil.test/"][:2] == (False, "blocked_domain")
    assert got["ftp://bad.test/x"][:2] == (False, "invalid")
    assert got["https://num.test/p/1234567890"] == (True, None, 1)
    # the length bump counts path+query only, never scheme or host
    assert got["https://long.test/" + "x" * 115] == (True, None, 0)
    assert got["https://long.test/" + "x" * 121] == (True, None, 1)
    # keywords match the whole url string, host included
    assert got["https://freebsd.org/"] == (True, None, 1)
    # no blocklist: everything valid + under-threshold keeps
    got2 = {
        r["url"]: r["keep"]
        for r in extract.url_filter(urls, None, max_spam_score=2).collect()
    }
    assert got2["https://sub.evil.test/page"] is True
    # a caller column the gate would overwrite is refused, not clobbered
    with pytest.raises(ValueError, match="keep"):
        extract.url_filter(urls.withColumn("keep", F.lit(True)))


def test_url_filter_blocklist_case_insensitive(spark):
    """Hosts are case-insensitive (RFC 4343) and the engine admits
    raw-case urls — 'https://EVIL.test' must not slip a lowercase
    blocklist, and a mixed-case blocklist row must still block."""
    urls = spark.createDataFrame(
        [("https://EVIL.test/x",), ("https://sub.Evil.TEST/y",),
         ("https://fine.test/z",)],
        "url string",
    )
    blocked = spark.createDataFrame([("Evil.test",)], "domain string")
    got = {
        r["url"]: r["reason"]
        for r in extract.url_filter(urls, blocked).collect()
    }
    assert got["https://EVIL.test/x"] == "blocked_domain"
    assert got["https://sub.Evil.TEST/y"] == "blocked_domain"
    assert got["https://fine.test/z"] is None
