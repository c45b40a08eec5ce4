"""Link / text extraction from html — vectorized pandas UDFs.

This is the web-page analogue of the reference's follow-list tag
parsing (ParsePubkeys, reference pkg/crawler/process.go:227-255):
 - anchors with no/self href are dropped (self-follow is "no signal"),
 - the result is unique + sorted (sliceutils.Unique sorts,
   pkg/utils/sliceutils/slice.go:13-29),
 - a page with more than 100,000 anchors is skipped entirely
   (returns []) — the reference returns nil for >100k tags,
 - NO validity check here; URL validity is a separate filter
   (is_valid_url, the analogue of nostr.IsValidPublicKey gating in
   resolveIDs, pkg/crawler/process.go:190-196).

extract_text must be byte-identical to the datagen `text` column per
url — the input_hint correctness invariant.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..schemas import MAX_OUTLINKS_TAGS

_HREF_RE = re.compile(rb'<a\s[^>]*?href="([^"]*)"', re.IGNORECASE)
_P_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def _links_one(html: bytes | None, url: str | None) -> list[str]:
    if html is None:
        return []
    hrefs = _HREF_RE.findall(html)
    if len(hrefs) == 0 or len(hrefs) > MAX_OUTLINKS_TAGS:
        return []
    out = set()
    for h in hrefs:
        try:
            link = h.decode("utf-8")
        except UnicodeDecodeError:
            continue
        if link and link != url:
            out.add(link)
    return sorted(out)


def _text_one(html: bytes | None) -> str | None:
    if html is None:
        return None
    out = []
    for p in _P_RE.findall(html):
        try:
            out.append(p.decode("utf-8"))
        except UnicodeDecodeError:
            # same skip rule as _links_one: one undecodable paragraph
            # (latin-1 bytes, truncated multibyte) must not kill the
            # whole task — real WARC html is not guaranteed utf-8
            continue
    return "\n".join(out)


@F.pandas_udf(ArrayType(StringType()))
def extract_links(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [_links_one(h, u) for h, u in zip(html, url)], index=html.index, dtype=object
    )


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return pd.Series([_text_one(h) for h in html], index=html.index, dtype=object)


_ANCHOR_RE = re.compile(
    rb'<a\s[^>]*?href="([^"]*)"[^>]*>(.*?)</a>', re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(rb"<[^>]+>")
# &amp; decoded LAST so '&amp;lt;' yields '&lt;' (one decode pass,
# not recursive) — the standard single-pass entity rule.
_ENTITIES = [
    (b"&lt;", b"<"),
    (b"&gt;", b">"),
    (b"&quot;", b'"'),
    (b"&#39;", b"'"),
    (b"&amp;", b"&"),
]


def _anchors_one(
    html: bytes | None, url: str | None
) -> list[dict[str, str]]:
    """(href, anchor-text) pairs of a page. Same conventions as
    _links_one: no/self hrefs dropped, >MAX_OUTLINKS_TAGS skips the
    page, undecodable bytes skip the anchor, result unique + sorted.
    The skip cap counts OPEN href tags (the same count _links_one
    caps on), not closed <a>...</a> elements — so both extractors
    skip exactly the same malformed pages even when most anchors are
    unclosed. Anchor text is the tag body with nested markup
    stripped, entities decoded (one pass), and whitespace collapsed —
    an empty body is kept as '' (bare image links still carry the
    target)."""
    if html is None:
        return []
    n_tags = len(_HREF_RE.findall(html))
    if n_tags == 0 or n_tags > MAX_OUTLINKS_TAGS:
        return []
    ms = _ANCHOR_RE.findall(html)
    out = set()
    for href_b, body in ms:
        try:
            href = href_b.decode("utf-8")
        except UnicodeDecodeError:
            continue
        if not href or href == url:
            continue
        body = _TAG_RE.sub(b"", body)
        for ent, ch in _ENTITIES:
            body = body.replace(ent, ch)
        try:
            text = body.decode("utf-8")
        except UnicodeDecodeError:
            continue
        out.add((href, " ".join(text.split())))
    return [{"href": h, "anchor": a} for h, a in sorted(out)]


# type objects, not a DDL string — DDL parsing at decoration time
# needs an active session, which doesn't exist at import
_ANCHOR_T = ArrayType(
    StructType(
        [
            StructField("href", StringType()),
            StructField("anchor", StringType()),
        ]
    )
)


@F.pandas_udf(_ANCHOR_T)
def extract_anchors(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [_anchors_one(h, u) for h, u in zip(html, url)],
        index=html.index,
        dtype=object,
    )


_SCHEMES = ("https://", "http://")
MAX_URL_LEN = 2048


def is_valid_url(col):
    """Column predicate: scheme allowlist + non-empty host + length cap
    (role of nostr.IsValidPublicKey in resolveIDs). Non-empty host is
    ENFORCED via url_host, not just length ('https:///path' is longer
    than its scheme but has no authority — it would land in the ''
    politeness bucket and match no robots host). Schemes are matched
    case-sensitively by design: the engine does not canonicalize by
    default, and admitting 'HTTP://Ex.COM' raw would split one host
    across politeness buckets."""
    return (
        col.isNotNull()
        & (F.length(col) <= MAX_URL_LEN)
        & (col.startswith(_SCHEMES[0]) | col.startswith(_SCHEMES[1]))
        & (url_host(col) != "")
    )


def url_host(col):
    """Host component of a url (for politeness bucketing / salting).
    The authority ends at '/', '?' or '#': 'https://a.com?p=2' must
    bucket as 'a.com', not 'a.com?p=2' (which would bypass per-host
    rate limits and miss the robots host join)."""
    return F.regexp_extract(col, r"^https?://([^/?#]+)", 1)


def canonical_url(col) -> "F.Column":
    """Canonical URL form, entirely in column expressions (whole-stage
    codegen; no Python): lowercase scheme+host, strip default ports
    (http:80 / https:443), drop the fragment, ensure a '/' path after
    a bare authority, drop an empty query, and sort query parameters
    so `?b=2&a=1` and `?a=1&b=2` admit as ONE frontier url. Path case
    and non-default ports are preserved (paths are case-sensitive per
    RFC 3986). Idempotent; strings without a scheme://host prefix pass
    through unchanged. Canonicalize BEFORE the seen-set probe so the
    bloom/cuckoo membership is on canonical keys (the url-equivalence
    role of nostr's fixed-format pubkey keys in the reference,
    pkg/crawler/process.go:222-236, where no such folding is needed)."""
    nf = F.substring_index(col, "#", 1)
    pre = F.substring_index(nf, "?", 1)
    q = F.regexp_extract(nf, r"\?(.*)$", 1)
    sh = F.regexp_extract(pre, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)", 1)
    rest = F.substring(pre, F.length(sh) + F.lit(1), F.lit(MAX_URL_LEN))
    shl = F.lower(sh)
    shl = F.regexp_replace(shl, r"^(http://[^:/]*):80$", "$1")
    shl = F.regexp_replace(shl, r"^(https://[^:/]*):443$", "$1")
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    qc = F.when(q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(q, "&")), "&"))
    )
    return F.when(sh == "", col).otherwise(F.concat(shl, path, qc))


# ---- URL-level quality filtering (RefinedWeb / FineWeb stage 1) ----
#
# List-driven: the caller supplies the blocklist (RefinedWeb used a
# public adult/fraud domain blocklist plus keyword scoring on the
# url string); here the mechanics are the product — a broadcast
# domain-dimension join over the batch's DISTINCT HOSTS plus pure
# column expressions, so the gate runs inside the scan's codegen
# and the frontier is never shuffled for it.

URL_BAD_WORDS = ("porn", "casino", "viagra", "webcam", "escort")
URL_SOFT_WORDS = ("download", "free", "click", "deal", "sale")


def url_spam_score(col) -> "F.Column":
    """Keyword spam score of the URL STRING (RefinedWeb's url
    scoring shape): hard words count 2, soft words 1, plus 1 if the
    url has > 4 digits or a very long (> 120 char) path+query. Pure
    column math on the lowercased url. Keywords match anywhere in
    it, host included, as RefinedWeb scores the whole URL string
    (https://freebsd.org/ scores 1 for the 'free' in its host)."""
    u = F.lower(col)
    score = F.lit(0)
    for w in URL_BAD_WORDS:
        score = score + F.when(u.contains(w), F.lit(2)).otherwise(F.lit(0))
    for w in URL_SOFT_WORDS:
        score = score + F.when(u.contains(w), F.lit(1)).otherwise(F.lit(0))
    n_digits = F.length(F.regexp_replace(u, "[^0-9]", ""))
    # path+query: after the authority, up to any fragment
    tail = F.length(F.regexp_extract(u, r"^https?://[^/?#]+([^#]*)", 1))
    return (
        score
        + F.when(n_digits > 4, F.lit(1)).otherwise(F.lit(0))
        + F.when(tail > 120, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")


def url_filter(
    urls,
    blocked_domains=None,
    max_spam_score: int = 2,
    url_col: str = "url",
):
    """(input cols) + (spam_score, keep, reason): the pre-fetch URL
    admission gate (RefinedWeb/FineWeb run it before ANY fetch —
    cheapest filter first). reason = 'invalid' (fails is_valid_url)
    | 'blocked_domain' (host or a parent domain in the blocklist)
    | 'spam' (score > max_spam_score), null when kept.

    `blocked_domains`: DataFrame of (domain) — matched against the
    host AND every parent suffix (sub.evil.test blocks under
    evil.test), CASE-INSENSITIVELY on both sides (hosts are
    case-insensitive per RFC 4343, and the engine admits raw-case
    urls by default — 'https://EVIL.test' must not slip a lowercase
    blocklist). The match runs at HOST granularity: the batch's
    distinct lowercased hosts explode into their suffix sets
    (~4 rows/host), semi-join the broadcast lowercased blocklist,
    and the resulting blocked-host dimension joins back onto the
    urls. That dimension is bounded by the batch's host count, not
    its url count, but it still grows with the data, so it carries
    no broadcast hint: AQE broadcasts it at runtime when its actual
    size is small (the usual case) and a host-heavy batch cannot OOM
    the driver.

    Raises ValueError if `urls` already has a column this gate
    writes (spam_score, keep, reason) or uses internally (_host,
    _blocked, _blk): it would be overwritten or dropped, or make
    the blocklist join ambiguous."""
    clash = {"spam_score", "keep", "reason", "_host", "_blocked", "_blk"} & set(
        urls.columns
    )
    if clash:
        raise ValueError(f"urls already has url_filter column(s) {sorted(clash)}")
    host = F.lower(url_host(F.col(url_col)))
    score = url_spam_score(F.col(url_col))
    out = urls.withColumn("_host", host).withColumn("spam_score", score)
    if blocked_domains is not None:
        suffixes = F.expr(
            "transform(sequence(1, size(split(_host, '\\\\.'))), "
            "i -> array_join(slice(split(_host, '\\\\.'), i, "
            "size(split(_host, '\\\\.'))), '.'))"
        )
        blocked_lc = blocked_domains.select(
            F.lower(F.col("domain")).alias("domain")
        )
        bhosts = (
            out.select("_host")
            .distinct()
            .select("_host", F.explode(suffixes).alias("domain"))
            .join(F.broadcast(blocked_lc), "domain", "left_semi")
            .select("_host")
            .distinct()
            .withColumn("_blk", F.lit(True))
        )
        out = out.join(bhosts, "_host", "left").withColumn(
            "_blocked", F.coalesce(F.col("_blk"), F.lit(False))
        ).drop("_blk")
    else:
        out = out.withColumn("_blocked", F.lit(False))
    reason = (
        F.when(~is_valid_url(F.col(url_col)), F.lit("invalid"))
        .when(F.col("_blocked"), F.lit("blocked_domain"))
        .when(F.col("spam_score") > max_spam_score, F.lit("spam"))
    )
    return (
        out.withColumn("keep", reason.isNull())
        .withColumn("reason", reason)
        .drop("_host", "_blocked")
    )
