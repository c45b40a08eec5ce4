"""Text analysis over document corpora — language-ID, quality
scoring, token counting, fingerprinting.

Everything here is a pure column expression (whole-stage-codegen'd,
no Python in the hot path), deliberately built from functions that
exist identically in ANSI-ish SQL so every operator carries a DuckDB
oracle. The hash primitive is md5 (stable across engines), the role
the reference's formatting/hashing utilities play
(pkg/utils/redisutils/format.go) — here applied to corpus hygiene
rather than Redis keys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words (surrounded by spaces when matched) — a
# classic stopword-profile n-gram heuristic; ties resolve by the
# LANGS order. Only these four languages are profiled; anything
# else scores 0 on every marker and returns 'und'.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " die ", " und ", " ist "],
    "fr": [" le ", " la ", " et ", " est "],
    "es": [" el ", " los ", " que ", " es "],
}
LANGS = list(LANG_MARKERS)

_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def _occurrences(padded: Column, marker: str) -> Column:
    """#occurrences of `marker` = (len(s) - len(remove(s))) / len(m)."""
    return (
        F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit("")))
    ) / F.lit(len(marker))


def lang_score(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = None
    for m in LANG_MARKERS[lang]:
        occ = _occurrences(padded, m)
        score = occ if score is None else score + occ
    return score.cast("double")


def lang_id(text: Column) -> Column:
    """Argmax of the marker scores; 'und' (undetermined) when no
    marker hits at all."""
    scores = [(lang, lang_score(text, lang)) for lang in LANGS]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reverse order => earlier langs win ties (en > de > fr > es)
    for lang, s in reversed(scores):
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    )


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish upper bound: words + digits + punctuation as separate
    tokens (the pre-tokenizer split most BPE vocabularies start from).
    """
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_RE), 0))


def alpha_ratio(text: Column) -> Column:
    n = F.length(text)
    na = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(na / n).cast("double")


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    np_ = F.length(F.regexp_replace(text, "[^.,;:!?'\\\"()-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(np_ / n).cast("double")


def mean_word_len(text: Column) -> Column:
    tc = token_count(text)
    chars = F.length(F.regexp_replace(text, "\\s", ""))
    return F.when(tc == 0, F.lit(0.0)).otherwise(chars / tc).cast("double")


# common-English function words for the stopword-mass signal —
# deliberately small and frozen (the signal wants "is this running
# prose", not linguistic completeness; Rae et al. 2021 A1.1 use the
# same shape of check with a handful of stop words)
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "be", "that", "this", "it", "on", "for", "with",
    "as", "at", "by", "from", "not",
)


# Gopher's stop-word existence check uses this fixed 8-word list
# (Rae et al. 2021 A1.1: drop documents containing fewer than 2 of
# them — keyword lists, lorem-noise and non-prose pages fail it)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stopword_count(text: Column) -> Column:
    """How many tokens are Gopher stop words (with multiplicity) —
    the admission gate needs only the >= 2 comparison."""
    toks = _tokens_arr(text)
    return F.size(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are common English stopwords, 6dp
    (0.0 for token-less text). Running prose sits well above ~0.1;
    keyword-stuffed / boilerplate / non-text pages sit near 0 — the
    third leg of the quality triple (length / punct / stopword
    ratios). One pass of column expressions, no shuffle, no Python."""
    toks = _tokens_arr(text)
    n = F.size(toks)
    ns = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return (
        F.round(F.when(n == 0, F.lit(0.0)).otherwise(ns / n), 6)
        .cast("double")
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality: alphabetic mass, sane word length
    (penalize <3 or >12 mean), low punctuation density, non-trivial
    length. The exact blend is this engine's own (the reference has
    no quality scoring); what matters is that it is deterministic,
    cheap, and SQL-checkable."""
    mwl = mean_word_len(text)
    len_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    word_term = F.when((mwl >= 3.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.3)
    )
    return (
        F.round(
            0.4 * alpha_ratio(text)
            + 0.2 * (1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0)))
            + 0.2 * word_term
            + 0.2 * len_term,
            6,
        )
    ).cast("double")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the case/punctuation-normalized
    text — the canonical near-exact-dup key (whitespace and casing
    changes collapse)."""
    return F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))


def _nonempty_lines(text: Column) -> Column:
    return F.filter(F.split(text, "\n"), lambda l: F.length(l) > 0)


def _tokens_arr(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda x: F.length(x) > 0
    )


def dup_line_frac_expr(text: Column) -> Column:
    """Fraction of non-empty lines repeating an earlier identical
    line, as a pure per-doc column expression (zero shuffle):
    1 - |distinct lines| / |lines|."""
    lines = _nonempty_lines(text)
    n = F.size(lines)
    return F.coalesce(
        F.when(n <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / n
        ),
        F.lit(0.0),
    ).cast("double")


def dup_line_char_frac_expr(text: Column) -> Column:
    """Fraction of line characters inside repeated line occurrences:
    (total chars - chars of distinct lines) / total chars — each
    distinct value contributes its length once, so this equals
    sum((c-1)*len) / sum(c*len) of the per-line-count form."""
    lines = _nonempty_lines(text)
    zero = F.lit(0).cast("long")
    tot = F.aggregate(lines, zero, lambda a, l: a + F.length(l))
    dis = F.aggregate(
        F.array_distinct(lines), zero, lambda a, l: a + F.length(l)
    )
    return F.coalesce(
        F.when(tot <= 0, F.lit(0.0)).otherwise((tot - dis) / tot),
        F.lit(0.0),
    ).cast("double")


def top_token_frac_expr(text: Column) -> Column:
    """Fraction of alphanumeric tokens taken by the single most
    frequent token: run-length over the SORTED token array inside one
    higher-order aggregate — O(n log n) per doc, no explode, no
    shuffle, whole-stage codegen."""
    toks = F.array_sort(_tokens_arr(text))
    zero = F.lit(0).cast("long")
    state0 = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("n"),
    )

    def _step(acc, t):
        run = (
            F.when(t == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["n"] + 1).alias("n"),
        )

    res = F.aggregate(
        toks,
        state0,
        _step,
        lambda acc: F.when(acc["n"] <= 0, F.lit(0.0)).otherwise(
            acc["best"] / acc["n"]
        ),
    )
    return F.coalesce(res, F.lit(0.0)).cast("double")


def top_tokens(
    docs: "DataFrame",
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """(token, freq, n_docs): the corpus vocabulary head — top-k
    alphanumeric tokens of lower(text) by total frequency, with
    document frequency alongside (the tf/df pair vocab building and
    stopword mining start from). Total order (freq desc, token asc)
    makes the k-boundary deterministic.

    Scale shape: explode -> ONE partial-aggregated groupBy(token) ->
    global top-k as TakeOrderedAndProject (no full sort, no second
    shuffle; the same plan shape gated for W2 in test_plans)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("freq"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    return counts.orderBy(F.desc("freq"), F.asc("token")).limit(k)


def corpus_filter(
    docs: "DataFrame",
    min_tokens: int = 5,
    min_quality: float = 0.5,
    langs: tuple = ("en",),
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_top_token_frac: float = 0.2,
    min_stopwords: int = 2,
    max_top_ngram_frac: dict | None = None,
    max_dup_ngram_frac: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """(doc_id, keep, reason): the training-data admission gate —
    drop too-short documents, repetitive/boilerplate documents
    (Gopher repetition thresholds, Rae et al. 2021 Appendix A1.1 —
    the reason these filters exist in every web-corpus pipeline),
    low-quality documents, non-prose documents failing Gopher's
    stop-word existence check (fewer than `min_stopwords` of the
    fixed 8-word list — keyword soup and navigation pages), and
    languages outside the target set, recording the FIRST failing
    check ('short' | 'repetition' | 'low_quality' | 'no_stopwords' |
    'lang', null when kept) so drop-rate dashboards can attribute
    losses. Pure column expressions over the ONE text pass (codegen;
    all the scores — including the repetition signals, expressed
    per-doc with higher-order array functions — share the scan; no
    shuffle anywhere).

    `max_top_ngram_frac` / `max_dup_ngram_frac` (off by default)
    extend 'repetition' with the A1.1 n-gram half as {n: threshold}
    maps — Gopher's published values are top {2: .20, 3: .18,
    4: .16} and dup {5: .15 … 10: .10}.  When enabled, the gate
    tokenizes ONCE into a projected column shared by every n (the
    tokenize-once rule — an inline outer array inside the fold
    lambdas would re-tokenize per element); the default plan is
    bit-unchanged."""
    t = F.col(text_col)
    repetitive = (
        (dup_line_frac_expr(t) > max_dup_line_frac)
        | (dup_line_char_frac_expr(t) > max_dup_line_char_frac)
        | (top_token_frac_expr(t) > max_top_token_frac)
    )
    if max_top_ngram_frac or max_dup_ngram_frac:
        docs = docs.select(
            F.col(id_col), t, _tokens_arr(t).alias("_ts")
        )
        ts = F.col("_ts")
        for n, thr in (max_top_ngram_frac or {}).items():
            repetitive = repetitive | (
                top_ngram_char_frac_from_tokens(ts, n) > thr
            )
        for n, thr in (max_dup_ngram_frac or {}).items():
            repetitive = repetitive | (
                dup_ngram_char_frac_from_tokens(ts, n) > thr
            )
    reason = (
        # coalesce: NULL text (the schema allows it) must classify as
        # 'short' deterministically — under ANSI null-propagation the
        # bare comparison skips every gate except lang, misattributing
        # empty docs to language filtering (and the attribution would
        # flip if ANSI were ever disabled)
        F.when(F.coalesce(token_count(t), F.lit(0)) < min_tokens, F.lit("short"))
        .when(repetitive, F.lit("repetition"))
        .when(quality_score(t) < min_quality, F.lit("low_quality"))
        .when(~lang_id(t).isin(*langs), F.lit("lang"))
        # after the language gate: any non-English doc trivially
        # lacks ENGLISH stop words — 'lang' is the useful attribution
        # there; 'no_stopwords' is for in-language keyword soup
        .when(
            F.coalesce(gopher_stopword_count(t), F.lit(0)) < min_stopwords,
            F.lit("no_stopwords"),
        )
    )
    return docs.select(
        F.col(id_col),
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


def repetition_stats(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021, "Scaling Language Models: Methods, Analysis & Insights
    from Training Gopher", Appendix A1.1 repetition filters — the
    standard web-corpus filter family):

      - n_lines            non-empty lines
      - dup_line_frac      fraction of lines that repeat an earlier
                           identical line
      - dup_line_char_frac fraction of line characters inside those
                           repeated occurrences
      - top_token_frac     fraction of alphanumeric tokens taken by
                           the single most frequent token

    Scale shape: pure per-doc column expressions (higher-order array
    functions over the line/token splits) — ZERO shuffle, no window,
    no per-row Python, no explode; the whole thing is one codegen'd
    map over the text scan. An earlier form used explode +
    map-side-combined groupBys; the expression form computes the
    identical values without moving a single row. Rounded to 6 dp
    (oracle parity)."""
    from pyspark.sql import DataFrame  # noqa: F401 (type only)

    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.coalesce(
            F.size(_nonempty_lines(t)).cast("long"), F.lit(0).cast("long")
        ).alias("n_lines"),
        F.round(dup_line_frac_expr(t), 6).alias("dup_line_frac"),
        F.round(dup_line_char_frac_expr(t), 6).alias("dup_line_char_frac"),
        F.round(top_token_frac_expr(t), 6).alias("top_token_frac"),
    )


def _ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a token-array column;
    empty for docs with < n tokens.  `toks` MUST be a projected
    attribute: the window slice inside the lambda references the
    outer array, and a non-attribute outer reference re-evaluates its
    whole expression per element (higher-order functions are
    interpreted — no subexpression reuse), turning tokenization
    O(tokens) into O(tokens²) per doc."""
    cnt = F.size(toks) - (n - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _ngrams_arr(text: Column, n: int) -> Column:
    """Text-level wrapper of _ngrams_from_tokens (tokens by the
    corpus-wide [a-z0-9]+ convention); hot paths project the token
    array first."""
    return _ngrams_from_tokens(_tokens_arr(text), n)


def top_ngram_char_frac_from_tokens(toks: Column, n: int) -> Column:
    """Gopher top-n-gram signal (Rae et al. 2021 A1.1, n in {2,3,4}):
    fraction of the doc's content characters contained in the single
    most frequent word n-gram — occurrences(top) · chars(top) /
    chars(space-joined tokens).  Ties break to the lexicographically
    FIRST gram (run-length scan over the sorted gram array updates on
    strictly-greater only; the DuckDB mirror arg-mins (c desc, g
    asc)).  Pure per-doc fold over a projected token column:
    O(g log g), no explode, no shuffle."""
    grams = F.array_sort(_ngrams_from_tokens(toks, n))
    total = F.length(F.concat_ws(" ", toks))
    zero = F.lit(0).cast("long")
    state0 = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("best_chars"),
    )

    def _step(acc, g):
        run = (
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        better = run > acc["best"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, F.length(g).cast("long"))
            .otherwise(acc["best_chars"])
            .alias("best_chars"),
        )

    res = F.aggregate(grams, state0, _step)
    frac = F.when(total <= 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), (res["best"] * res["best_chars"]) / total)
    )
    return F.coalesce(frac, F.lit(0.0)).cast("double")


def dup_ngram_char_frac_from_tokens(toks: Column, n: int) -> Column:
    """Gopher duplicate-n-gram signal (A1.1, n in {5..10}), under this
    repo's excess-occurrence convention (the dup_line_char_frac
    analog): Σ over grams of (count−1) · chars(gram), over the doc's
    content characters, capped at 1.0 (overlapping duplicates can
    exceed the denominator; Gopher's positional char mask is the
    deployment-grade refinement — the filter decision band is the
    same).  One fold over the sorted gram array (projected token
    column): every gram equal to its sorted predecessor adds its own
    length."""
    grams = F.array_sort(_ngrams_from_tokens(toks, n))
    total = F.length(F.concat_ws(" ", toks))
    zero = F.lit(0).cast("long")
    state0 = F.struct(F.lit("").alias("prev"), zero.alias("excess"))

    def _step(acc, g):
        return F.struct(
            g.alias("prev"),
            (
                acc["excess"]
                + F.when(g == acc["prev"], F.length(g).cast("long"))
                .otherwise(zero)
            ).alias("excess"),
        )

    res = F.aggregate(grams, state0, _step)
    frac = F.when(total <= 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), res["excess"] / total)
    )
    return F.coalesce(frac, F.lit(0.0)).cast("double")


def ngram_repetition_stats(
    docs: "DataFrame",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-doc Gopher n-gram repetition signals: top_{n}gram_frac for
    each n in top_ns, dup_{n}gram_frac for each n in dup_ns — the
    n-gram half of the A1.1 filter family (repetition_stats carries
    the line/token half).  Same scale shape: pure per-doc folds, ZERO
    shuffle, still one map over the text scan — tokenization happens
    ONCE into a projected column shared by every signal (a lambda
    referencing an inline outer array would re-tokenize per element,
    O(tokens²) per doc per signal).  6 dp (oracle parity)."""
    toks = docs.select(
        F.col(id_col), _tokens_arr(F.col(text_col)).alias("_ts")
    )
    ts = F.col("_ts")
    return toks.select(
        F.col(id_col),
        *[
            F.round(top_ngram_char_frac_from_tokens(ts, n), 6).alias(
                f"top_{n}gram_frac"
            )
            for n in top_ns
        ],
        *[
            F.round(dup_ngram_char_frac_from_tokens(ts, n), 6).alias(
                f"dup_{n}gram_frac"
            )
            for n in dup_ns
        ],
    )


# ---------------------------------------------------------------
# PII scrubbing (the C4/Dolma-style pre-training hygiene pass)
# ---------------------------------------------------------------

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret IDENTICALLY: character classes, bounded quantifiers, \b
# word boundaries — no backrefs, no lookaround (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(text: Column) -> Column:
    """Sequentially redacted text: emails -> <EMAIL>, then phone
    numbers -> <PHONE>, then IPv4 addresses -> <IP>. The order is
    part of the semantics — each later pattern scans the output of
    the earlier redaction, so x555-123-4567@corp.example is ONE
    email, not an email plus an embedded phone number. (An email
    host must end in an alphabetic TLD, so user@10.1.2.3 is NOT an
    email — the address inside it is an IPv4 hit.)"""
    t1 = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(t2, PII_IPV4_RE, "<IP>")


def pii_scrub(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """(id, clean_text, n_emails, n_phones, n_ipv4): detect and
    redact the three classic PII shapes every web-corpus pipeline
    scrubs before training (the C4 / Dolma hygiene pass): email
    addresses, NANP-style phone numbers (ddd-ddd-dddd / ddd.ddd.dddd),
    and IPv4 addresses. Counts are per redaction STAGE (each pattern
    counted on the text the previous redactions produced), so the
    counts always agree with the placeholders present in clean_text.

    Scale shape: pure regexp column expressions — zero shuffle, no
    Python, one codegen'd map over the text scan; at 100 TB this is
    embarrassingly parallel and reads only (id, text)."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    t3 = F.regexp_replace(t2, PII_IPV4_RE, "<IP>")
    return docs.select(
        F.col(id_col),
        t3.alias("clean_text"),
        F.regexp_count(t0, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t2, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
    )


def corpus_profile(
    docs: DataFrame,
    probs: tuple = (0.5, 0.9, 0.99),
    exact: bool = False,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language corpus profile — (lang, n_docs, total_chars,
    mean_chars, len_q, tok_q): doc counts, char totals/means, and
    quantiles of doc length and whitespace token count at `probs`.
    The distribution report a pipeline run emits before/after a
    filtering stage (did the gate move the length mass the way the
    thresholds intended?).

    100 TB shape: ONE map-side-combined groupBy(lang) with a
    dimension-sized result.  exact=False (default) profiles with
    percentile_approx — Spark's mergeable bounded-memory quantile
    sketch, the only sane form when one language holds 1e9+ docs;
    exact=True switches to exact percentile (per-group value
    collection — small-slice profiling and the DuckDB-parity oracle;
    interpolation is quantile_cont-identical, verified bit-exact)."""
    t = F.col(text_col)
    length = F.length(F.coalesce(t, F.lit("")))
    ntok = F.coalesce(token_count(t), F.lit(0))
    parr = F.array(*[F.lit(float(p)) for p in probs])

    def q(col):
        return (
            F.percentile(col, parr)
            if exact
            else F.percentile_approx(col, parr, F.lit(10000))
        )

    return docs.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(length).cast("long").alias("total_chars"),
        F.avg(length).alias("mean_chars"),
        q(length).alias("len_q"),
        q(ntok).alias("tok_q"),
    )


def c4_filters(
    docs: "DataFrame",
    min_line_words: int = 5,
    min_lines: int = 3,
    blocklist: tuple = (),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """(doc_id, clean_text, n_lines_kept, n_lines_dropped, keep,
    reason): the C4 cleanup rules (Raffel et al. 2020 §2.2 — the
    original web-corpus line/document filter set):

      line level — keep a line only if its trimmed form ends in a
      terminal punctuation mark ('.', '!', '?', or a closing quote),
      has >= min_line_words whitespace words, and does not mention
      'javascript' (C4 drops cookie/JS-warning boilerplate lines);
      doc level — drop any page containing 'lorem ipsum'
      (placeholder text), a '{' (source code), a blocklisted word
      (token-exact match on the corpus [a-z0-9]+ convention; C4 used
      a public profanity list — pass your own), or fewer than
      min_lines surviving lines.

    reason = first failing doc check ('lorem_ipsum' | 'brace' |
    'blocklist' | 'too_few_lines', null when kept); clean_text = the
    surviving lines rejoined (reported even for dropped docs so
    drop-rate dashboards can inspect what the rules left). NULL text
    classifies as 'too_few_lines' deterministically.

    Scale shape: every rule is a pure column expression over the one
    text pass — line split, per-line word counts, and the keeps are
    higher-order array functions; zero shuffle, whole-stage codegen,
    the corpus_filter shape. Compose AFTER corpus_filter's gates or
    standalone."""
    t = F.col(text_col)
    lt = F.lower(t)
    words = lambda l: F.filter(  # noqa: E731
        F.split(F.trim(l), r"\s+"), lambda x: F.length(x) > 0
    )
    line_keep = lambda l: (  # noqa: E731
        F.substring(F.trim(l), -1, 1).isin(".", "!", "?", '"', "'")
        & (F.size(words(l)) >= min_line_words)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(F.split(t, "\n"), line_keep)
    n_kept = F.coalesce(F.size(kept), F.lit(0))
    n_total = F.coalesce(F.size(F.split(t, "\n")), F.lit(0))
    # ONE arrays_overlap against a literal array, not an OR-chain of
    # array_contains terms — a real blocklist is ~400 words, and 400
    # subtrees each re-embedding the tokenize split would blow past
    # codegen method-size limits on the corpus-wide hot path
    if blocklist:
        blocked = F.arrays_overlap(
            _tokens_arr(t),
            F.lit([w.lower() for w in blocklist]).cast("array<string>"),
        )
    else:
        blocked = F.lit(False)
    reason = (
        F.when(F.coalesce(lt.contains("lorem ipsum"), F.lit(False)), F.lit("lorem_ipsum"))
        .when(F.coalesce(t.contains("{"), F.lit(False)), F.lit("brace"))
        .when(F.coalesce(blocked, F.lit(False)), F.lit("blocklist"))
        .when(n_kept < min_lines, F.lit("too_few_lines"))
    )
    return docs.select(
        F.col(id_col),
        F.coalesce(F.concat_ws("\n", kept), F.lit("")).alias("clean_text"),
        n_kept.cast("long").alias("n_lines_kept"),
        (n_total - n_kept).cast("long").alias("n_lines_dropped"),
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )
