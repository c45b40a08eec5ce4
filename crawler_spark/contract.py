"""Driver-contract queries: every SQL-expressible operator from
SURVEY.md §2 (and the pipeline-ops layer) as a (spark, sf_dir) ->
DataFrame callable paired with an exact DuckDB oracle.

The driver runs each pair side-by-side at sf=0.01 and compares
row count + schema + order-insensitive value-hash, so:
 - every computed column is aliased identically in both,
 - every double is rounded (6 or 9 dp) in both,
 - every ranking has a total order (score, then id).

Crawl-core operators whose inputs are themselves engine state (walk
generation, pagerank, personalized pagerank) are included as
rows-only entries (no oracle): they are gated by the analytic-fixture
pytest suites instead (tests/test_walks.py, test_ppr.py).

The graph used by relational demonstrations derives deterministically
from the driver's own tables (events/lineitem), never from external
data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import graph, rank, seen, walks_gen
from . import frontier as frontier_mod
from .functions import extract as extract_mod
from .functions.extract import is_valid_url, url_host
from .ops import (
    anchors,
    bpe,
    classifier,
    decontam,
    dedup,
    dsir,
    multimodal,
    packing,
    sampling,
    similarity,
    textstats,
)

SPLIT_TS = "1998-06-01 00:00:00"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _user_url(col):
    """Deterministic url per user id: 1-in-7 malformed (exercises the
    validity filter), else https://host<id%20>.test/u<id>."""
    return F.when(
        col % 7 == 0, F.concat(F.lit("ftp://bad"), col.cast("string"))
    ).otherwise(
        F.concat(
            F.lit("https://host"),
            (col % 20).cast("string"),
            F.lit(".test/u"),
            col.cast("string"),
        )
    )


_USER_URL_SQL = (
    "case when {c} % 7 = 0 then 'ftp://bad' || cast({c} as varchar) "
    "else 'https://host' || cast({c} % 20 as varchar) || '.test/u' "
    "|| cast({c} as varchar) end"
)


def _events_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived follow graph over the events table: src = user_id,
    dst = (json props k * 7) mod 150 — deterministic, skewed-ish."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(
            F.col("user_id").alias("src"), ((k * 7) % 150).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )


# ---------------- SQL-checked queries ----------------


def q_s4_latest_event_dedup(spark, sf_dir):
    """W1/S4 latest-per-(key,kind) dedup (crawler.go:206-217)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def q_s2_admission_seen_filter(spark, sf_dir):
    """S2/J3 admission via the partitioned bloom + exact verify: which
    customer keys are NOT already seen as event users. The bloom is an
    optimization — the admitted set is exactly the anti-join."""
    seen_urls = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(_user_url(F.col("uid")).alias("url"))
    )
    candidates = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("uid"))
        .distinct()
        .select(_user_url(F.col("uid")).alias("url"))
    )
    filters = seen.build_seen_filters(seen_urls, n_buckets=16)
    # eager=False, no release list: the fully-lazy mode. The driver
    # consumes this once and cannot unpersist anything afterwards, so
    # nothing is persisted — the probe UDF runs once per union branch
    # (exchange reuse only covers the shuffle below the probe, not the
    # probe itself; measured in BENCH/BASELINE.md). Acceptable here:
    # correctness contract, tiny sf. The bench/engine use the
    # persist-and-release mode, which runs the probe once.
    return seen.admit_new_urls(
        candidates, filters, seen_urls, 16, eager=False
    ).select("url")


def q_a1_visit_counts(spark, sf_dir):
    """A1 VisitCounts shape: one hash agg (store.go:169-194)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("node_id"))
        .agg(F.count("*").alias("visits"))
    )


def q_a3_global_rank(spark, sf_dir):
    """A3 rank = visits/total (pagerank.go:17-44) over event counts."""
    ev = _t(spark, sf_dir, "events")
    total = ev.count()
    return (
        ev.groupBy(F.col("user_id").alias("node_id"))
        .agg(F.count("*").alias("visits"))
        .select(
            "node_id",
            F.round(F.col("visits") / F.lit(float(total)), 9).alias("rank"),
        )
    )


def q_a5_degrees(spark, sf_dir):
    """A5 Follow/FollowerCounts over the derived graph."""
    e = _events_edges(spark, sf_dir)
    out_deg = graph.follow_counts(e)
    in_deg = graph.follower_counts(e)
    return (
        out_deg.join(in_deg, "node_id", "full")
        .select(
            "node_id",
            F.coalesce("follow_count", F.lit(0)).alias("follow_count"),
            F.coalesce("follower_count", F.lit(0)).alias("follower_count"),
        )
    )


def q_j2_adjacency_lists(spark, sf_dir):
    """J2 bulk Follows (database.go:309-368) through the REAL
    adjacency_lists operator (collect_list + sort_array), exploded to
    (node_id, pos, follow) rows so the driver's order-insensitive
    hash can canonicalize them (array cells are unhashable in its
    pandas sort); pos asserts the per-node sort order."""
    adj = graph.adjacency_lists(_events_edges(spark, sf_dir))
    return adj.select(
        F.col("src").alias("node_id"),
        F.posexplode("follows").alias("pos", "follow"),
    ).select("node_id", F.col("pos").cast("long").alias("pos"), "follow")


def q_t3_delta_partition(spark, sf_dir):
    """T3 delta algebra (slice.go:74-105): supplier->part sets before/
    after a split date, partitioned into removed/common/added and
    exploded to rows for order-insensitive comparison."""
    li = _t(spark, sf_dir, "lineitem")
    old = (
        li.filter(F.col("l_shipdate") < F.lit(SPLIT_TS).cast("timestamp"))
        .groupBy(F.col("l_suppkey").alias("node_id"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("old_follows"))
    )
    new = (
        li.filter(F.col("l_shipdate") >= F.lit(SPLIT_TS).cast("timestamp"))
        .groupBy(F.col("l_suppkey").alias("node_id"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("new_follows"))
    )
    deltas = graph.delta_partition(old.join(new, "node_id", "full"))
    parts = [
        deltas.select(
            "node_id", F.lit(kind).alias("kind"), F.explode(kind).alias("member")
        )
        for kind in ("removed", "common", "added")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_w2_topk(spark, sf_dir):
    """W2 top-k with total order (scores.orderBy desc, id)."""
    counts = q_a1_visit_counts(spark, sf_dir)
    w = Window.orderBy(F.desc("visits"), F.asc("node_id"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("node_id", "visits", "rn")
    )


def q_w3_politeness_schedule(spark, sf_dir):
    """W3 scheduler: per-host budget window + global priority order,
    through the REAL frontier.schedule_batch operator."""
    import datetime as dt

    ev = _t(spark, sf_dir, "events")
    now = dt.datetime(2025, 1, 1)
    fr = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("double").alias("priority"))
        .filter(F.col("user_id") % 7 != 0)  # valid urls only
        .select(
            _user_url(F.col("user_id")).alias("url"),
            F.concat(
                F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
            ).alias("host"),
            F.col("user_id").alias("node_id"),
            "priority",
            F.lit(now).cast("timestamp").alias("enqueued_ts"),
            F.lit(None).cast("timestamp").alias("fetched_ts"),
            F.lit("queued").alias("state"),
        )
    )
    batch, _ = frontier_mod.schedule_batch(
        fr, None, now, tick_seconds=3.0, batch_size=50,
        default_crawl_delay_s=1.0,
    )
    return batch.select("url", "host", "node_id", "priority")


def q_m12_mint_node_ids(spark, sf_dir):
    """M12 deterministic dense-id minting for unseen urls."""
    seen_urls = (
        _t(spark, sf_dir, "events")
        .select(_user_url(F.col("user_id")).alias("url"))
        .distinct()
    )
    cand = (
        _t(spark, sf_dir, "customer")
        .select(_user_url(F.col("c_custkey")).alias("url"))
        .distinct()
    )
    nodes = seen_urls.withColumn(
        "node_id",
        F.row_number().over(Window.orderBy("url")).cast("long") - 1,
    ).select("node_id", "url", F.lit("active").alias("status"),
             F.lit(None).cast("timestamp").alias("added_ts"),
             F.lit(None).cast("timestamp").alias("promoted_ts"),
             F.lit(None).cast("timestamp").alias("demoted_ts"))
    return graph.mint_node_ids(nodes, cand).select("node_id", "url")


def q_p6_url_validity(spark, sf_dir):
    """P6 url validity + host extraction (the IsValidPublicKey role)."""
    urls = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(F.col("uid"), _user_url(F.col("uid")).alias("url"))
    )
    return urls.filter(is_valid_url(F.col("url"))).select(
        "uid", "url", url_host(F.col("url")).alias("host")
    )


_ROBOTS_RULES = [
    ("h0.test", False, "/p/"),
    ("h0.test", True, "/p/pub/"),     # longer allow overrides
    ("h1.test", False, "/*.json"),    # wildcard
    ("h2.test", False, "/x$"),        # end anchor
    ("h3.test", False, ""),           # empty pattern = no-op
    # h4.test: no rules -> default allow
]


def q_robots_verdicts(spark, sf_dir):
    """RFC 9309 robots evaluation: deterministic urls from event ids
    against a fixed per-host rule set (allow-override, wildcard, $
    anchor, empty no-op, ruleless host)."""
    m = F.pmod(F.col("user_id"), F.lit(40))
    url = F.concat(
        F.lit("https://h"),
        F.pmod(m, F.lit(5)).cast("string"),
        F.lit(".test"),
        F.when(m % 4 == 0, F.concat(F.lit("/p/"), m.cast("string")))
        .when(m % 4 == 1, F.concat(F.lit("/p/pub/"), m.cast("string")))
        .when(m % 4 == 2, F.concat(F.lit("/data/"), m.cast("string"), F.lit(".json")))
        .otherwise(F.lit("/x")),
    )
    urls = (
        _t(spark, sf_dir, "events").select(url.alias("url")).distinct()
    )
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, allow boolean, pattern string"
    )
    return frontier_mod.robots_verdicts(urls, rules)


def q_robots_parse(spark, sf_dir):
    """robots.txt parsing: deterministic one-group bodies built from
    event ids, parsed by frontier.parse_robots (Arrow mapInPandas);
    the oracle regenerates the rule rows from the same structure —
    the general parser (group selection, comments, multi-agent) is
    gated by the pytest fixtures instead."""
    m = F.pmod(F.col("user_id"), F.lit(40))
    ms = m.cast("string")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /p/"), ms,
        F.lit("\nAllow: /p/"), ms, F.lit("/pub/\nCrawl-delay: "),
        (1 + m % 3).cast("string"),
    )
    docs = (
        _t(spark, sf_dir, "events")
        .select(
            F.concat(F.lit("h"), ms, F.lit(".test")).alias("host"),
            txt.alias("robots_txt"),
        )
        .distinct()
    )
    return frontier_mod.parse_robots(docs, user_agent="anybot")


def q_url_canonicalize(spark, sf_dir):
    """Canonical URL form ahead of the seen-set probe: messy variants
    (case, default ports, fragments, unsorted queries) are built
    deterministically from event user ids, then folded by
    extract.canonical_url — pure column expressions, codegen."""
    uid = F.col("uid")
    messy = F.concat(
        F.when(uid % 2 == 0, F.lit("HTTP://Node")).otherwise(
            F.lit("http://node")
        ),
        uid.cast("string"),
        F.lit(".Test"),
        F.when(uid % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/P/"),
        uid.cast("string"),
        F.when(uid % 4 == 0, F.lit("?b=2&a=1"))
        .when(uid % 4 == 1, F.lit("?a=1"))
        .otherwise(F.lit("")),
        F.when(uid % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(
            uid,
            messy.alias("url"),
            extract_mod.canonical_url(messy).alias("canon"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    # r = 4 rows/band: P(candidate) = 1-(1-J^4)^4 — steep enough that
    # vocabulary-sharing docs don't flood the candidate set
    return dedup.lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), n_hashes=16, bands=4
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.6
    )


def q_dedup_lsh_jaccard_verified(spark, sf_dir):
    """The 100-TB dedup pipeline: LSH banding proposes candidates,
    exact n-gram Jaccard verifies ONLY those pairs (the raw shingle
    self-join goes quadratic on common shingles at corpus scale)."""
    docs = _t(spark, sf_dir, "documents")
    cands = dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=4)
    return dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.6, candidates=cands
    )


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: LSH candidates -> exact
    Jaccard verify -> connected components (large-star/small-star)
    -> keep-the-longest per cluster. One row per document."""
    return dedup.dedup_clusters(
        _t(spark, sf_dir, "documents"), n_hashes=16, bands=4, threshold=0.6
    )


def q_dedup_simhash_clusters(spark, sf_dir):
    """Clustering composed with a DIFFERENT pair source: simhash
    hamming<=3 pairs -> the same components + keep-the-longest —
    dedup_clusters(pairs=) is pair-relation-agnostic."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(
        docs, max_hamming=3, n_bits=64
    ).select("doc_a", "doc_b")
    return dedup.dedup_clusters(docs, pairs=pairs)


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"), n_bits=64)


def q_dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, n_bits=64
    )


def q_corpus_filter(spark, sf_dir):
    """Training-data admission gate: keep/drop + first failing
    reason (short | repetition | low_quality | no_stopwords | lang)
    per document."""
    return textstats.corpus_filter(
        _t(spark, sf_dir, "documents"),
        min_tokens=5,
        min_quality=0.5,
        langs=("en",),
    )


def q_vocab_top_tokens(spark, sf_dir):
    """Corpus vocabulary head: top-100 tokens by frequency with
    document frequency — TakeOrderedAndProject, never a full sort."""
    return textstats.top_tokens(_t(spark, sf_dir, "documents"), k=100)


def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count(t).alias("n_tokens"),
        textstats.bpe_token_estimate(t).alias("n_bpe_tokens"),
        textstats.lang_id(t).alias("lang_guess"),
        textstats.quality_score(t).alias("quality"),
        textstats.stopword_ratio(t).alias("stopword_frac"),
        textstats.fingerprint(t).alias("fp"),
    )


def _mm_media(spark, sf_dir):
    """Deterministic media-metadata table derived from `documents` by
    pure column math (mirrored exactly in the oracles): kind cycles
    image/audio/video by doc_id, durations and dimensions are modular
    functions of doc_id. Payload bytes are irrelevant to the PLAN
    operators under test — the whole point of the typed-metadata
    schema (ops/multimodal.py) is that plan math never touches them."""
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id"))
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        (F.lit(16) + F.col("doc_id") % 112).alias("width"),
        (F.lit(16) + (F.col("doc_id") * 7) % 112).alias("height"),
        (F.lit(1000) + (F.col("doc_id") * 37) % 60000).alias("duration_ms"),
    )


def q_mm_frame_plan(spark, sf_dir):
    """Video frame-sampling plan (ops/multimodal.frame_sample):
    sequence+explode column math, one row per sampled frame."""
    plan = multimodal.frame_sample(
        _mm_media(spark, sf_dir), every_ms=10000, max_frames=8
    )
    return plan.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )


def q_mm_resize_plan(spark, sf_dir):
    """Image resize plan (ops/multimodal.resize_plan): scale factors
    as 6-dp column math over the typed metadata only."""
    return multimodal.resize_plan(_mm_media(spark, sf_dir), target=64)


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (dup-line fractions + top-token
    fraction) over the documents table."""
    return textstats.repetition_stats(_t(spark, sf_dir, "documents"))


def _pii_planted(spark, sf_dir):
    """documents with deterministic PII planted by pure column math
    (mirrored exactly in the oracle): the synthetic corpus contains
    no emails/phones/IPs (verified), so the driver row would be
    redaction-vacuous over the raw text — doc_id-derived plants make
    every branch of the scrubber do real work on ~30% of rows."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" mail user"), s(did), F.lit("@ex"),
                s(did % 5), F.lit(".org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" tel 555-"),
                F.lpad(s(did % 1000), 3, "0"),
                F.lit("-"),
                F.lpad(s((did * 7) % 10000), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" ip 10."), s(did % 256), F.lit(".0."),
                s((did * 3) % 256),
            ),
        ).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", planted.alias("text")
    )


def q_pii_scrub(spark, sf_dir):
    """C4/Dolma-style PII hygiene pass: detect + sequentially redact
    emails, phone numbers, IPv4 addresses (ops/textstats.pii_scrub) —
    pure regexp column expressions, zero shuffle."""
    return textstats.pii_scrub(_pii_planted(spark, sf_dir))


def _multiline_docs(spark, sf_dir):
    """documents re-shaped into a deterministic multi-line corpus
    (mirrored exactly in the oracle): the synthetic text is one
    line, so line-level ops would be vacuous on it — splitting on a
    frequent token makes organic lines, and two planted footers make
    guaranteed cross-document boilerplate."""
    did = F.col("doc_id")
    t = F.replace(F.col("text"), F.lit(" value "), F.lit("\n"))
    planted = F.concat(
        t,
        F.when(
            did % 4 == 0, F.lit("\nall rights reserved footer")
        ).otherwise(F.lit("")),
        F.when(
            did % 9 == 0, F.lit("\nsubscribe to our newsletter")
        ).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", planted.alias("text")
    )


def q_line_dedup(spark, sf_dir):
    """CCNet/Dolma-style cross-document boilerplate-line removal
    (ops/dedup.line_dedup): lines appearing in >= 2 distinct docs are
    dropped everywhere, survivors rejoin in order."""
    return dedup.line_dedup(_multiline_docs(spark, sf_dir), min_docs=2)


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing manifest
    (ops/packing.pack_sequences): docs concatenated in id order, cut
    every 128 whitespace tokens; one row per (sequence, doc) slice.
    Two-phase parallel prefix sum — no global-order window."""
    return packing.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=128, n_buckets=8
    )


def q_dedup_incremental_lines(spark, sf_dir):
    """Batch-vs-corpus line dedup: the corpus participates only
    through its stored (fp, n_docs) line-count table
    (ops/dedup.incremental_line_dedup); exactness oracle = the
    batch-id slice of a full run over corpus ∪ batch."""
    aug = _multiline_docs(spark, sf_dir)
    corpus = dedup.line_corpus_counts(aug.filter(F.col("doc_id") % 3 != 0))
    return dedup.incremental_line_dedup(
        aug.filter(F.col("doc_id") % 3 == 0), corpus, min_docs=2
    )


def q_pipeline_pack(spark, sf_dir):
    """The COMPOSED training-data pipeline as one hash-checked chain:
    multi-line corpus (planted boilerplate + per-doc-unique planted
    emails) -> line_dedup (footers drop, unique contact lines
    survive) -> redact_pii (those lines become <EMAIL>) -> length
    gate (>= 10 tokens) -> pack_sequences (budget 64). Every stage
    transforms real rows; the manifest hash pins the whole chain."""
    did = F.col("doc_id")
    aug = _multiline_docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit("\ncontact user"), did.cast("string"),
                    F.lit("@ex.org"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    ld = dedup.line_dedup(aug, min_docs=2)
    docs2 = ld.select(
        "doc_id", textstats.redact_pii(F.col("clean_text")).alias("text")
    )
    kept = docs2.filter(textstats.token_count(F.col("text")) >= 10)
    return packing.pack_sequences(kept, budget=64, n_buckets=8)


_DECON_PASSAGE = " the quick crawl ranks pages by visit mass every epoch"


def q_decontamination(spark, sf_dir):
    """GPT-3/Dolma eval-set decontamination verdicts
    (ops/decontam.contamination): per training doc, the number of
    distinct word 8-grams shared with the eval slice.  The synthetic
    corpus shares almost no >=5-grams organically (verified: 1 doc),
    so a benchmark passage is planted by pure column math (mirrored
    in the oracle) on every eval doc's side counterpart: docs with
    doc_id % 9 == 0 carry the passage, docs with doc_id % 13 == 0
    form the eval set — ~50 train docs contaminate through it."""
    did = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 9 == 0, F.lit(_DECON_PASSAGE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    ev = docs.filter(did % 13 == 0)
    train = docs.filter(did % 13 != 0)
    return decontam.contamination(train, decontam.eval_ngrams(ev, n=8), n=8)


def q_domain_mixture(spark, sf_dir):
    """Dolma/Pile-style domain mixture sampling
    (ops/sampling.sample_mixture): per-source keep-rates from target
    weights (derived deterministically from the source suffix) and a
    60%-of-corpus token budget, then a deterministic md5-draw
    Bernoulli per doc — reproducible, zero-shuffle, oracle-mirrored
    down to the hex-threshold compare."""
    docs = _t(spark, sf_dir, "documents")
    stats = sampling.domain_stats(docs)
    weights = stats.select(
        "domain",
        (
            (F.regexp_extract("domain", r"(\d+)$", 1).cast("int") % 5) + 1
        ).cast("double").alias("weight"),
    )
    rates = sampling.mixture_rates(stats, weights, budget_frac=0.6)
    kept = sampling.sample_mixture(docs, rates, seed=7)
    return kept.select(
        "doc_id", "source", F.round("rate", 6).alias("rate")
    )


def q_ngram_repetition(spark, sf_dir):
    """Gopher n-gram repetition signals
    (ops/textstats.ngram_repetition_stats): top-{2,3,4}-gram char
    fractions and dup-{5,10}-gram excess fractions per doc.  The
    single-line synthetic corpus has little organic n-gram
    repetition, so docs with doc_id % 11 == 0 are self-concatenated
    by pure column math (mirrored in the oracle) — every planted doc
    duplicates ALL its n-grams, exercising the dup path and the 1.0
    cap."""
    t = F.col("text")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat(t, F.lit(" "), t))
        .otherwise(t)
        .alias("text"),
    )
    return textstats.ngram_repetition_stats(docs)


def q_corpus_profile(spark, sf_dir):
    """Per-language corpus distribution report
    (ops/textstats.corpus_profile, exact=True for the oracle — the
    default sketch form is the 100 TB path): doc counts, char
    totals/means, and exact length/token-count quantiles whose
    interpolation is quantile_cont-identical (verified bit-exact);
    doubles at 4dp."""
    docs = _t(spark, sf_dir, "documents")
    prof = textstats.corpus_profile(docs, exact=True)
    # flatten the quantile arrays to scalar doubles: every other
    # SQL-checked entry hashes scalars, and the driver's array
    # canonicalization is an untested surface (the round-4
    # text_repetition lesson: never ship a new dtype class to the
    # driver's hash untested)
    cols = ["lang", "n_docs", "total_chars",
            F.round("mean_chars", 4).alias("mean_chars")]
    for src, tag in (("len_q", "len"), ("tok_q", "tok")):
        for i, p in enumerate(("p50", "p90", "p99")):
            cols.append(F.round(F.col(src)[i], 4).alias(f"{tag}_{p}"))
    return prof.select(*cols)


def q_bpe_token_counts(spark, sf_dir):
    """BPE tokenizer trained on the corpus (ops/bpe.train_bpe: one
    distributed word count capped by TakeOrdered, driver merge
    learning), then exact per-doc token counts under the learned
    vocabulary via the memoized Arrow encoder.  Rows-only by design:
    greedy merge learning + rank-ordered encoding is an iterative
    algorithm with no SQL form — the incremental-vs-naive-recount,
    segmentation-agreement, round-trip, and distributed-parity gates
    live in tests/test_bpe.py."""
    docs = _t(spark, sf_dir, "documents")
    model = bpe.train_bpe(docs, n_merges=200, max_words=20000,
                          min_frequency=2)
    return bpe.bpe_token_counts(docs, model["merges"])


def q_classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier SCORING path
    (ops/classifier.classifier_scores) under deterministic md5
    synthetic weights (B=512, bias 0.1), so the whole scoring plan —
    tokenize-once hashed unigram+bigram features, per-doc mean
    normalization carried through the count aggregate, broadcast
    B-row weight join, per-doc margin agg, featureless docs at the
    bias — is SQL-checked without shipping a trained model.  Doubles
    at 4dp (the logit is a cross-partition double sum — the
    dsir_importance convention)."""
    docs = _t(spark, sf_dir, "documents")
    w = classifier.synthetic_weights_df(spark, 512)
    s = classifier.classifier_scores(docs, w, bias=0.1, n_buckets=512)
    return s.select(
        "doc_id",
        F.round("logit", 4).alias("logit"),
        F.round("score", 4).alias("score"),
    )


def q_dsir_importance(spark, sf_dir):
    """DSIR hashed-n-gram importance resampling (ops/dsir.dsir_select):
    target = the corpus' English slice, raw = the whole corpus; the
    100 documents whose unigram+bigram bucket bags look most
    target-like win the deterministic Gumbel top-k.  Every stage —
    md5 bucket hash, Laplace-smoothed log-ratio, per-doc weight sum,
    md5-uniform Gumbel draw — is mirrored in the oracle; doubles
    rounded to 4dp (the weight is a cross-partition double sum, so
    6dp would sit inside reorder noise)."""
    docs = _t(spark, sf_dir, "documents")
    sel = dsir.dsir_select(
        raw_docs=docs,
        target_docs=docs.filter(F.col("lang") == "en"),
        k=100,
        n_buckets=4096,
        smoothing=1.0,
        seed=17,
    )
    return sel.select(
        "doc_id",
        F.round("logw", 4).alias("logw"),
        F.round("key", 4).alias("key"),
    )


def q_dedup_incremental_exact(spark, sf_dir):
    """Batch-vs-corpus exact dedup (the per-crawl-batch pipeline
    shape): corpus = doc_id % 3 != 0 represented ONLY by its stored
    (fp, keeper_id) table; batch = doc_id % 3 == 0 deduped against it
    and within itself (ops/dedup.incremental_exact_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    corpus_fps = dedup.corpus_fingerprints(
        docs.filter(F.col("doc_id") % 3 != 0)
    )
    return dedup.incremental_exact_dedup(
        docs.filter(F.col("doc_id") % 3 == 0), corpus_fps
    )


def q_dedup_incremental_lsh(spark, sf_dir):
    """Batch-vs-corpus MinHash-LSH candidates: only the batch is
    shingled/signed; the corpus participates through its stored
    signature table (sign once at admission)."""
    docs = _t(spark, sf_dir, "documents")
    corpus_sigs = dedup.minhash_signatures(
        docs.filter(F.col("doc_id") % 3 != 0), n_hashes=16
    )
    return dedup.incremental_lsh_pairs(
        docs.filter(F.col("doc_id") % 3 == 0), corpus_sigs,
        n_hashes=16, bands=4,
    )


def q_dedup_winnow(spark, sf_dir):
    """Winnowed rolling-hash fingerprints (Schleimer et al. SIGMOD'03)
    per document: every 16-char gram of the normalized text hashed,
    window-of-16 minima kept — the local/passage-level fingerprint
    (shared substrings >= 31 normalized chars are guaranteed to share
    a fingerprint)."""
    return dedup.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=16, w=16
    )


def q_dedup_winnow_pairs(spark, sf_dir):
    """Moss-style local-overlap candidates: documents sharing >= 2
    winnowed fingerprints, after dropping stop-fingerprints occurring
    in > 50 docs (boilerplate skew guard, broadcast anti join)."""
    return dedup.winnow_candidate_pairs(
        _t(spark, sf_dir, "documents"),
        k=16, w=16, min_shared=2, max_df=50,
    )


def q_mm_decode_features(spark, sf_dir):
    """REAL multimodal decode end-to-end (rows-only: BMP/WAV/AVI
    parsing is not DuckDB-expressible; the decode itself is gated by
    struct-level oracles in tests/test_ops.py): deterministic
    synthetic media — valid 24-bit BMPs, PCM-16 WAVs and raw-DIB
    AVIs — through the Arrow decode+featurize UDF, feature vector
    exploded to rows."""
    media = multimodal.synth_media(spark, 120, seed=9)
    feats = multimodal.extract_features(media, feat_dim=8)
    return feats.select(
        "media_id",
        "kind",
        F.posexplode("feature").alias("pos", "val"),
    ).select(
        "media_id",
        "kind",
        F.col("pos").cast("long").alias("pos"),
        F.round("val", 6).alias("val"),
    )


def q_mm_video_frames(spark, sf_dir):
    """Video frame sampling + REAL decode (rows-only: AVI parsing is
    not DuckDB-expressible; plan parity and pixel values are gated in
    tests/test_ops.py): each synthetic raw-DIB AVI decoded once, one
    row per sampled timestamp with the served container frame and its
    pixel summary."""
    media = multimodal.synth_media(spark, 120, seed=9)
    fr = multimodal.decode_sampled_frames(media, every_ms=100, max_frames=4)
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "ts_ms",
        F.col("src_frame").cast("long").alias("src_frame"),
        "height",
        "width",
        F.round("f_mean", 6).alias("f_mean"),
        F.round("f_std", 6).alias("f_std"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter("vec_id < 10"), k=10)


def q_ann_cosine_topk_lsh(spark, sf_dir):
    """Approximate ANN (sign-LSH buckets) — rows-only: the bucketing
    is hash-defined, not SQL-expressible; recall vs the exact path is
    gated in tests/test_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, emb.filter("vec_id < 10"), dim=64, k=10, n_bits=6
    )


def q_ann_cosine_topk_ivf(spark, sf_dir):
    """IVF-cell ANN — rows-only, same reasoning."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter("vec_id < 10"), n_cells=16, nprobe=4, k=10
    )


def q_embedding_near_dup(spark, sf_dir):
    """Cosine near-dup pairs over a vec_id slice. The synthetic
    embeddings are near-orthogonal (max pairwise cosine ~0.45 at
    these SFs), so the threshold sits at 0.35 — low for a real
    near-dup semantic but guaranteeing the driver row exercises the
    pair math on >0 rows (a 0.8-threshold run returned 0 pairs on
    both sides, which proved nothing); the semantic gate is the
    planted-pair pytest in test_ops."""
    emb = _t(spark, sf_dir, "embeddings").filter("vec_id < 200")
    return dedup.embedding_near_dup_pairs(emb, threshold=0.35)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) semantic dedup: k-means cells +
    within-cell cosine pairs + per-group keeper (lowest cosine to the
    cell centroid) — rows-only: the k-means training is iterative and
    hash-seeded, not SQL-expressible; the semantic gate is the
    planted-cluster pytest (test_ops.py) with a brute-force equality
    check restricted to co-located cells. Threshold matches
    embedding_near_dup's 0.35 (the synthetic embeddings are
    near-orthogonal) so the duplicate branch is exercised."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, n_cells=16, threshold=0.35, seed=42)


# ---------------- rows-only (non-SQL-expressible) ----------------


def q_mc_pagerank(spark, sf_dir):
    """Monte-Carlo pagerank over the derived events graph — walk
    generation is iterative+stochastic, not SQL; gated by the
    analytic-fixture pytest suite instead."""
    edges = _events_edges(spark, sf_dir)
    starts = edges.select(F.col("src").alias("node_id")).distinct()
    walks = walks_gen.generate_walks(
        spark, edges, starts, walks_per_node=100, seed=42, strategy="broadcast"
    )
    scores = rank.global_pagerank(walks, nodes=starts)
    return scores.select("node_id", F.round("rank", 6).alias("rank"))


def q_ppr_source0(spark, sf_dir):
    from . import ppr

    edges = _events_edges(spark, sf_dir)
    starts = edges.select(F.col("src").alias("node_id")).distinct()
    walks = walks_gen.generate_walks(
        spark, edges, starts, walks_per_node=100, seed=42, strategy="broadcast"
    )
    scores = ppr.personalized_pagerank(spark, edges, walks, 0, top_k=20, seed=42)
    return scores.select("node_id", F.round("rank", 6).alias("rank"))


def q_ppr_many_sources(spark, sf_dir):
    """M14 many-source fan-out (grouped applyInPandas, one stitch per
    source, shared bounded-neighborhood CSR) — rows-only: gated by
    the analytic fixtures + single-source parity in tests/test_ppr."""
    from . import ppr

    edges = _events_edges(spark, sf_dir)
    starts = edges.select(F.col("src").alias("node_id")).distinct()
    walks = walks_gen.generate_walks(
        spark, edges, starts, walks_per_node=100, seed=42, strategy="broadcast"
    )
    sources = starts.filter(F.col("node_id") < 5)
    scores = ppr.personalized_pagerank_many(
        spark, edges, walks, sources, top_k=20, seed=42
    )
    return scores.select(
        "source_id", "node_id", F.round("rank", 6).alias("rank")
    )


def q_span_dedup(spark, sf_dir):
    """Duplicated-span removal (Lee et al. exact-substring family) at
    n=8 over documents: tokens inside any 8-token window whose exact
    content occurs >= 2 times corpus-wide are cut, survivors rejoin
    with single spaces. The oracle mirrors the whole pass — same
    whitespace tokens, same md5 gram keys, same coverage union."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.span_dedup(docs, n=8, min_count=2)


def q_host_stats(spark, sf_dir):
    """Per-host crawl-ops rollup (ops/anchors.host_stats) over
    deterministic pages: the standard user urls (1-in-7 malformed —
    those land in the '' host group) with synthetic text of 1..7
    tokens and NULL text for uid%13 — the oracle mirrors the url
    construction, the token-count convention, and the derived
    average."""
    uid = F.col("uid")
    pages = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(
            _user_url(uid).alias("url"),
            F.when(uid % 13 == 0, F.lit(None).cast("string"))
            .otherwise(
                F.concat(
                    F.lit("w "), F.repeat(F.lit("tok "), (uid % 7).cast("int"))
                )
            )
            .alias("text"),
        )
    )
    return anchors.host_stats(pages)


def q_url_filter(spark, sf_dir):
    """RefinedWeb-style pre-fetch URL gate over deterministic urls
    from event ids: blocked domains (exact + parent suffix), keyword
    spam scoring, validity — with first-failing attribution. The
    oracle mirrors the score arithmetic and the suffix match."""
    uid = F.col("uid")
    m = uid % 12
    us = uid.cast("string")
    # the domain index must be independent of m: uid%12==0 forces
    # uid%3==0, which would pin the fixture to blocked0 only and
    # leave the other blocklist rows dead
    dom = (F.floor(uid / 12) % 3).cast("string")
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://blocked"), dom, F.lit(".test/p"), us
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://sub.blocked"), dom, F.lit(".test/p"), us
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://ok.test/free-casino-download-"), us
            ),
        )
        .when(m == 3, F.concat(F.lit("ftp://bad"), us))
        .otherwise(
            F.concat(
                F.lit("https://host"), (uid % 20).cast("string"),
                F.lit(".test/u"), us,
            )
        )
    )
    urls = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .select(url.alias("url"))
    )
    blocked = spark.createDataFrame(
        [("blocked0.test",), ("blocked1.test",), ("blocked2.test",)],
        "domain string",
    )
    return extract_mod.url_filter(urls, blocked, max_spam_score=2)


def q_c4_filters(spark, sf_dir):
    """C4 cleanup rules (Raffel et al. 2020 §2.2) over the multiline
    corpus with planted violations: 0-3 terminal-punctuated keeper
    lines per doc (doc_id%5), a blocklisted token (%17), a brace
    (%19), lorem ipsum (%23), and a javascript line (%29). The
    oracle mirrors every rule and the first-failing attribution."""
    did = F.col("doc_id")
    base = _multiline_docs(spark, sf_dir)
    extra = F.concat(
        *[
            F.when(
                did % 5 >= j,
                F.concat(
                    F.lit("\nplanted keeper line number "),
                    ((did + j) % 7).cast("string"),
                    F.lit(" stays here."),
                ),
            ).otherwise(F.lit(""))
            for j in (1, 2, 3)
        ],
        F.when(
            did % 17 == 0, F.lit("\nthe contraband token sits here fine.")
        ).otherwise(F.lit("")),
        F.when(did % 19 == 0, F.lit("\ncode { sample } line")).otherwise(
            F.lit("")
        ),
        F.when(
            did % 23 == 0, F.lit("\nLorem ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(
            did % 29 == 0,
            F.lit("\nplease enable javascript to continue reading now."),
        ).otherwise(F.lit("")),
    )
    docs = base.select(
        "doc_id", F.concat(F.col("text"), extra).alias("text")
    )
    return textstats.c4_filters(
        docs, min_line_words=4, min_lines=2, blocklist=("contraband",)
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style perplexity scoring: interpolated bigram LM trained
    on the English slice of documents (the trusted reference), scored
    over the whole corpus. lam=0.75 so both interpolation weights are
    binary-exact literals in Spark AND DuckDB; doubles at 4dp (the
    dsir convention). Unscorable docs (< 2 tokens) keep NULL scores
    with n_bigrams = 0."""
    from .ops import lm as lm_mod

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    uni, bi = lm_mod.train_bigram_lm(docs.filter(F.col("lang") == "en"))
    scored = lm_mod.lm_perplexity(docs, uni, bi, lam=0.75)
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 4).alias("avg_logp"),
        F.round("ppl", 4).alias("ppl"),
    )


def q_dedup_incremental_spans(spark, sf_dir):
    """Batch-vs-corpus span dedup: the corpus participates only
    through its stored (g, n_occurrences) gram-count table
    (ops/dedup.incremental_span_dedup); exactness oracle = the
    batch-id slice of a full span run over corpus ∪ batch, which the
    SQL re-derives from first principles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = dedup.span_gram_counts(docs.filter(F.col("doc_id") % 3 != 0), n=8)
    return dedup.incremental_span_dedup(
        docs.filter(F.col("doc_id") % 3 == 0), corpus, n=8, min_count=2
    )


def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment over documents: split
    (10% val), shard (of 8), and the 60-bit global-shuffle order key
    — every column a pure md5 function of doc_id, mirrored verbatim
    in the oracle (the resume/re-run byte-stability argument IS this
    mirrorability)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.shard_assign(
        docs, n_shards=8, seed=7, val_frac=0.1
    ).select("doc_id", "split", "shard", "pos")


def q_anchor_text_topk(spark, sf_dir):
    """Inlink anchor-text rollup: deterministic html pages built from
    event user ids (three labelled anchors per page at (uid%40)-keyed
    targets, plus a self anchor and an empty href that the REAL
    extraction UDF must drop), run through extract_anchors ->
    anchor_pairs -> per-target top-2 by page count. The oracle
    regenerates the surviving (dst, anchor) rows from the same
    arithmetic and mirrors the rollup; the parser's messy-HTML
    behavior is gated by tests/test_anchors.py fixtures."""
    u = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid")
    ).distinct()
    m = F.col("uid") % 40
    parts = []
    for j in range(3):
        parts += [
            F.lit('<a href="https://node'),
            ((m * 3 + j) % 10).cast("string"),
            F.lit('.test/">label '),
            ((m + j) % 4).cast("string"),
            F.lit("</a>"),
        ]
    html = F.concat(
        *parts,
        F.lit('<a href="https://src'),
        F.col("uid").cast("string"),
        F.lit('.test/">self</a><a href="">x</a>'),
    ).cast("binary")
    pages = u.select(
        F.concat(
            F.lit("https://src"), F.col("uid").cast("string"), F.lit(".test/")
        ).alias("url"),
        html.alias("html"),
    )
    return anchors.anchor_text_topk(anchors.anchor_pairs(pages), k=2)


# Entries with a DuckDB oracle (ORACLES) come first and rows-only
# entries last: a correctness check that reads only the first 50 keys
# then covers 50 SQL-checked entries (see test_entry_contract).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s4_latest_event_dedup": q_s4_latest_event_dedup,
    "s2_admission_seen_filter": q_s2_admission_seen_filter,
    "a1_visit_counts": q_a1_visit_counts,
    "a3_global_rank": q_a3_global_rank,
    "a5_degrees": q_a5_degrees,
    "j2_adjacency_lists": q_j2_adjacency_lists,
    "t3_delta_partition": q_t3_delta_partition,
    "w2_topk": q_w2_topk,
    "w3_politeness_schedule": q_w3_politeness_schedule,
    "m12_mint_node_ids": q_m12_mint_node_ids,
    "p6_url_validity": q_p6_url_validity,
    "url_canonicalize": q_url_canonicalize,
    "robots_verdicts": q_robots_verdicts,
    "robots_parse": q_robots_parse,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_lsh_jaccard_verified": q_dedup_lsh_jaccard_verified,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash_clusters": q_dedup_simhash_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_incremental_exact": q_dedup_incremental_exact,
    "dedup_incremental_lsh": q_dedup_incremental_lsh,
    "dedup_winnow": q_dedup_winnow,
    "dedup_winnow_pairs": q_dedup_winnow_pairs,
    "text_stats": q_text_stats,
    "vocab_top_tokens": q_vocab_top_tokens,
    "corpus_filter": q_corpus_filter,
    "text_repetition": q_text_repetition,
    "pii_scrub": q_pii_scrub,
    "line_dedup": q_line_dedup,
    "dedup_incremental_lines": q_dedup_incremental_lines,
    "pack_sequences": q_pack_sequences,
    "pipeline_pack": q_pipeline_pack,
    "decontamination": q_decontamination,
    "domain_mixture": q_domain_mixture,
    "dsir_importance": q_dsir_importance,
    "classifier_score": q_classifier_score,
    "corpus_profile": q_corpus_profile,
    "ngram_repetition": q_ngram_repetition,
    "mm_frame_plan": q_mm_frame_plan,
    "mm_resize_plan": q_mm_resize_plan,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "anchor_text_topk": q_anchor_text_topk,
    "shard_assign": q_shard_assign,
    "span_dedup": q_span_dedup,
    "dedup_incremental_spans": q_dedup_incremental_spans,
    "lm_perplexity": q_lm_perplexity,
    "c4_filters": q_c4_filters,
    "url_filter": q_url_filter,
    "host_stats": q_host_stats,
    "ann_cosine_topk_lsh": q_ann_cosine_topk_lsh,
    "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
    "bpe_token_counts": q_bpe_token_counts,
    "mm_decode_features": q_mm_decode_features,
    "mm_video_frames": q_mm_video_frames,
    "semantic_dedup": q_semantic_dedup,
    "mc_pagerank": q_mc_pagerank,
    "ppr_source0": q_ppr_source0,
    "ppr_many_sources": q_ppr_many_sources,
}


# ---------------- DuckDB oracles ----------------

_URL_E = _USER_URL_SQL.format(c="user_id")
_URL_O = _USER_URL_SQL.format(c="o_custkey")
_URL_C = _USER_URL_SQL.format(c="c_custkey")

_EDGES_SQL = (
    "select distinct user_id as src, "
    "(cast(json_extract_string(props, '$.k') as bigint) * 7) % 150 as dst "
    "from events where (cast(json_extract_string(props, '$.k') as bigint) * 7) % 150 "
    "is not null and user_id != (cast(json_extract_string(props, '$.k') as bigint) * 7) % 150"
)

_TEXTSTAT_MARKERS = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " die ", " und ", " ist "],
    "fr": [" le ", " la ", " et ", " est "],
    "es": [" el ", " los ", " que ", " es "],
}


def _occ_sql(marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"(length(padded) - length(replace(padded, '{m}', ''))) / {len(marker)}.0"
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_occ_sql(m) for m in _TEXTSTAT_MARKERS[lang])


def _lang_id_sql() -> str:
    scores = {L: f"score_{L}" for L in _TEXTSTAT_MARKERS}
    best = f"greatest({', '.join(scores.values())})"
    cases = " ".join(
        f"when {best} > 0 and score_{L} = {best} then '{L}'"
        for L in _TEXTSTAT_MARKERS
    )
    return f"case {cases} else 'und' end"


def _simhash_core_sql(n_bits: int) -> str:
    """CTE chain ending in sh(doc_id, simhash) — mirrors
    ops.dedup.simhash bit-for-bit: md5 32-bit hex words, per-bit
    majority, bit 63 weighted -2^63 (BIGINT << 63 overflows in
    DuckDB, so neither engine shifts)."""
    words = (n_bits + 31) // 32
    hv = ", ".join(
        f"('0x' || substring(md5(tok), {8 * w + 1}, 8))::bigint as hv{w}"
        for w in range(words)
    )
    sums = ", ".join(
        f"sum((hv{b // 32} >> {b % 32}) % 2) as s{b}" for b in range(n_bits)
    )
    weights = " + ".join(
        f"(case when s{b} * 2 >= n then 1 else 0 end)::bigint * "
        f"({-(2**63) if b == 63 else 2**b})"
        for b in range(n_bits)
    )
    return f"""
with toks as (
  select doc_id, tok from (
    select doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) as tok
    from documents) where length(tok) > 0
), h as (
  select doc_id, {hv} from toks
), bits as (
  select doc_id, count(*) as n, {sums}
  from h group by doc_id
), sh as (
  select doc_id, ({weights}) as simhash from bits
)"""


def _minhash_incremental_sql(n_hashes: int, bands: int) -> str:
    """Batch-vs-corpus variant of _minhash_sql: same shingle/sig/band
    CTEs over ALL documents (equality of the banding scheme is the
    point), candidate join restricted to (batch, corpus) cross-side
    pairs."""
    base = _minhash_sql(n_hashes, bands)
    head, _, _ = base.rpartition("select distinct")
    return head + """select distinct a.doc_id as new_id, b.doc_id as corpus_id
from bands a join bands b on a.band = b.band and a.key = b.key
where a.doc_id % 3 = 0 and b.doc_id % 3 != 0
"""


def _minhash_sql(n_hashes: int, bands: int) -> str:
    r = n_hashes // bands
    # mirror ops.dedup.minhash_signatures: 4 hash words per md5
    mins = ", ".join(
        f"min(substring(md5(shingle || '#{h // 4}'), {8 * (h % 4) + 1}, 8)) as mh{h}"
        for h in range(n_hashes)
    )
    band_keys = ", ".join(
        "concat_ws('|', "
        + ", ".join(f"mh{b * r + i}" for i in range(r))
        + f") as key{b}"
        for b in range(bands)
    )
    band_rows = " union all ".join(
        f"select doc_id, {b} as band, key{b} as key from keys" for b in range(bands)
    )
    return f"""
with sh as (
  select doc_id, lower(text) as lt from documents
), shingles as (
  select distinct doc_id,
         substring(lt, i, 3) as shingle
  from sh, unnest(generate_series(1, greatest(length(lt) - 2, 1))) as t(i)
), sigs as (
  select doc_id, {mins} from shingles group by doc_id
), keys as (
  select doc_id, {band_keys} from sigs
), bands as (
  select doc_id, band, key from ({band_rows})
)
select distinct a.doc_id as doc_a, b.doc_id as doc_b
from bands a join bands b on a.band = b.band and a.key = b.key
where a.doc_id < b.doc_id
"""


# Winnowed rolling-hash fingerprints (k=16-char grams, window w=16) —
# mirrors ops/dedup.winnow_fingerprints exactly: same normalization,
# md5 gram hash, per-window string-min, distinct (doc_id, fp).
_WINNOW_FPS_SQL = """
with nrm as (
  select doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') as norm
  from documents
), hs as (
  select doc_id,
         list_transform(generate_series(1, length(norm) - 16 + 1),
                        i -> md5(substr(norm, i, 16))) as hashes
  from nrm where length(norm) >= 16
), wn as (
  select doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 16 + 1, 1)),
           j -> list_min(list_slice(hashes, j, j + 16 - 1)))) as fps
  from hs
)
select doc_id, unnest(fps) as fp from wn
"""


def _ngram_rep_sql(top_ns=(2, 3, 4), dup_ns=(5, 10)) -> str:
    """DuckDB mirror of ngram_repetition_stats over the %11 self-
    concat augmentation: per n, gram rows -> (g, c, chars) counts ->
    top = argmin(c desc, g asc) value c·chars, dup = Σ (c−1)·chars."""
    blocks, cols, joins = [], [], []
    for n in sorted(set(top_ns) | set(dup_ns)):
        blocks.append(f"""nr_g{n} as (
  select doc_id, array_to_string(list_slice(ts, i, i + {n - 1}), ' ') as g
  from nr_toks, unnest(generate_series(1, len(ts) - {n - 1})) as s(i)
), nr_c{n} as (
  select doc_id, g, count(*)::bigint as c, len(g)::bigint as chars
  from nr_g{n} group by 1, 2
)""")
    for n in top_ns:
        blocks.append(f"""nr_top{n} as (
  select doc_id, (c * chars)::double as v from (
    select doc_id, c, chars,
           row_number() over (partition by doc_id
                              order by c desc, g asc) as rn
    from nr_c{n}) where rn = 1
)""")
        cols.append(
            f"round(case when t.total <= 0 then 0.0 else "
            f"least(1.0, coalesce(nr_top{n}.v, 0.0) / t.total) end, 6) "
            f"as top_{n}gram_frac"
        )
        joins.append(f"left join nr_top{n} using (doc_id)")
    for n in dup_ns:
        blocks.append(f"""nr_dup{n} as (
  select doc_id, sum((c - 1) * chars)::double as v
  from nr_c{n} group by doc_id
)""")
        cols.append(
            f"round(case when t.total <= 0 then 0.0 else "
            f"least(1.0, coalesce(nr_dup{n}.v, 0.0) / t.total) end, 6) "
            f"as dup_{n}gram_frac"
        )
        joins.append(f"left join nr_dup{n} using (doc_id)")
    return f"""
with nr_aug as (
  select doc_id,
         case when doc_id % 11 = 0 then text || ' ' || text
              else text end as text
  from documents
), nr_toks as (
  select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from nr_aug
), nr_tot as (
  select doc_id, len(array_to_string(ts, ' '))::bigint as total
  from nr_toks
), {', '.join(blocks)}
select t.doc_id, {', '.join(cols)}
from nr_tot t {' '.join(joins)}
"""


_NGRAM_REP_SQL = _ngram_rep_sql()


ORACLES: dict[str, str] = {
    "s4_latest_event_dedup": """
select user_id, event_type, event_id, ts from (
  select *, row_number() over (
    partition by user_id, event_type order by ts desc, event_id desc) rn
  from events) where rn = 1
""",
    "s2_admission_seen_filter": f"""
with cand as (select distinct {_URL_O} as url from orders),
     seen as (select distinct {_URL_E} as url from events)
select url from cand where url not in (select url from seen)
""",
    "a1_visit_counts": """
select user_id as node_id, count(*) as visits from events group by user_id
""",
    "a3_global_rank": """
select user_id as node_id,
       round(count(*) / (select count(*) * 1.0 from events), 9) as rank
from events group by user_id
""",
    "a5_degrees": f"""
with e as ({_EDGES_SQL}),
 o as (select src as node_id, count(*) as follow_count from e group by src),
 i as (select dst as node_id, count(*) as follower_count from e group by dst)
select coalesce(o.node_id, i.node_id) as node_id,
       coalesce(follow_count, 0) as follow_count,
       coalesce(follower_count, 0) as follower_count
from o full outer join i on o.node_id = i.node_id
""",
    "j2_adjacency_lists": f"""
with e as ({_EDGES_SQL})
select src as node_id,
       row_number() over (partition by src order by dst) - 1 as pos,
       dst as follow
from e
""",
    "t3_delta_partition": f"""
with old as (select distinct l_suppkey s, l_partkey p from lineitem
             where l_shipdate < timestamp '{SPLIT_TS}'),
     new as (select distinct l_suppkey s, l_partkey p from lineitem
             where l_shipdate >= timestamp '{SPLIT_TS}')
select s as node_id, 'removed' as kind, p as member
  from (select * from old except select * from new)
union all
select s, 'common', p from (select * from old intersect select * from new)
union all
select s, 'added', p from (select * from new except select * from old)
""",
    "w2_topk": """
select node_id, visits, rn from (
  select user_id as node_id, count(*) as visits,
         row_number() over (order by count(*) desc, user_id) as rn
  from events group by user_id) where rn <= 20
""",
    "w3_politeness_schedule": f"""
with f as (
  select {_URL_E} as url,
         'host' || cast(user_id % 20 as varchar) || '.test' as host,
         user_id as node_id,
         cast(count(*) as double) as priority
  from events where user_id % 7 != 0 group by user_id
), r as (
  select *, row_number() over (
     partition by host order by priority desc, url) rn from f
)
select url, host, node_id, priority from r where rn <= 3
order by priority desc, url limit 50
""",
    "m12_mint_node_ids": f"""
with seen as (select distinct {_URL_E} as url from events),
     cand as (select distinct {_URL_C} as url from customer),
     base as (select count(*) as max_id from seen),
     new as (select url from cand where url not in (select url from seen))
select (select max_id from base) + row_number() over (order by url) - 1
         as node_id, url
from new
""",
    "p6_url_validity": f"""
with urls as (select distinct user_id as uid, {_URL_E} as url from events)
select uid, url, regexp_extract(url, '^https?://([^/?#]+)', 1) as host
from urls
where url is not null and length(url) <= 2048
  and (url like 'https://%' or url like 'http://%')
  and regexp_extract(url, '^https?://([^/?#]+)', 1) <> ''
""",
    # regenerates q_robots_parse's fixed one-group structure
    "robots_parse": """
with m as (select distinct user_id % 40 as m from events)
select 'h' || m || '.test' as host, false as allow,
       '/p/' || m as pattern, cast(1 + m % 3 as double) as crawl_delay_s
from m
union all
select 'h' || m || '.test', true, '/p/' || m || '/pub/',
       cast(1 + m % 3 as double)
from m
""",
    # rule set, url construction, rx conversion, and longest-match
    # window mirror q_robots_verdicts / frontier.robots_verdicts
    "robots_verdicts": r"""
with rules(host, allow, pattern) as (values
  ('h0.test', false, '/p/'), ('h0.test', true, '/p/pub/'),
  ('h1.test', false, '/*.json'), ('h2.test', false, '/x$'),
  ('h3.test', false, '')),
 rx as (
  select host, allow, pattern,
    '^' || regexp_replace(
             regexp_replace(
               regexp_replace(pattern, '([.^$+?(){}|\[\]\\])', '\\\1', 'g'),
               '\*', '.*', 'g'),
             '\\\$$', '$') as rx
  from rules where length(pattern) > 0),
 m as (select distinct user_id % 40 as m from events),
 urls as (
  select distinct 'https://h' || (m % 5) || '.test' ||
    (case when m % 4 = 0 then '/p/' || m
          when m % 4 = 1 then '/p/pub/' || m
          when m % 4 = 2 then '/data/' || m || '.json'
          else '/x' end) as url
  from m),
 base as (
  select url,
    regexp_extract(url, '^https?://([^/?#]+)', 1) as host,
    case when regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*', '') = ''
         then '/' else regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*', '')
    end as path
  from urls),
 hit as (
  select b.url, r.allow, r.pattern,
    row_number() over (partition by b.url
      order by length(r.pattern) desc, r.allow desc, r.pattern asc) as rn
  from base b join rx r on r.host = b.host and regexp_matches(b.path, r.rx)),
 best as (select url, allow, pattern from hit where rn = 1)
select b.url, b.host, coalesce(best.allow, true) as allowed,
       best.pattern as matched_rule
from base b left join best using (url)
""",
    # messy-url construction and canonical folding mirror
    # q_url_canonicalize / functions.extract.canonical_url exactly
    "url_canonicalize": r"""
with u as (select distinct user_id as uid from events),
 m as (
  select uid,
    (case when uid % 2 = 0 then 'HTTP://Node' else 'http://node' end)
    || uid || '.Test'
    || (case when uid % 3 = 0 then ':80' else '' end)
    || '/P/' || uid
    || (case when uid % 4 = 0 then '?b=2&a=1'
             when uid % 4 = 1 then '?a=1' else '' end)
    || (case when uid % 5 = 0 then '#frag' else '' end) as url
  from u
), s as (
  select uid, url, split_part(url, '#', 1) as nf from m
), p as (
  select uid, url,
    split_part(nf, '?', 1) as pre,
    regexp_extract(nf, '\?(.*)$', 1) as q
  from s
), h as (
  select uid, url, pre, q,
    regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)', 1) as sh
  from p
), c as (
  select uid, url, q, sh,
    substring(pre, length(sh) + 1) as rest,
    regexp_replace(regexp_replace(lower(sh),
      '^(http://[^:/]*):80$', '\1'),
      '^(https://[^:/]*):443$', '\1') as shl
  from h
)
select uid, url,
  case when sh = '' then url else
    shl || (case when rest = '' then '/' else rest end)
    || (case when q = '' then '' else '?' ||
        array_to_string(list_sort(string_split(q, '&')), '&') end)
  end as canon
from c
""",
    "dedup_exact": """
with fp as (select doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) f
            from documents)
select doc_id, min(doc_id) over (partition by f) as keeper_id,
       doc_id != min(doc_id) over (partition by f) as is_dup
from fp
""",
    "dedup_minhash_lsh": _minhash_sql(16, 4),
    "text_repetition": """
with lines_u as (
  select doc_id, l from documents, unnest(string_split(text, chr(10))) as t(l)
  where length(l) > 0
), per_line as (
  select doc_id, l, count(*) c, length(l) len from lines_u group by doc_id, l
), linestats as (
  select doc_id, sum(c) as n_lines,
         round(1.0 - count(*) * 1.0 / sum(c), 6) as dup_line_frac,
         round(sum((c - 1) * len) * 1.0 / sum(c * len), 6) as dup_line_char_frac
  from per_line group by doc_id
), tok_u as (
  select doc_id, t from documents,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) as s(t)
  where length(t) > 0
), per_tok as (
  select doc_id, t, count(*) c from tok_u group by doc_id, t
), tokstats as (
  select doc_id, round(max(c) * 1.0 / sum(c), 6) as top_token_frac
  from per_tok group by doc_id
)
select d.doc_id,
       coalesce(cast(l.n_lines as bigint), 0) as n_lines,
       coalesce(l.dup_line_frac, 0.0) as dup_line_frac,
       coalesce(l.dup_line_char_frac, 0.0) as dup_line_char_frac,
       coalesce(k.top_token_frac, 0.0) as top_token_frac
from documents d
left join linestats l using (doc_id)
left join tokstats k using (doc_id)
""",
    # the PII patterns are shared constants (textstats.PII_*_RE) —
    # syntax restricted to what Java regex and RE2 read identically
    "pii_scrub": f"""
with aug as (
  select doc_id,
    text
    || case when doc_id % 7 = 0 then ' mail user' || doc_id || '@ex'
            || (doc_id % 5) || '.org' else '' end
    || case when doc_id % 11 = 0 then ' tel 555-'
            || lpad((doc_id % 1000)::varchar, 3, '0') || '-'
            || lpad(((doc_id * 7) % 10000)::varchar, 4, '0') else '' end
    || case when doc_id % 13 = 0 then ' ip 10.' || (doc_id % 256)
            || '.0.' || ((doc_id * 3) % 256) else '' end
    as text
  from documents
), s1 as (
  select doc_id,
    len(regexp_extract_all(text, '{textstats.PII_EMAIL_RE}')) as n_emails,
    regexp_replace(text, '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g') as t1
  from aug
), s2 as (
  select doc_id, n_emails,
    len(regexp_extract_all(t1, '{textstats.PII_PHONE_RE}')) as n_phones,
    regexp_replace(t1, '{textstats.PII_PHONE_RE}', '<PHONE>', 'g') as t2
  from s1
)
select doc_id,
  regexp_replace(t2, '{textstats.PII_IPV4_RE}', '<IP>', 'g') as clean_text,
  n_emails, n_phones,
  len(regexp_extract_all(t2, '{textstats.PII_IPV4_RE}')) as n_ipv4
from s2
""",
    "line_dedup": """
with aug as (
  select doc_id,
    replace(text, ' value ', chr(10))
    || case when doc_id % 4 = 0
            then chr(10) || 'all rights reserved footer' else '' end
    || case when doc_id % 9 = 0
            then chr(10) || 'subscribe to our newsletter' else '' end
    as text
  from documents
), l as (
  select doc_id, i as pos, ls[i] as line
  from (select doc_id, string_split(text, chr(10)) ls from aug) d,
       lateral unnest(generate_series(1, len(ls))) as t(i)
), boiler as (
  select md5(trim(line)) as fp
  from l where trim(line) != ''
  group by 1 having count(distinct doc_id) >= 2
), fl as (
  select doc_id, pos, line,
    (trim(line) != ''
     and md5(trim(line)) in (select fp from boiler)) as dropped
  from l
)
select doc_id,
  coalesce(string_agg(line, chr(10) order by pos)
           filter (where not dropped), '') as clean_text,
  count(*) filter (where dropped) as n_lines_removed
from fl group by doc_id
""",
    # exactness: the incremental batch result IS the batch-id slice
    # of a full run over corpus ∪ batch (distinct-doc counts add
    # across the disjoint sides), so the oracle is the full-run SQL
    # with the output restricted to the batch
    "dedup_incremental_lines": """
with il_aug as (
  select doc_id,
    replace(text, ' value ', chr(10))
    || case when doc_id % 4 = 0
            then chr(10) || 'all rights reserved footer' else '' end
    || case when doc_id % 9 = 0
            then chr(10) || 'subscribe to our newsletter' else '' end
    as text
  from documents
), il_l as (
  select doc_id, i as pos, ls[i] as line
  from (select doc_id, string_split(text, chr(10)) ls from il_aug) d,
       lateral unnest(generate_series(1, len(ls))) as t(i)
), il_boiler as (
  select md5(trim(line)) as fp
  from il_l where trim(line) != ''
  group by 1 having count(distinct doc_id) >= 2
), il_fl as (
  select doc_id, pos, line,
    (trim(line) != ''
     and md5(trim(line)) in (select fp from il_boiler)) as dropped
  from il_l
)
select doc_id,
  coalesce(string_agg(line, chr(10) order by pos)
           filter (where not dropped), '') as clean_text,
  count(*) filter (where dropped) as n_lines_removed
from il_fl where doc_id % 3 = 0 group by doc_id
""",
    # DuckDB sum(BIGINT) is HUGEINT -> cast the running offset back
    # to bigint or the driver's pandas hash drifts to float
    "pack_sequences": """
with c as (
  select doc_id,
    case when length(trim(text)) = 0 then 0
         else len(regexp_split_to_array(trim(text), '\\s+')) end as n
  from documents
), p as (
  select doc_id, n,
    coalesce(sum(n) over (order by doc_id
             rows between unbounded preceding and 1 preceding),
             0)::bigint as st
  from c where n > 0
), spans as (
  select doc_id, n, st,
    st // 128 as s_first, (st + n - 1) // 128 as s_last
  from p
)
select t.seq_id, s.doc_id,
  greatest(0, t.seq_id * 128 - s.st) as doc_from,
  least(s.n, (t.seq_id + 1) * 128 - s.st) as doc_to,
  greatest(s.st - t.seq_id * 128, 0) as seq_pos
from spans s, lateral unnest(generate_series(s_first, s_last)) as t(seq_id)
""",
    # the composed chain: line_dedup -> redact_pii -> length gate ->
    # pack_sequences, each CTE block the same SQL as the standalone
    # entry (pp_-prefixed to avoid collisions)
    "pipeline_pack": f"""
with pp_aug as (
  select doc_id,
    replace(text, ' value ', chr(10))
    || case when doc_id % 4 = 0
            then chr(10) || 'all rights reserved footer' else '' end
    || case when doc_id % 9 = 0
            then chr(10) || 'subscribe to our newsletter' else '' end
    || case when doc_id % 7 = 0
            then chr(10) || 'contact user' || doc_id || '@ex.org' else '' end
    as text
  from documents
), pp_l as (
  select doc_id, i as pos, ls[i] as line
  from (select doc_id, string_split(text, chr(10)) ls from pp_aug) d,
       lateral unnest(generate_series(1, len(ls))) as t(i)
), pp_boiler as (
  select md5(trim(line)) as fp
  from pp_l where trim(line) != ''
  group by 1 having count(distinct doc_id) >= 2
), pp_fl as (
  select doc_id, pos, line,
    (trim(line) != ''
     and md5(trim(line)) in (select fp from pp_boiler)) as dropped
  from pp_l
), pp_clean as (
  select doc_id,
    coalesce(string_agg(line, chr(10) order by pos)
             filter (where not dropped), '') as text
  from pp_fl group by doc_id
), pp_red as (
  select doc_id,
    regexp_replace(regexp_replace(regexp_replace(text,
      '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{textstats.PII_PHONE_RE}', '<PHONE>', 'g'),
      '{textstats.PII_IPV4_RE}', '<IP>', 'g') as text
  from pp_clean
), pp_c as (
  select doc_id,
    case when length(trim(text)) = 0 then 0
         else len(regexp_split_to_array(trim(text), '\\s+')) end as n
  from pp_red
), pp_p as (
  select doc_id, n,
    coalesce(sum(n) over (order by doc_id
             rows between unbounded preceding and 1 preceding),
             0)::bigint as st
  from pp_c where n >= 10
), pp_spans as (
  select doc_id, n, st,
    st // 64 as s_first, (st + n - 1) // 64 as s_last
  from pp_p
)
select t.seq_id, s.doc_id,
  greatest(0, t.seq_id * 64 - s.st) as doc_from,
  least(s.n, (t.seq_id + 1) * 64 - s.st) as doc_to,
  greatest(s.st - t.seq_id * 64, 0) as seq_pos
from pp_spans s,
     lateral unnest(generate_series(s_first, s_last)) as t(seq_id)
""",
    # mirrors q_decontamination / ops/decontam exactly: [a-z0-9]+ token
    # runs, md5 of the space-joined 8-token window, distinct per doc;
    # n_hits cast ::bigint (DuckDB count() is HUGEINT -> float64 in
    # pandas otherwise — the round-4 text_repetition drift class)
    "decontamination": f"""
with dc_aug as (
  select doc_id,
         text || case when doc_id % 9 = 0 then '{_DECON_PASSAGE}'
                      else '' end as text
  from documents
), dc_toks as (
  select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from dc_aug
), dc_grams as (
  select distinct doc_id,
         md5(array_to_string(list_slice(ts, i, i + 7), ' ')) as g
  from dc_toks, unnest(generate_series(1, len(ts) - 7)) as s(i)
), dc_ev as (
  select distinct g from dc_grams where doc_id % 13 = 0
), dc_hits as (
  select t.doc_id, count(*) as n_hits
  from dc_grams t join dc_ev using (g)
  where t.doc_id % 13 != 0
  group by t.doc_id
)
select a.doc_id,
       coalesce(h.n_hits, 0)::bigint as n_hits,
       coalesce(h.n_hits, 0) > 0 as contaminated
from (select doc_id from dc_aug where doc_id % 13 != 0) a
left join dc_hits h using (doc_id)
""",
    # mirrors q_domain_mixture / ops/sampling exactly, down to the
    # float evaluation order of the rate and the 8-hex md5 draw
    "domain_mixture": r"""
with dm_stats as (
  select source as domain,
         sum(case when len(trim(text)) = 0 then 0
                  else len(regexp_split_to_array(trim(text), '\s+'))
             end)::bigint as n_tokens
  from documents group by source
), dm_w as (
  select domain,
         ((regexp_extract(domain, '(\d+)$', 1)::int % 5) + 1)::double
           as weight
  from dm_stats
), dm_tot as (select sum(weight) as w_total from dm_w),
dm_tt as (select sum(n_tokens)::bigint as t_total from dm_stats),
dm_rates as (
  select s.domain,
         least(1.0, (w.weight / dm_tot.w_total) * (0.6 * dm_tt.t_total)
                    / s.n_tokens) as rate
  from dm_stats s join dm_w w using (domain), dm_tot, dm_tt
)
select d.doc_id, d.source, round(r.rate, 6) as rate
from documents d join dm_rates r on r.domain = d.source
where r.rate >= 1.0
   or substring(md5(d.doc_id::varchar || ':7'), 1, 8)
      < lpad(lower(hex(floor(r.rate * 4294967296.0)::bigint)), 8, '0')
""",
    # mirrors q_ngram_repetition / ops/textstats n-gram folds exactly:
    # same tokens, space-joined windows, strictly-greater tie-break
    # (arg-min over (c desc, g asc)), excess convention, 1.0 cap,
    # content-char denominator; integer products cast ::double before
    # the divide (DuckDB '/' on BIGINTs would truncate)
    "ngram_repetition": _NGRAM_REP_SQL,
    # mirrors q_dsir_importance / ops/dsir exactly: [a-z0-9]+ tokens,
    # unigram+bigram features WITH multiplicity, 32-bit md5 bucket
    # % 4096, Laplace log-ratio over every bucket, per-doc weight
    # sum, md5-uniform Gumbel top-100 at seed 17; doubles at 4dp
    "dsir_importance": """
with ds_toks as (
  select doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from documents
), ds_feats as (
  select doc_id, lang, f from (
    select doc_id, lang, unnest(ts) as f from ds_toks
    union all
    select doc_id, lang, ts[i] || ' ' || ts[i + 1] as f
    from ds_toks, unnest(generate_series(1, len(ts) - 1)) as s(i)
  )
), ds_bc as (
  select doc_id, lang,
         ('0x' || substring(md5(f), 1, 8))::bigint % 4096 as bucket,
         count(*)::bigint as c
  from ds_feats group by 1, 2, 3
), ds_buckets as (select unnest(generate_series(0, 4095)) as bucket),
ds_tn as (select bucket, sum(c)::bigint as n from ds_bc
          where lang = 'en' group by bucket),
ds_rn as (select bucket, sum(c)::bigint as n from ds_bc group by bucket),
ds_tp as (
  select b.bucket,
         ln((coalesce(t.n, 0) + 1.0) / (tt.N + 1.0 * 4096)) as lp
  from ds_buckets b
  left join ds_tn t using (bucket),
       (select sum(n)::bigint as N from ds_tn) tt
), ds_rp as (
  select b.bucket,
         ln((coalesce(r.n, 0) + 1.0) / (rt.N + 1.0 * 4096)) as lq
  from ds_buckets b
  left join ds_rn r using (bucket),
       (select sum(n)::bigint as N from ds_rn) rt
), ds_ratio as (
  select bucket, lp - lq as r from ds_tp join ds_rp using (bucket)
), ds_w as (
  select doc_id, sum(c * r) as logw
  from ds_bc join ds_ratio using (bucket)
  group by doc_id
), ds_key as (
  select doc_id, logw,
         logw / 1.0 - ln(-ln(
           ((('0x' || substring(md5(doc_id::varchar || ':17'), 1, 8))::bigint
             ::double + 0.5) / 4294967296.0)
         )) as key
  from ds_w
)
select doc_id, round(logw, 4) as logw, round(key, 4) as key
from ds_key
order by key desc, doc_id asc
limit 100
""",
    # mirrors q_corpus_profile / textstats.corpus_profile (exact
    # form): len over coalesce(text, ''), whitespace token count with
    # the blank->0 convention, quantile_cont (interpolation-identical
    # to Spark's exact percentile), sums cast out of HUGEINT
    "corpus_profile": r"""
with cp as (
  select lang,
         length(coalesce(text, '')) as len,
         coalesce(case when len(trim(text)) = 0 then 0
                       else len(regexp_split_to_array(trim(text), '\s+'))
                  end, 0) as ntok
  from documents
)
select lang,
       count(*)::bigint as n_docs,
       sum(len)::bigint as total_chars,
       round(avg(len), 4) as mean_chars,
       round(quantile_cont(len, 0.5), 4) as len_p50,
       round(quantile_cont(len, 0.9), 4) as len_p90,
       round(quantile_cont(len, 0.99), 4) as len_p99,
       round(quantile_cont(ntok, 0.5), 4) as tok_p50,
       round(quantile_cont(ntok, 0.9), 4) as tok_p90,
       round(quantile_cont(ntok, 0.99), 4) as tok_p99
from cp group by lang
""",
    # mirrors q_classifier_score / ops/classifier exactly: [a-z0-9]+
    # tokens, unigram+bigram features WITH multiplicity, 32-bit md5
    # bucket % 512, per-doc mean normalization (total feature count),
    # md5 synthetic weights in [-0.5, 0.5), bias 0.1, sigmoid from
    # the UNROUNDED logit; doubles at 4dp
    "classifier_score": """
with cs_toks as (
  select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from documents
), cs_feats as (
  select doc_id, f from (
    select doc_id, unnest(ts) as f from cs_toks
    union all
    select doc_id, ts[i] || ' ' || ts[i + 1] as f
    from cs_toks, unnest(generate_series(1, len(ts) - 1)) as s(i)
  )
), cs_bc as (
  select doc_id,
         ('0x' || substring(md5(f), 1, 8))::bigint % 512 as bucket,
         count(*)::bigint as c
  from cs_feats group by 1, 2
), cs_x as (
  select doc_id, bucket,
         c::double / sum(c) over (partition by doc_id) as x
  from cs_bc
), cs_w as (
  select bucket,
         ((('0x' || substring(md5(bucket::varchar || ':w'), 1, 8))::bigint
           ::double) / 4294967296.0 - 0.5) as w
  from (select unnest(generate_series(0, 511)) as bucket)
), cs_m as (
  select x.doc_id, sum(x.x * w.w) as s
  from cs_x x join cs_w w using (bucket)
  group by 1
)
select d.doc_id,
       round(coalesce(m.s, 0.0) + 0.1, 4) as logit,
       round(1.0 / (1.0 + exp(-(coalesce(m.s, 0.0) + 0.1))), 4) as score
from documents d left join cs_m m using (doc_id)
""",
    "dedup_incremental_exact": """
with fp as (select doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) f
            from documents),
corpus as (select f, min(doc_id) as ckeep from fp where doc_id % 3 != 0 group by f),
batch as (select doc_id, f from fp where doc_id % 3 = 0),
bk as (select f, min(doc_id) as bkeep from batch group by f)
select b.doc_id, coalesce(c.ckeep, k.bkeep) as keeper_id,
       b.doc_id != coalesce(c.ckeep, k.bkeep) as is_dup
from batch b left join corpus c using (f) join bk k using (f)
""",
    "dedup_incremental_lsh": _minhash_incremental_sql(16, 4),
    "dedup_winnow": _WINNOW_FPS_SQL,
    "dedup_winnow_pairs": f"""
with fps as ({_WINNOW_FPS_SQL}),
 stop as (select fp from fps group by fp having count(*) > 50),
 kept as (select f.doc_id, f.fp from fps f anti join stop using (fp))
select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as shared
from kept a join kept b using (fp)
where a.doc_id < b.doc_id
group by 1, 2
having count(*) >= 2
""",
    "dedup_ngram_jaccard": """
with sh as (select doc_id, lower(text) lt from documents),
 shingles as (
  select distinct doc_id, substring(lt, i, 3) as shingle
  from sh, unnest(generate_series(1, greatest(length(lt) - 2, 1))) as t(i)
), sizes as (select doc_id, count(*) sz from shingles group by doc_id),
 inter as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) inter
  from shingles a join shingles b using (shingle)
  where a.doc_id < b.doc_id group by 1, 2
)
select doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter * 1.0), 6) as jaccard
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
where inter / (sa.sz + sb.sz - inter * 1.0) >= 0.6
""",
    "dedup_simhash_pairs": (
        _simhash_core_sql(64)
        + """, bands as (
  select doc_id, simhash, band, (simhash >> (8 * band)) & 255 as byte
  from sh, unnest([0, 1, 2, 3, 4, 5, 6, 7]) as t(band)
)
select distinct a.doc_id as doc_a, b.doc_id as doc_b,
       bit_count(xor(a.simhash, b.simhash)) as hamming
from bands a join bands b on a.band = b.band and a.byte = b.byte
where a.doc_id < b.doc_id
  and bit_count(xor(a.simhash, b.simhash)) <= 3
"""
    ),
    "dedup_simhash": (
        _simhash_core_sql(64) + "\nselect doc_id, simhash from sh\n"
    ),
    # simhash byte-band pairs -> the SAME recursive closure + keeper
    # as dedup_clusters (pair-source-agnostic composition)
    "dedup_simhash_clusters": (
        _simhash_core_sql(64).replace("\nwith toks", "\nwith recursive toks", 1)
        + """, bands as (
  select doc_id, simhash, band, (simhash >> (8 * band)) & 255 as byte
  from sh, unnest([0, 1, 2, 3, 4, 5, 6, 7]) as t(band)
), pairs as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b on a.band = b.band and a.byte = b.byte
  where a.doc_id < b.doc_id
    and bit_count(xor(a.simhash, b.simhash)) <= 3
), sym as (
  select doc_a as u, doc_b as v from pairs
  union
  select doc_b as u, doc_a as v from pairs
), reach as (
  select doc_id as src, doc_id as dst from documents
  union
  select r.src, s.v from reach r join sym s on s.u = r.dst
), comp as (
  select src as doc_id, min(dst) as component_id from reach group by src
), ranked as (
  select c.doc_id, c.component_id,
         row_number() over (partition by c.component_id
                            order by length(d.text) desc, c.doc_id) rn
  from comp c join documents d using (doc_id)
), keep as (
  select component_id, doc_id as keeper_id from ranked where rn = 1
)
select c.doc_id, c.component_id, k.keeper_id,
       (c.doc_id <> k.keeper_id) as is_dup
from comp c join keep k using (component_id)
"""
    ),
    "dedup_lsh_jaccard_verified": f"""
with cand as ({_minhash_sql(16, 4)}),
 j_sh as (select doc_id, lower(text) lt from documents),
 j_shingles as (
  select distinct doc_id, substring(lt, i, 3) as shingle
  from j_sh, unnest(generate_series(1, greatest(length(lt) - 2, 1))) as t(i)
), j_sizes as (select doc_id, count(*) sz from j_shingles group by doc_id),
 j_inter as (
  select c.doc_a, c.doc_b, count(*) as inter
  from cand c
  join j_shingles a on a.doc_id = c.doc_a
  join j_shingles b on b.doc_id = c.doc_b and b.shingle = a.shingle
  group by 1, 2
)
select doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter * 1.0), 6) as jaccard
from j_inter
join j_sizes sa on sa.doc_id = doc_a
join j_sizes sb on sb.doc_id = doc_b
where inter / (sa.sz + sb.sz - inter * 1.0) >= 0.6
""",
    # same pipeline as dedup_lsh_jaccard_verified, then the near-dup
    # relation is closed transitively with a recursive CTE (min
    # reachable doc_id = the component id) and one keeper per
    # component is picked by (text length desc, doc_id asc) —
    # mirroring ops.dedup.dedup_clusters exactly.
    "dedup_clusters": f"""
with recursive cand as ({_minhash_sql(16, 4)}),
 c_sh as (select doc_id, lower(text) lt from documents),
 c_shingles as (
  select distinct doc_id, substring(lt, i, 3) as shingle
  from c_sh, unnest(generate_series(1, greatest(length(lt) - 2, 1))) as t(i)
), c_sizes as (select doc_id, count(*) sz from c_shingles group by doc_id),
 c_inter as (
  select c.doc_a, c.doc_b, count(*) as inter
  from cand c
  join c_shingles a on a.doc_id = c.doc_a
  join c_shingles b on b.doc_id = c.doc_b and b.shingle = a.shingle
  group by 1, 2
), pairs as (
  select doc_a, doc_b from c_inter
  join c_sizes sa on sa.doc_id = doc_a
  join c_sizes sb on sb.doc_id = doc_b
  where inter / (sa.sz + sb.sz - inter * 1.0) >= 0.6
), sym as (
  select doc_a as u, doc_b as v from pairs
  union
  select doc_b as u, doc_a as v from pairs
), reach as (
  select doc_id as src, doc_id as dst from documents
  union
  select r.src, s.v from reach r join sym s on s.u = r.dst
), comp as (
  select src as doc_id, min(dst) as component_id from reach group by src
), ranked as (
  select c.doc_id, c.component_id,
         row_number() over (partition by c.component_id
                            order by length(d.text) desc, c.doc_id) rn
  from comp c join documents d using (doc_id)
), keep as (
  select component_id, doc_id as keeper_id from ranked where rn = 1
)
select c.doc_id, c.component_id, k.keeper_id,
       (c.doc_id <> k.keeper_id) as is_dup
from comp c join keep k using (component_id)
""",
    # same stats fragments as text_stats; check order mirrors
    # textstats.corpus_filter (short -> repetition -> low_quality -> lang)
    "corpus_filter": f"""
with base as (
  select doc_id, text, ' ' || lower(text) || ' ' as padded,
         {', '.join(f"{_lang_score_sql(L)} as score_{L}" for L in _TEXTSTAT_MARKERS)}
  from documents
), s as (
  select doc_id,
    case when length(trim(text)) = 0 then 0
         else len(regexp_split_to_array(trim(text), '\\s+')) end as n_tokens,
    round(
      0.4 * (case when length(text) = 0 then 0.0
             else length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                  / length(text) end)
    + 0.2 * (1.0 - least((case when length(text) = 0 then 0.0
             else length(regexp_replace(text, '[^.,;:!?''\\"()-]', '', 'g')) * 1.0
                  / length(text) end) * 5.0, 1.0))
    + 0.2 * (case when (case when (case when length(trim(text)) = 0 then 0
                else len(regexp_split_to_array(trim(text), '\\s+')) end) = 0 then 0.0
             else length(regexp_replace(text, '\\s', '', 'g')) * 1.0
                  / (case when length(trim(text)) = 0 then 0
                     else len(regexp_split_to_array(trim(text), '\\s+')) end) end)
             between 3.0 and 12.0 then 1.0 else 0.3 end)
    + 0.2 * least(length(text) / 500.0, 1.0), 6) as quality,
    {_lang_id_sql()} as lang_guess
  from base
), cf_lines as (
  select doc_id, l from documents, unnest(string_split(text, chr(10))) as t(l)
  where length(l) > 0
), cf_per_line as (
  select doc_id, l, count(*) c, length(l) len from cf_lines group by doc_id, l
), cf_linestats as (
  select doc_id,
         1.0 - count(*) * 1.0 / sum(c) as dlf,
         sum((c - 1) * len) * 1.0 / sum(c * len) as dlcf
  from cf_per_line group by doc_id
), cf_toks as (
  select doc_id, t from documents,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) as s(t)
  where length(t) > 0
), cf_per_tok as (
  select doc_id, t, count(*) c from cf_toks group by doc_id, t
), cf_tokstats as (
  select doc_id, max(c) * 1.0 / sum(c) as ttf
  from cf_per_tok group by doc_id
), cf_stop as (
  select doc_id, count(*) as ns from cf_toks
  where t in ('the','be','to','of','and','that','have','with')
  group by doc_id
), r as (
  select s.doc_id,
    case when coalesce(n_tokens, 0) < 5 then 'short'
         when coalesce(dlf, 0.0) > 0.3 or coalesce(dlcf, 0.0) > 0.2
              or coalesce(ttf, 0.0) > 0.2 then 'repetition'
         when quality < 0.5 then 'low_quality'
         when lang_guess not in ('en') then 'lang'
         when coalesce(ns, 0) < 2 then 'no_stopwords' end as reason
  from s
  left join cf_linestats using (doc_id)
  left join cf_tokstats using (doc_id)
  left join cf_stop using (doc_id)
)
select doc_id, reason is null as keep, reason from r
""",
    "vocab_top_tokens": """
with toks as (
  select doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as token
  from documents
)
select token, count(*) as freq, count(distinct doc_id) as n_docs
from toks group by token
order by freq desc, token asc limit 100
""",
    "text_stats": f"""
with base as (
  select doc_id, text, ' ' || lower(text) || ' ' as padded,
         {', '.join(f"{_lang_score_sql(L)} as score_{L}" for L in _TEXTSTAT_MARKERS)}
  from documents
)
select doc_id,
  case when length(trim(text)) = 0 then 0
       else len(regexp_split_to_array(trim(text), '\\s+')) end as n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) as n_bpe_tokens,
  {_lang_id_sql()} as lang_guess,
  round(
    0.4 * (case when length(text) = 0 then 0.0
           else length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                / length(text) end)
  + 0.2 * (1.0 - least((case when length(text) = 0 then 0.0
           else length(regexp_replace(text, '[^.,;:!?''\\"()-]', '', 'g')) * 1.0
                / length(text) end) * 5.0, 1.0))
  + 0.2 * (case when (case when (case when length(trim(text)) = 0 then 0
              else len(regexp_split_to_array(trim(text), '\\s+')) end) = 0 then 0.0
           else length(regexp_replace(text, '\\s', '', 'g')) * 1.0
                / (case when length(trim(text)) = 0 then 0
                   else len(regexp_split_to_array(trim(text), '\\s+')) end) end)
           between 3.0 and 12.0 then 1.0 else 0.3 end)
  + 0.2 * least(length(text) / 500.0, 1.0), 6) as quality,
  round(case when len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                  x -> length(x) > 0)) = 0 then 0.0
        else len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','that','this','it','on','for','with','as','at','by','from','not'], x))) * 1.0
             / len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> length(x) > 0)) end, 6) as stopword_frac,
  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) as fp
from base
""",
    "mm_frame_plan": """
with media as (
  select doc_id as media_id,
         1000 + (doc_id * 37) % 60000 as duration_ms
  from documents where doc_id % 3 = 2
), plans as (
  select media_id,
         least(greatest(cast(floor(duration_ms / 10000.0) as int), 1), 8) as nf
  from media
)
select media_id, cast(f as bigint) as frame_idx,
       cast(f * 10000 as bigint) as ts_ms
from (select media_id, unnest(range(nf)) as f from plans) s
""",
    "mm_resize_plan": """
with media as (
  select doc_id as media_id,
         16 + doc_id % 112 as width,
         16 + (doc_id * 7) % 112 as height
  from documents where doc_id % 3 = 0
)
select media_id, width, height,
       round(64 / nullif(width, 0), 6) as scale_x,
       round(64 / nullif(height, 0), 6) as scale_y
from media
""",
    "ann_cosine_topk": """
with q as (select vec_id as query_id, embedding as qv from embeddings
           where vec_id < 10),
 scored as (
  select q.query_id, e.vec_id,
         round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) as cos
  from q cross join embeddings e where q.query_id != e.vec_id
), ranked as (
  select *, row_number() over (
    partition by query_id order by cos desc, vec_id) rn from scored
)
select query_id, vec_id, cos, rn from ranked where rn <= 10
""",
    "embedding_near_dup": """
with e as (select * from embeddings where vec_id < 200)
select a.vec_id as id_a, b.vec_id as id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) as cos
from e a cross join e b
where a.vec_id < b.vec_id
  and round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
""",
    # regenerates the surviving (dst, anchor) rows of
    # q_anchor_text_topk's deterministic pages (self anchor and empty
    # href never survive the extraction UDF) and mirrors the rollup
    "anchor_text_topk": """
with u as (select distinct user_id as uid from events),
 j as (select * from (values (0), (1), (2)) as t(j)),
 pairs as (
  select 'https://node' || (((uid % 40) * 3 + j) % 10) || '.test/' as dst_url,
         'label ' || (((uid % 40) + j) % 4) as anchor
  from u cross join j),
 c as (select dst_url, anchor, count(*) as n_pages
       from pairs group by dst_url, anchor),
 r as (select *, row_number() over (
         partition by dst_url order by n_pages desc, anchor asc) as rn
       from c)
select dst_url, anchor, n_pages, rn from r where rn <= 2
""",
    # mirrors q_shard_assign / ops/sampling.shard_assign exactly:
    # independent md5 streams over (id ':seed:' role), 8-hex string
    # compare for the split, 32-bit hash mod shards, 60-bit order key
    "shard_assign": """
select doc_id,
  case when substring(md5(doc_id::varchar || ':7:split'), 1, 8)
            >= lpad(lower(hex(floor(0.1 * 4294967296.0)::bigint)), 8, '0')
       then 'train' else 'val' end as split,
  ('0x' || substring(md5(doc_id::varchar || ':7:shard'), 1, 8))::bigint % 8
    as shard,
  ('0x' || substring(md5(doc_id::varchar || ':7:pos'), 1, 15))::bigint
    as pos
from documents
""",
    # mirrors q_span_dedup / ops/dedup.span_dedup exactly: whitespace
    # tokens, md5 of space-joined 8-token windows, >=2 total
    # occurrences, coverage union, space-rejoined survivors
    "span_dedup": (_SPAN_SQL := r"""
with sd_toks as (
  select doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> len(x) > 0) as ts
  from documents where text is not null
), sd_grams as (
  select doc_id, i - 1 as pos,
         md5(array_to_string(list_slice(ts, i, i + 7), ' ')) as g
  from sd_toks, unnest(generate_series(1, len(ts) - 7)) s(i)
  where len(ts) >= 8
), sd_dup as (select g from sd_grams group by g having count(*) >= 2),
sd_cov as (
  select distinct g.doc_id, g.pos + j as t
  from sd_grams g join sd_dup using (g),
       unnest(generate_series(0, 7)) sj(j)
), sd_tok as (
  select doc_id, i - 1 as t, ts[i] as tok
  from sd_toks, unnest(generate_series(1, len(ts))) si(i)
), sd_kept as (
  select tk.doc_id,
         string_agg(tk.tok, ' ' order by tk.t) as clean_text,
         count(*) as nk
  from sd_tok tk
  left join sd_cov c on c.doc_id = tk.doc_id and c.t = tk.t
  where c.t is null
  group by tk.doc_id
)
select b.doc_id, coalesce(k.clean_text, '') as clean_text,
       (len(b.ts) - coalesce(k.nk, 0))::bigint as n_tokens_removed
from sd_toks b left join sd_kept k using (doc_id)
"""),
    # the incremental exactness lemma AS the oracle: batch-vs-stored-
    # corpus-counts must equal the batch-id slice of a full span run
    # over corpus ∪ batch (= all documents), re-derived from scratch
    "dedup_incremental_spans": _SPAN_SQL + " where b.doc_id % 3 = 0",
    # mirrors q_lm_perplexity / ops/lm exactly: [a-z0-9]+ tokens,
    # consecutive-pair bigrams, pre-folded c1, add-one unigram
    # smoothing, lam = 0.75 (binary-exact), ln/avg/exp at 4dp
    "lm_perplexity": """
with lm_ref as (
  select regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from documents where lang = 'en'
), lm_uc as (
  select w, count(*)::bigint as c
  from (select unnest(ts) as w from lm_ref) group by w
), lm_bic as (
  select b.w1, b.w2, b.c12, u.c as c1
  from (select ts[i] as w1, ts[i + 1] as w2, count(*)::bigint as c12
        from lm_ref, unnest(generate_series(1, len(ts) - 1)) s(i)
        group by 1, 2) b
  join lm_uc u on u.w = b.w1
), lm_norm as (
  select sum(c)::double as nn, count(*)::double as vv from lm_uc
), lm_docs as (
  select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as ts
  from documents
), lm_pairs as (
  select doc_id, ts[i] as w1, ts[i + 1] as w2
  from lm_docs, unnest(generate_series(1, len(ts) - 1)) s(i)
), lm_lp as (
  select p.doc_id,
         ln(0.75 * coalesce(b.c12::double / b.c1, 0.0)
            + 0.25 * (coalesce(u.c, 0) + 1.0) / (n.nn + n.vv)) as lp
  from lm_pairs p
  left join lm_bic b on b.w1 = p.w1 and b.w2 = p.w2
  left join lm_uc u on u.w = p.w2
  cross join lm_norm n
), lm_doc as (
  select doc_id, count(*)::bigint as n_bigrams, avg(lp) as a
  from lm_lp group by doc_id
)
select d.doc_id,
       coalesce(l.n_bigrams, 0)::bigint as n_bigrams,
       round(l.a, 4) as avg_logp,
       round(exp(-l.a), 4) as ppl
from (select distinct doc_id from documents) d
left join lm_doc l using (doc_id)
""",
    # mirrors q_c4_filters / ops/textstats.c4_filters exactly: the
    # multiline corpus + planted violations, the terminal-punct /
    # min-words / javascript line rules, and the first-failing doc
    # attribution (lorem_ipsum > brace > blocklist > too_few_lines)
    "c4_filters": r"""
with c4_aug as (
  select doc_id,
    replace(text, ' value ', chr(10))
    || case when doc_id % 4 = 0
            then chr(10) || 'all rights reserved footer' else '' end
    || case when doc_id % 9 = 0
            then chr(10) || 'subscribe to our newsletter' else '' end
    || case when doc_id % 5 >= 1 then chr(10)
            || 'planted keeper line number ' || ((doc_id + 1) % 7)
            || ' stays here.' else '' end
    || case when doc_id % 5 >= 2 then chr(10)
            || 'planted keeper line number ' || ((doc_id + 2) % 7)
            || ' stays here.' else '' end
    || case when doc_id % 5 >= 3 then chr(10)
            || 'planted keeper line number ' || ((doc_id + 3) % 7)
            || ' stays here.' else '' end
    || case when doc_id % 17 = 0 then chr(10)
            || 'the contraband token sits here fine.' else '' end
    || case when doc_id % 19 = 0 then chr(10)
            || 'code { sample } line' else '' end
    || case when doc_id % 23 = 0 then chr(10)
            || 'Lorem ipsum dolor sit amet.' else '' end
    || case when doc_id % 29 = 0 then chr(10)
            || 'please enable javascript to continue reading now.'
            else '' end
    as text
  from documents
), c4_k as (
  select doc_id, text,
    list_filter(string_split(text, chr(10)),
      l -> right(trim(l), 1) in ('.', '!', '?', '"', '''')
           and len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                               x -> len(x) > 0)) >= 4
           and not contains(lower(l), 'javascript')) as kept,
    len(string_split(text, chr(10))) as n_total
  from c4_aug
), c4_r as (
  select doc_id, kept, n_total,
    case when contains(lower(text), 'lorem ipsum') then 'lorem_ipsum'
         when contains(text, '{') then 'brace'
         when list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            'contraband') then 'blocklist'
         when len(kept) < 2 then 'too_few_lines' end as reason
  from c4_k
)
select doc_id,
       coalesce(array_to_string(kept, chr(10)), '') as clean_text,
       len(kept)::bigint as n_lines_kept,
       (n_total - len(kept))::bigint as n_lines_dropped,
       reason is null as keep,
       reason
from c4_r
""",
    # mirrors q_url_filter / functions.extract.url_filter exactly:
    # same url construction, hard/soft keyword weights, digit and
    # tail-length bumps, parent-suffix domain match, attribution
    "url_filter": r"""
with uf_u as (select distinct user_id as uid from events),
uf_urls as (
  select case
    when uid % 12 = 0
      then 'https://blocked' || ((uid // 12) % 3) || '.test/p' || uid
    when uid % 12 = 1
      then 'https://sub.blocked' || ((uid // 12) % 3) || '.test/p' || uid
    when uid % 12 = 2 then 'https://ok.test/free-casino-download-' || uid
    when uid % 12 = 3 then 'ftp://bad' || uid
    else 'https://host' || (uid % 20) || '.test/u' || uid end as url
  from uf_u
), uf_s as (
  select url, lower(url) as u,
    regexp_extract(lower(url), '^https?://([^/?#]+)', 1) as host
  from uf_urls
), uf_sc as (
  select url, host,
    (case when contains(u, 'porn') then 2 else 0 end
     + case when contains(u, 'casino') then 2 else 0 end
     + case when contains(u, 'viagra') then 2 else 0 end
     + case when contains(u, 'webcam') then 2 else 0 end
     + case when contains(u, 'escort') then 2 else 0 end
     + case when contains(u, 'download') then 1 else 0 end
     + case when contains(u, 'free') then 1 else 0 end
     + case when contains(u, 'click') then 1 else 0 end
     + case when contains(u, 'deal') then 1 else 0 end
     + case when contains(u, 'sale') then 1 else 0 end
     + case when len(regexp_replace(u, '[^0-9]', '', 'g')) > 4
            then 1 else 0 end
     + case when len(regexp_extract(u, '^https?://[^/?#]+([^#]*)', 1))
            > 120 then 1 else 0 end
    )::int as spam_score,
    (host in ('blocked0.test', 'blocked1.test', 'blocked2.test')
     or host like '%.blocked0.test' or host like '%.blocked1.test'
     or host like '%.blocked2.test') as blocked,
    (url like 'https://%' or url like 'http://%')
      and len(url) <= 2048
      and regexp_extract(url, '^https?://([^/?#]+)', 1) <> '' as valid
  from uf_s
)
select url, spam_score,
  (case when not valid then 'invalid'
        when blocked then 'blocked_domain'
        when spam_score > 2 then 'spam' end) is null as keep,
  case when not valid then 'invalid'
       when blocked then 'blocked_domain'
       when spam_score > 2 then 'spam' end as reason
from uf_sc
""",
    # mirrors q_host_stats / ops/anchors.host_stats exactly: same url
    # construction, whitespace token-count convention, NULL-text
    # handling, and the sums-derived average
    "host_stats": f"""
with hs_u as (select distinct user_id as uid from events),
hs_p as (
  select {_USER_URL_SQL.format(c="uid")} as url,
         case when uid % 13 = 0 then null
              else 'w ' || repeat('tok ', uid % 7) end as text
  from hs_u
), hs_t as (
  select lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) as host,
         text,
         case when text is null then 0
              when len(trim(text)) = 0 then 0
              else len(regexp_split_to_array(trim(text), '\\s+'))
         end as tc
  from hs_p
), hs_a as (
  select host, count(*)::bigint as n_pages,
         sum(case when text is not null then 1 else 0 end)::bigint
           as n_with_text,
         sum(tc)::bigint as total_tokens
  from hs_t group by host
)
select host, n_pages, n_with_text, total_tokens,
       round(total_tokens::double / greatest(n_with_text, 1), 6)
         as avg_tokens
from hs_a
""",
}
