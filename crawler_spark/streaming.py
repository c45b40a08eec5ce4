"""Structured Streaming form of the ingest path (SURVEY §2.9).

The reference is event-at-a-time over bounded channels with load
shedding (cmd/crawler.go:101-133); the engine's primary form is the
deterministic epoch loop (engine.py). This module lifts the SAME
operators onto Structured Streaming for deployments where pages land
continuously:

 - `stream_pages`: readStream over a pages directory (input_hint
   schema), watermarked on `warc_ts`;
 - `run_ingest_stream`: foreachBatch -> `CrawlEngine.process_pages`
   + snapshot commit per micro-batch. foreachBatch is the right
   bridge because the walk store is a batch-maintained table (the
   incremental repair is already idempotent per batch: W1 keeps the
   newest page per url, replays MERGE to the same state);
 - `host_rate_metrics`: watermark + windowed aggregation (pages per
   host per window) — the late-data-tolerant form of the reference's
   1 s stats ticker (cmd/crawler.go:146-189).

Late data: a page older than the watermark delay is dropped by the
windowed metrics but still applied by the ingest path's W1 dedup
(replace-by-newest per url — pkg/crawler/process.go:112-124 keeps
newest regardless of arrival order), matching reference semantics.
"""

from __future__ import annotations

import datetime as _dt

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .engine import CrawlEngine
from .functions.extract import url_host


# foreachBatch callbacks run on fresh Python threads — pin the JVM
# active-session thread-local before building any plan (see
# session.pin_active_session for the resetMetrics NPE this closes)
from .session import pin_active_session as _pin_active_session


def stream_pages(
    spark: SparkSession,
    pages_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a directory of pages parquet files."""
    reader = spark.readStream.schema(schemas.PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir).withWatermark("warc_ts", watermark)


def host_rate_metrics(
    pages: DataFrame, window: str = "1 minute"
) -> DataFrame:
    """Pages per host per event-time window (watermarked agg)."""
    return (
        pages.groupBy(
            F.window("warc_ts", window).alias("w"),
            url_host(F.col("url")).alias("host"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )


def dedup_exact_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
) -> DataFrame:
    """Streaming exact dedup over a document stream: the FIRST
    arrival per content fingerprint survives; later identical texts
    drop. The corpus-pipeline analogue of the batch
    `ops.dedup.exact_dedup` (keeper = min doc_id): under in-order
    replay the survivor sets coincide (first arrival == min id) —
    the stream-vs-batch gate replays exactly that.

    State is BOUNDED: `dropDuplicatesWithinWatermark` evicts
    fingerprints older than the watermark horizon, so state size
    tracks the horizon's ingest rate, not the corpus — a plain
    streaming dropDuplicates at 10^10 docs would hold every
    fingerprint forever. Past-horizon re-arrivals of the same text
    are the correctness trade; the periodic batch dedup over the
    accumulated table repairs them (the same bounded-memory trade as
    the crawl's bloom-bucketed seen set, S2/J3).

    Returns (id, ts, fp) rows of surviving documents."""
    from .ops.textstats import fingerprint

    return (
        docs.select(
            F.col(id_col),
            F.col(ts_col),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


POLITE_OUT = "host string, url string, priority double, admitted_ts double"
POLITE_STATE = (
    "last_ts double, credit double, "
    "q_urls array<string>, q_prios array<double>"
)


def polite_gate_stream(
    candidates: DataFrame,
    crawl_delay_s: float = 1.0,
    burst_cap: float = 4.0,
    carry_cap: int = 1000,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    a per-host token-bucket politeness gate over a stream of frontier
    candidates (url, host, priority, warc_ts).

    State per host = (last event-time seen, fractional credit, and
    the DEFERRED queue: over-budget urls wait in state for later
    micro-batches, exactly like schedule_batch leaves them 'queued'
    for later ticks). Tokens accrue at 1/crawl_delay_s per event-time
    second up to `burst_cap`; each micro-batch admits the
    top-priority urls (deferred ∪ new) up to the accrued (floor)
    tokens. The deferred queue is bounded at `carry_cap` per host —
    lowest-priority overflow is shed, the reference's bounded-channel
    load-shedding (cmd/crawler.go:101-133). Deterministic: ordering
    is (priority DESC, url), time is event time, and state
    transitions are pure functions of (state, batch).
    """
    import pandas as pd

    def gate(key, pdf_iter, state):
        host = key[0]
        rows = [pdf for pdf in pdf_iter if len(pdf)]
        if not rows:
            return
        pdf = pd.concat(rows, ignore_index=True)
        now = float(pdf["ts_sec"].max())
        if state.exists:
            last_ts, credit, q_urls, q_prios = state.get
            credit = min(
                burst_cap, credit + max(now - last_ts, 0.0) / crawl_delay_s
            )
            # the host clock never regresses: a late batch (now <
            # last_ts) accrues nothing above, but STORING its older
            # ts would let the next in-order batch re-accrue the
            # interval already counted — over-admitting up to
            # burst_cap fetches in one slot
            now = max(now, last_ts)
            if q_urls is not None and len(q_urls):
                pdf = pd.concat(
                    [
                        pdf[["url", "priority"]],
                        pd.DataFrame(
                            {"url": list(q_urls), "priority": list(q_prios)}
                        ),
                    ],
                    ignore_index=True,
                )
        else:
            credit = 1.0  # a fresh host may be fetched immediately
        pdf = (
            pdf[["url", "priority"]]
            .sort_values(["priority", "url"], ascending=[False, True])
            .drop_duplicates("url", keep="first")
        )
        n = int(credit)
        take = pdf.head(n)
        rest = pdf.iloc[len(take): len(take) + carry_cap]
        state.update(
            (
                now,
                credit - len(take),
                rest["url"].tolist(),
                rest["priority"].tolist(),
            )
        )
        if len(take):
            yield pd.DataFrame(
                {
                    "host": [host] * len(take),
                    "url": take["url"].to_numpy(),
                    "priority": take["priority"].to_numpy(),
                    "admitted_ts": [now] * len(take),
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = candidates.select(
        "host",
        "url",
        F.col("priority").cast("double").alias("priority"),
        F.unix_timestamp("warc_ts").cast("double").alias("ts_sec"),
    )
    return prepared.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType=POLITE_OUT,
        stateStructType=POLITE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CANDIDATES = "url string, priority double, warc_ts timestamp"


def stream_candidates(
    spark: SparkSession,
    candidates_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming source over frontier-candidate parquet files
    (url, priority, warc_ts); host derived from the url. One file per
    scheduler tick is the deterministic replay shape."""
    reader = spark.readStream.schema(CANDIDATES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(candidates_dir).withColumn(
        "host", url_host(F.col("url"))
    )


def run_crawl_stream(
    engine: CrawlEngine,
    candidates_dir: str,
    web: DataFrame,
    checkpoint_dir: str,
    crawl_delay_s: float = 1.0,
    burst_cap: float = 4.0,
    now: _dt.datetime | None = None,
    available_now: bool = True,
):
    """The streaming form of run_epoch's schedule -> fetch -> process
    loop, with the STATEFUL polite gate as the scheduler — politeness
    parity with `frontier.schedule_batch` (the reference's
    bounded-channel scheduler feeding the fetch workers,
    cmd/crawler.go:101-133 + pkg/crawler/crawler.go:135-184).

    Candidates stream in (one parquet file per tick is the replay
    shape); `polite_gate_stream` admits per-host token-budget winners
    and defers the rest in state; each admitted micro-batch is
    fetched against `web` (the pages corpus) and flows through the
    full process pipeline with a catalog snapshot per batch.

    Parity contract (gated in tests): with tick_seconds ==
    crawl_delay_s and burst_cap == 1, each tick admits exactly the
    urls `schedule_batch` would fetch for the same arrivals (per-host
    budget 1, (priority DESC, url) order, losers wait). Divergence to
    know about: the gate only re-examines a host when new candidates
    for it arrive (NoTimeout state) — exactly the reference's channel
    semantics where a host's queue drains on poll, not on a clock.

    Returns the StreamingQuery."""
    admitted = polite_gate_stream(
        stream_candidates(engine.spark, candidates_dir),
        crawl_delay_s=crawl_delay_s,
        burst_cap=burst_cap,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _pin_active_session(engine.spark)
        fetched = web.join(batch_df.select("url"), "url", "left_semi")
        ts = now or _dt.datetime.now(_dt.timezone.utc)
        # the reference's NodeArbiter runs CONCURRENTLY with the
        # firehose (arbiter.go:44-81, cmd/crawler.go:89-141) — the
        # continuous form must promote/demote and generate walks just
        # like the batch epoch loop, or the crawl-and-rank feedback
        # loop never closes. step's arbiter is change-ratio-gated, so
        # most batches pay one counter comparison.
        engine.step(fetched, ts, {"stream_batch_id": batch_id})

    writer = (
        admitted.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest_stream(
    engine: CrawlEngine,
    pages_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    now: _dt.datetime | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Micro-batched crawl ingest: every file batch of pages flows
    through the full process pipeline (dedup -> extract -> admission
    -> mint -> deltas -> walk repair), runs the change-ratio-gated
    arbiter, and commits a catalog snapshot.

    With `available_now` the stream drains existing files and stops —
    the testable/batch-drain form; without it, it runs continuously.
    `max_files_per_trigger=1` is the deterministic replay shape (one
    page file per micro-batch). Returns the StreamingQuery."""
    src = stream_pages(
        engine.spark, pages_dir, watermark,
        max_files_per_trigger=max_files_per_trigger,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _pin_active_session(engine.spark)
        ts = now or _dt.datetime.now(_dt.timezone.utc)
        # arbiter per micro-batch, same as run_crawl_stream: the
        # continuous form promotes/demotes concurrently with ingest
        # (reference arbiter.go:44-81); change-ratio-gated
        engine.step(batch_df, ts, {"stream_batch_id": batch_id})

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_polite_ingest_stream(
    engine: CrawlEngine,
    pages_dir: str,
    checkpoint_dir: str,
    crawl_delay_s: float = 1.0,
    burst_cap: float = 4.0,
    watermark: str = "10 minutes",
    now: _dt.datetime | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """`run_ingest_stream` behind the SAME stateful politeness gate
    the crawl stream uses — scheduler-contract parity between the two
    streaming entries (the reference's firehose is rate-limited per
    host by the bounded-channel scheduler before processing,
    cmd/crawler.go:101-133; a plain ingest stream bypasses that).

    Arriving page urls flow through `polite_gate_stream` keyed by
    host (over-budget urls defer in state for later micro-batches,
    bounded by the gate's carry_cap — the reference's load-shedding);
    each admitted micro-batch re-reads its page ROWS from `pages_dir`
    with a batch left-semi join (pages are landed files, so content
    never has to sit in gate state — only the narrow url queue does)
    and runs the full process + arbiter + commit pipeline. Priority
    within a host is arrival time (newest warc_ts first), matching
    the reference's queue order. Returns the StreamingQuery."""
    src = stream_pages(
        engine.spark, pages_dir, watermark,
        max_files_per_trigger=max_files_per_trigger,
    )
    # priority = the page's full-precision epoch timestamp: it orders
    # the gate (newest first) AND survives the gate's deferred state,
    # so each admitted row still names the exact (url, warc_ts) page
    # version whose arrival earned the slot
    cand = src.select(
        "url",
        F.col("warc_ts").cast("double").alias("priority"),
        "warc_ts",
    ).withColumn("host", url_host(F.col("url")))
    admitted = polite_gate_stream(
        cand, crawl_delay_s=crawl_delay_s, burst_cap=burst_cap
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _pin_active_session(engine.spark)
        # re-read page ROWS pinned to the admitted (url, warc_ts)
        # versions — NOT url alone: pages_dir may already hold a
        # NEWER version of a re-crawled url whose own micro-batch has
        # not yet passed the politeness gate, and the latest-per-url
        # window would otherwise process that content ahead of its
        # admitted slot (and then again at its real slot)
        pages = (
            engine.spark.read.schema(schemas.PAGES)
            .parquet(pages_dir)
            .withColumn("_sec", F.col("warc_ts").cast("double"))
            .join(
                batch_df.select("url", F.col("priority").alias("_sec")),
                ["url", "_sec"],
                "left_semi",
            )
            .drop("_sec")
        )
        ts = now or _dt.datetime.now(_dt.timezone.utc)
        engine.step(pages, ts, {"stream_batch_id": batch_id})

    writer = (
        admitted.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


LSH_PAIRS_OUT = "doc_a long, doc_b long"
LSH_BUCKET_STATE = "members array<long>"


def lsh_pairs_stream(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    bucket_cap: int = 64,
):
    """Streaming MinHash-LSH near-dup candidate pairs: as documents
    arrive, each lands in `bands` band buckets and pairs with every
    document ALREADY RESIDENT in the bucket — including arrivals from
    earlier micro-batches (the cross-batch memory batch
    `lsh_candidate_pairs` gets for free by seeing the whole corpus).
    Custom stateful operator: applyInPandasWithState keyed by
    (band, key); state = the bucket's resident doc ids.

    Signatures are computed per document row in ONE Arrow pass (no
    streaming aggregation): the same md5-word construction as
    ops.dedup.minhash_signatures — 4 hash words per md5, sig[h] = min
    over shingles of word h%4 of md5(shingle || '#' h//4) — so
    streamed band keys are byte-identical to batch (parity-gated).

    State is BOUNDED at `bucket_cap` resident ids per bucket (FIFO of
    first arrivals): a degenerate bucket (boilerplate shingle, hash
    pileup) holds cap ids, and later arrivals still pair against
    those residents without growing state — the same bounded-memory
    trade as the exact-dedup watermark. Below cap, emitted pairs
    (dedup'd across bands) EQUAL the batch pairs over the union of
    all micro-batches (the stream-vs-batch gate).

    A pair surfacing in several shared bands is emitted once per
    band; dedup downstream (exactly as the batch op's final
    .distinct()) — a streaming global distinct would shuffle-dedup
    every trigger for no correctness gain before verification."""
    import hashlib

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import ArrayType, StringType

    r = n_hashes // bands
    assert n_hashes % bands == 0
    n_md5 = (n_hashes + 3) // 4

    @F.pandas_udf(ArrayType(StringType()))
    def _band_keys(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            t = (t or "").lower()
            n = max(len(t) - (k - 1), 1)
            shingles = {t[i : i + k] for i in range(n)}
            digs = [
                [
                    hashlib.md5((s + f"#{j}").encode()).hexdigest()
                    for j in range(n_md5)
                ]
                for s in shingles
            ]
            sig = [
                min(d[h // 4][8 * (h % 4) : 8 * (h % 4) + 8] for d in digs)
                for h in range(n_hashes)
            ]
            out.append(
                ["|".join(sig[b * r : (b + 1) * r]) for b in range(bands)]
            )
        return pd.Series(out, index=text.index, dtype=object)

    band_rows = docs.select(
        F.col("doc_id"),
        F.posexplode(_band_keys(F.col("text"))).alias("band", "key"),
    )

    def bucket(key, pdf_iter, state):
        members = list(state.get[0]) if state.exists else []
        pairs_a, pairs_b = [], []
        for pdf in pdf_iter:
            for doc in sorted(int(d) for d in pdf["doc_id"]):
                if doc in members:
                    continue
                for m in members:
                    lo, hi = (m, doc) if m < doc else (doc, m)
                    pairs_a.append(lo)
                    pairs_b.append(hi)
                if len(members) < bucket_cap:
                    members.append(doc)
        state.update((members,))
        if pairs_a:
            yield pd.DataFrame({"doc_a": pairs_a, "doc_b": pairs_b})

    return band_rows.groupBy("band", "key").applyInPandasWithState(
        bucket,
        outputStructType=LSH_PAIRS_OUT,
        stateStructType=LSH_BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
