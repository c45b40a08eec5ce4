"""The crawl engine: epoch loop over checkpointed tables.

This is the Spark re-expression of the reference's four goroutines
(cmd/crawler.go:89-141) as ONE deterministic epoch loop (SURVEY §7:
"epoch loop, not channels"):

    per epoch:
      1. scheduler tick  (QueryPubkeys S3): pick a politeness-bounded,
         priority-ordered batch of queued frontier urls,
      2. "fetch" them — here, look them up in the synthetic web (the
         pages corpus); a real deployment fetches then lands rows in
         the pages table,
      3. process the page batch (ProcessEvents/M13,
         pkg/crawler/process.go:36-167): latest-dedup, extract links,
         admission-gate candidates through the bloom/cuckoo seen set,
         mint ids, diff follow lists into deltas, MERGE edges,
         incrementally repair walks,
      4. arbiter (NodeArbiter M11): when the change ratio crosses the
         activation threshold, promote/demote nodes and enqueue the
         promoted urls,
      5. commit every table as a catalog snapshot with metrics —
         kill the process anywhere; `CrawlEngine.resume()` restarts
         from the last committed epoch (north_rule).

State tables (all catalog-committed, listed once in `_TABLES`): nodes,
edges, walks, visits, frontier, filters, doc_fps, doc_bands, doc_lines.
The last three are the corpus content-dedup state (round 5): per
admitted batch the engine fingerprints + MinHash-signs the page texts
ONCE, consults the stored tables for exact/near duplicates
(partition-pruned, batch side broadcast — the corpus text is never
re-read or re-shingled), and appends the new fingerprints, band keys
and line counts at commit, mirroring how the reference
consults-and-updates admission state per event
(pkg/crawler/process.go:112-117). The exact seen set is `nodes` itself (a url is
"seen" once it has a node id, exactly like the reference's keyIndex
membership); the bucketed bloom `filters` table is maintained
INCREMENTALLY — only buckets that gained urls are rewritten per batch
(seen.update_seen_filters), which is what makes the approximate layer
affordable at a 10^10 frontier where a full rebuild would rescan
everything every epoch.

The `visits` table is the MAINTAINED inverted walk index
(node_id, walk_id) — the reference's walksVisiting:<id> sets, updated
transactionally on every walk add/remove/prune-graft
(pkg/store/redistore/store.go:337-358,393-411,442-465,
docs/store_design.md:53-59). It is read far more than written: repair
selection, graft sampling, arbiter visit counts, and many-source PPR
all probe it instead of exploding the walk store's paths, and per
delta batch the engine reads ONLY the delta nodes' bucket partitions
of the committed snapshot (partition pruning). totalVisits and
lastWalkID are tracked incrementally on the engine like the
reference's RWS counters (store.go:129-145) — no per-epoch
full-store aggregation anywhere in the loop.

Every table commits at bucket granularity, and commits are
DELTA-COMPOSED for walks/visits/edges/nodes and the dedup state: the
epoch registers (remove-keys, add-rows) pairs per table, and the
commit rebuilds only the dirty buckets from the previous snapshot's
pruned partitions plus those deltas — the logical full-table
DataFrames are never scanned at commit time, so a delta batch commits
in O(|dirty buckets| + |delta|), not O(|store|). The frontier and
filters commit their in-memory frame's dirty buckets.

Engine state comes from exactly two places, like the reference's
startup (cmd/crawler.go:52-66 cold start, store.go:129-145 reload):
`bootstrap()` builds all nine tables and the counters from seed urls
and commits them; `resume()` reloads them from the last committed
epoch. Every epoch method assumes one of the two ran first.
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import frontier as frontier_mod
from . import graph, schemas, seen, walks_gen, walks_update
from .catalog import Catalog
from .functions.extract import extract_links, is_valid_url
from .session import pin_active_session

# The one list of catalog-committed tables, in commit order:
#   name -> (anti-join keys of its delta-composed partial commits,
#            schema it starts empty with (None: never starts empty),
#            engine -> bucket column expr (None: the rows carry it)).
# Every table commits at bucket granularity (see _commit): id-keyed
# tables by key hash, nodes/frontier by the seen filters' host hash,
# the content-dedup state (sign-at-admission corpus side of
# ops.dedup.incremental_exact_dedup / incremental_lsh_pairs /
# incremental_line_dedup) by fingerprint or band-key hash.
_TABLES = {
    "nodes": (["node_id"], None, lambda e: seen.url_bucket(F.col("url"), e.n_buckets)),
    "edges": (["src", "dst"], "src long, dst long", lambda e: e._bucket_of("src")),
    "walks": (["walk_id"], None, lambda e: e._bucket_of("walk_id")),
    "visits": (["node_id", "walk_id"], None, lambda e: e._bucket_of("node_id")),
    "frontier": (None, None, lambda e: e._host_bucket()),
    "filters": (None, None, None),
    "doc_fps": (["fp"], "fp string, keeper_id long", lambda e: e._bucket_of_str("fp")),
    "doc_bands": (
        ["doc_id", "band", "key"],
        "doc_id long, band int, key string",
        lambda e: e._bucket_of_str("key"),
    ),
    "doc_lines": (["fp"], "fp string, n_docs long", lambda e: e._bucket_of_str("fp")),
}
_DEDUP_TABLES = tuple(n for n in _TABLES if n.startswith("doc_"))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        alpha: float = schemas.DEFAULT_ALPHA,
        walks_per_node: int = schemas.DEFAULT_WALKS_PER_NODE,
        n_buckets: int = 64,
        seed: int = 42,
        batch_size: int = schemas.DEFAULT_QUERY_BATCH,
        tick_seconds: float = 60.0,
        promotion_wait_s: float = schemas.ARBITER_PROMOTION_WAIT_S,
        dedup_hashes: int = 16,
        dedup_bands: int = 4,
        dedup_shingle_k: int = 3,
    ):
        self.spark = spark
        self.cat = Catalog(root)
        self.alpha = alpha
        self.wpn = walks_per_node
        self.n_buckets = n_buckets
        self.seed = seed
        self.batch_size = batch_size
        self.tick_seconds = tick_seconds
        self.promotion_wait_s = promotion_wait_s
        self.epoch = 0
        self.walks_changed = 0  # the walksTracker counter (process.go:118-123)
        # |edges|, maintained incrementally from delta sizes so the
        # broadcast-vs-bucketed strategy choice never pays an
        # edges.count() action inside the epoch loop
        self.n_edges = 0
        # the reference's RWS counters (store.go:17-25,129-145),
        # maintained incrementally from the same delta rows that feed
        # the visits index — the arbiter trigger and promotion id
        # minting never launch a full-store aggregation
        self.total_visits = 0
        self.next_walk_id = 0
        self.next_node_id = 0
        # bucket-level commit tracking per table: None => full
        # snapshot rewrite (bootstrap / fresh table); a set => only
        # those buckets are written, the rest hardlink from the
        # previous snapshot (catalog.write_partial). Id-keyed tables
        # bucket by pmod(xxhash64(key), n_table_buckets), host-keyed
        # ones by the filters' host-hash bucket (see _TABLES).
        self.n_table_buckets = 64
        self._dirty: dict[str, set[int] | None] = dict.fromkeys(_TABLES)
        # delta-composed commit inputs: table -> [(remove_df, add_df)]
        # applied in order onto the previous snapshot's dirty buckets
        self._pending: dict[str, list] = {}
        # frame object loaded from each table's committed snapshot:
        # _pruned_table may substitute a pruned snapshot read for the
        # in-memory frame ONLY while the frame IS that object — any
        # replacement (arbiter flip, caller mutation) voids it even if
        # no dirty bucket was marked
        self._snap_frames: dict[str, DataFrame] = {}
        # base snapshot reads keyed by path: an epoch probes the same
        # unchanged snapshot up to 4x (author join, link lookups,
        # edges, visits) — one file-listing/schema-inference pass each
        # without this
        self._snap_reads: dict[str, DataFrame] = {}
        # per-table parquet schema cache (schemas are fixed; see
        # _read_snapshot)
        self._snap_schemas: dict = {}
        self.nodes: DataFrame | None = None
        self.edges: DataFrame | None = None
        self.walks: DataFrame | None = None
        self.visits: DataFrame | None = None  # maintained inverted index
        self.frontier: DataFrame | None = None
        self.filters: DataFrame | None = None  # bucketed seen-set blooms
        # corpus content-dedup state (the training-data analog of the
        # URL-seen set): fingerprint and MinHash band tables maintained
        # per admitted batch, exactly like `visits` — consult-and-
        # append per event, never rebuilt (the reference's admission/
        # Replace semantics, pkg/crawler/process.go:112-117). Both are
        # MONOTONE content-seen sketches: a re-crawled url whose text
        # changed appends its new fingerprint/bands and keeps the old
        # ones, so "is this content a dup of anything the crawl has
        # EVER admitted" stays answerable without storing any text.
        self.dedup_hashes = dedup_hashes
        self.dedup_bands = dedup_bands
        self.dedup_shingle_k = dedup_shingle_k
        self.doc_fps: DataFrame | None = None  # (fp, keeper_id)
        self.doc_bands: DataFrame | None = None  # (doc_id, band, key)
        # (line-fp, n_docs): the boilerplate-line state the
        # incremental line dedup consults — counts accrue one
        # contribution per distinct content-version (exact-dedup
        # keepers), so duplicates never inflate line stats and the
        # table equals line_corpus_counts over the corpus keepers
        self.doc_lines: DataFrame | None = None
        # tables rolled back by resume's cross-table reconciliation
        self.last_resume_rollback: list[str] = []

    # ---- lifecycle ----

    @property
    def walk_strategy(self) -> str:
        """Broadcast-CSR vs host-locality bucketed walk machinery,
        decided from the incrementally-tracked edge count (no count()
        action)."""
        return walks_gen._pick_strategy("auto", lambda: self.n_edges)

    def bootstrap(self, seed_urls: list[str], now: _dt.datetime) -> None:
        """S9 cold start (cmd/crawler.go:52-66): seed urls become
        active nodes; walks generated for them (GenerateAll); all
        seeds enqueued for fetching."""
        spark = self.spark
        self.nodes = graph.nodes_from_urls(
            spark, seed_urls, status=schemas.STATUS_ACTIVE, added_ts=now
        )
        self._start_empty("edges")
        self.n_edges = 0
        self.walks = walks_gen.generate_walks(
            spark,
            self.edges,
            self.nodes.select("node_id"),
            alpha=self.alpha,
            walks_per_node=self.wpn,
            seed=self.seed,
            strategy=self.walk_strategy,
        )
        self.visits = walks_gen.visits_of(self.walks)
        self.frontier = frontier_mod.enqueue(
            None, self.nodes.select("url", "node_id"), now
        )
        self.filters = seen.build_seen_filters(
            self.nodes.select("url"), n_buckets=self.n_buckets
        )
        for name in _DEDUP_TABLES:
            self._start_empty(name)
        self.epoch = 0
        # the one-time bootstrap scans that seed the incremental
        # counters (every later epoch maintains them from deltas)
        self.next_walk_id = walks_gen.next_walk_id(self.walks)
        self.total_visits = walks_gen.total_visits(self.walks)
        self.next_node_id = self.nodes.count()  # ids dense 0..n-1
        self._commit(now, {"event": "bootstrap", "seeds": len(seed_urls)})

    def _read_snapshot(self, name: str, path: str):
        """spark.read of a snapshot dir with the table's CACHED schema:
        the first read per table infers and caches it; every later
        read supplies it explicitly, skipping the per-read footer
        schema-inference job (~6 driver-latency jobs per epoch across
        the pruned lookups and post-commit reloads — table schemas are
        fixed, so inference buys nothing after the first)."""
        sch = self._snap_schemas.get(name)
        if sch is None:
            df = self.spark.read.parquet(path)
            self._snap_schemas[name] = df.schema
            return df
        return self.spark.read.schema(sch).parquet(path)

    def _load(self, name: str, snap=None):
        """Read a table's current (or a given) snapshot, stripping/
        normalizing the bucket partition column every table carries
        on disk."""
        cur = snap if snap is not None else self.cat.current(name)
        df = self._read_snapshot(name, cur.path)
        if name == "filters":
            # partition col comes back as int and reordered — restore
            # the declared schema shape
            return df.select(
                F.col("bucket").cast("long"), "n_items", "m_bits", "bits"
            )
        return df.drop("bucket")

    def _adopt(self, name: str, snap=None) -> None:
        """Make `name`'s current (or a given) committed snapshot its
        in-memory state: nothing dirty, pruned snapshot reads valid."""
        setattr(self, name, self._load(name, snap))
        self._snap_frames[name] = getattr(self, name)
        self._dirty[name] = set()

    def _start_empty(self, name: str) -> None:
        """Start `name` as an empty table; its next commit writes it
        in full."""
        setattr(self, name, self.spark.createDataFrame([], _TABLES[name][1]))
        self._dirty[name] = None

    def _snapshot_capped(self, name: str, epoch: int):
        """Latest snapshot of `name` with epoch <= `epoch`. Raises
        FileNotFoundError when the table has no snapshots at all, and
        RuntimeError when every retained snapshot is NEWER than the
        cap (vacuumed past the rollback point — resume cannot
        reconcile)."""
        snaps = self.cat.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"no snapshot for table {name!r}")
        cands = [s for s in snaps if s.epoch <= epoch]
        if not cands:
            raise RuntimeError(
                f"table {name!r} has no retained snapshot at or before "
                f"epoch {epoch}; cross-table reconciliation needs a "
                f"one-epoch rollback window (raise keep_versions)"
            )
        return cands[-1]

    def resume(self) -> None:
        """Reload every table from its last committed snapshot.

        Cross-table epoch reconciliation: the per-table commits run as
        CONCURRENT actions (see _commit), so a crash mid-commit can
        leave an arbitrary subset of tables at epoch N with the rest
        still at N-1. Resume anchors on the highest epoch EVERY core
        table reached (min over the per-table latest epochs) and rolls
        any table that got further back to its snapshot at that epoch
        — snapshot versions are retained (catalog keep_versions)
        precisely so this one-epoch rollback is always available.
        Tables rolled back this way are recorded in
        `self.last_resume_rollback`. Without this, resume would
        silently serve mixed-epoch state after a mid-commit crash."""
        core = ("nodes", "edges", "walks", "frontier", "filters")
        latest = {n: self.cat.current(n) for n in core}
        missing = [n for n, s in latest.items() if s is None]
        if missing:
            raise FileNotFoundError(f"no snapshot for table(s) {missing}")
        resume_epoch = min(s.epoch for s in latest.values())
        self.last_resume_rollback = sorted(
            n for n, s in latest.items() if s.epoch > resume_epoch
        )
        chosen = {}
        for name in core:
            snap = latest[name]
            if snap.epoch > resume_epoch:
                snap = self._snapshot_capped(name, resume_epoch)
                # roll the CATALOG back too: with only the in-memory
                # frame rolled back, cat.current() would keep serving
                # the torn snapshot to partition-pruned reads and as
                # the partial-commit hardlink base — the next commit
                # would compose on (and hardlink from) exactly the
                # state resume just discarded
                self.cat.rollback(name, snap.version)
            chosen[name] = snap
            self._adopt(name, snap)
        cur_nodes = chosen["nodes"]
        self.epoch = cur_nodes.epoch
        # counters from the manifest (metadata, no scan): |edges| and
        # totalVisits are snapshot row counts; lastWalkID and the
        # node-id counter ride in every commit's metrics
        self.n_edges = chosen["edges"].n_rows
        # auxiliary tables (visits index, dedup-state sketches):
        # recovered INDEPENDENTLY — each either loads its snapshot at
        # <= resume_epoch (rolling the catalog back past any torn
        # newer version) or starts from its derivable/fresh state.
        # Independence is sound because no operator joins these
        # tables against each other, and both dedup sketches are
        # monotone: a missing entry only means a duplicate is not
        # recognized (safe direction); entries from a rolled-back
        # epoch are the dangerous direction and the cap removes them.
        def _aux_capped(name: str):
            """Snapshot at <= resume_epoch, catalog rolled back to
            it; None when the table must start over (never
            committed, or every retained snapshot is newer than the
            rollback point — e.g. a first-adoption commit torn by
            the crash, whose orphan versions are dropped)."""
            try:
                snap = self._snapshot_capped(name, resume_epoch)
            except FileNotFoundError:
                return None
            except RuntimeError:
                if self.cat.rollback(name, None):
                    self.last_resume_rollback.append(name)
                return None
            if self.cat.rollback(name, snap.version):
                self.last_resume_rollback.append(name)
            return snap

        vsnap = _aux_capped("visits")
        if vsnap is not None and vsnap.epoch != resume_epoch:
            # torn BEHIND the anchor: every core table reached
            # resume_epoch but the concurrent visits commit didn't
            # land, so the stored index is missing that epoch's
            # deltas. Unlike the monotone dedup sketches, visits is
            # an EXACT index of walks — serving the stale snapshot
            # would silently skip repair of walks visiting
            # epoch-changed nodes and hardlink the stale buckets
            # forward on the next partial commit. walks at
            # resume_epoch is present, so re-derive exactly.
            self.last_resume_rollback.append("visits")
            vsnap = None
        if vsnap is not None:
            self._adopt("visits", vsnap)
            self.total_visits = vsnap.n_rows
        else:
            # torn commit (behind the anchor above, or no snapshot at
            # <= resume_epoch): re-derive once, full write next commit
            self.visits = walks_gen.visits_of(self.walks)
            self.total_visits = walks_gen.total_visits(self.walks)
            self._dirty["visits"] = None  # full write on next commit
        for name in _DEDUP_TABLES:
            snap = _aux_capped(name)
            if snap is not None and name == "doc_bands":
                # stored signatures are only consultable under the
                # SAME MinHash/banding scheme: with different params
                # the (band, key) equi-join never matches the corpus
                # rows (silently-dead near-dup detection) and new
                # appends would interleave two incompatible key
                # schemes in one table. The corpus text is not
                # retained, so re-signing is impossible — refuse.
                stored = snap.metrics.get("dedup_params")
                mine = [
                    self.dedup_hashes, self.dedup_bands,
                    self.dedup_shingle_k,
                ]
                if stored is not None and list(stored) != mine:
                    raise ValueError(
                        f"doc_bands was signed with (n_hashes, bands, "
                        f"shingle_k) = {list(stored)} but this engine "
                        f"was constructed with {mine}; resume with "
                        f"matching dedup params (the stored corpus "
                        f"cannot be re-signed)"
                    )
            if snap is not None:
                self._adopt(name, snap)
            else:
                # torn first adoption: start fresh (full write next
                # commit) — the sketch is monotone, so late adoption
                # only means earlier content isn't consulted, never
                # wrong dups
                self._start_empty(name)
        self.last_resume_rollback.sort()
        self.next_walk_id = int(cur_nodes.metrics["next_walk_id"])
        # the walksTracker counter is persisted by every commit; losing
        # it on restart would reset the arbiter's change-ratio signal
        # to 0 each time, deferring promotion indefinitely under
        # periodic restarts (reference keeps it in RWS state,
        # process.go:118-123)
        self.walks_changed = int(cur_nodes.metrics.get("walks_changed") or 0)
        self.next_node_id = int(cur_nodes.metrics["next_node_id"])
        self._pending = {}
        self._snap_reads = {}

    def _host_bucket(self):
        """Frontier bucket: hash of the host string (the politeness/
        locality unit), modulo the filter bucket count."""
        return F.pmod(
            F.xxhash64(F.col("host")), F.lit(self.n_buckets)
        ).cast("int")

    def _bucket_of(self, key_col: str):
        # cast to long BEFORE hashing: xxhash64(int32) != xxhash64(
        # int64) for the same value, and bucket agreement between the
        # delta/dirty side and the table side is what partial commits
        # stand on
        return F.pmod(
            F.xxhash64(F.col(key_col).cast("long")),
            F.lit(self.n_table_buckets),
        ).cast("int")

    def _bucket_of_str(self, key_col: str):
        """Bucket expr for STRING-keyed tables (doc_fps by fp,
        doc_bands by band key) — no long cast (casting a hex/band
        string to long would null out)."""
        return F.pmod(
            F.xxhash64(F.col(key_col)), F.lit(self.n_table_buckets)
        ).cast("int")

    def _mark_dirty(self, name: str, buckets) -> None:
        cur = self._dirty[name]
        if cur is not None:  # None already means full rewrite
            cur.update(int(b) for b in buckets)

    def _pend(self, name: str, remove: DataFrame | None, add: DataFrame | None) -> None:
        """Register a delta-composed commit input for `name`: at
        commit time the dirty buckets are rebuilt from the previous
        snapshot's pruned partitions anti-joined with `remove` (on the
        table's key) and unioned with `add` — the logical full-table
        DataFrame is never scanned. Callers pass delta-sized,
        already-materialized frames."""
        self._pending.setdefault(name, []).append((remove, add))

    def _commit(self, now: _dt.datetime, extra: dict | None = None) -> None:
        """Snapshot every table at BUCKET granularity: only buckets
        the epoch touched are written, the rest hardlink from the
        previous version (the Iceberg overwrite-by-partition shape) —
        at a 10^12-row walk store this is the difference between
        committing the delta and rewriting 100 TB per epoch. Tables
        with registered pending deltas compose the dirty buckets'
        content from the previous snapshot (partition-pruned read) +
        the delta rows, so the commit never evaluates the full logical
        state either."""
        m = {
            "epoch": self.epoch,
            "walks_changed": self.walks_changed,
            "total_visits": self.total_visits,
            "next_walk_id": self.next_walk_id,
            "next_node_id": self.next_node_id,
            # the MinHash/banding scheme the doc_bands rows were
            # signed under — resume refuses to mix incompatible
            # schemes in one signature table
            "dedup_params": [
                self.dedup_hashes, self.dedup_bands, self.dedup_shingle_k
            ],
        }
        if extra:
            m.update(extra)

        def _commit_one(name: str, df: DataFrame) -> None:
            # pool threads build plans (withColumn/filter/union) and
            # run write actions on fresh py4j-paired JVM threads —
            # pin the active-session thread-local first (see
            # session.pin_active_session for the resetMetrics NPE)
            pin_active_session(self.spark)
            keys, _, bucket = _TABLES[name]
            dirty = self._dirty[name]
            cur = self.cat.current(name)
            partial = dirty is not None and cur is not None
            if partial and self._pending.get(name):
                # delta-composed: the dirty buckets are rebuilt from
                # the snapshot plus the pending deltas, not `df`
                df = (
                    self._read_snapshot(name, cur.path)
                    .filter(F.col("bucket").isin(sorted(dirty)))
                    .drop("bucket")
                )
                for rm, add in self._pending[name]:
                    if rm is not None:
                        # no forced broadcast: deltas are usually tiny
                        # (AQE broadcasts them at runtime) but a mass
                        # removal must not OOM the driver
                        df = df.join(rm, keys, "left_anti")
                    if add is not None:
                        df = df.unionByName(add)
            if bucket is not None:
                df = df.withColumn("bucket", bucket(self))
            if partial:
                self.cat.write_partial(
                    name, df, sorted(dirty), epoch=self.epoch, metrics=m
                )
            else:
                self.cat.write(
                    name, df, epoch=self.epoch, partition_by=["bucket"],
                    metrics=m,
                )
            # re-read from the committed snapshot: truncates lineage
            # (the iterative-Spark pitfall) and makes the in-memory
            # state exactly the on-disk state
            self._adopt(name)

        # the table commits are INDEPENDENT Spark actions over
        # disjoint state (separate manifest files, separate version
        # dirs) — run them concurrently so their fixed per-action
        # scheduling latencies overlap instead of summing (the
        # reference commits via concurrent goroutines for the same
        # reason, cmd/crawler.go:89-141); measured ~2x on the commit
        # phase of a small delta epoch. Every table in _TABLES commits.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(_commit_one, name, getattr(self, name))
                for name in _TABLES
            ]
            for f in futures:
                f.result()
        self._pending = {}
        # snapshot paths are versioned: superseded reads never hit
        # again, so drop them rather than accumulate one per epoch
        self._snap_reads = {}

    # ---- the epoch ----

    def run_epoch(
        self,
        web: DataFrame,
        now: _dt.datetime,
        robots: DataFrame | None = None,
    ) -> dict:
        """One full epoch against a `web` pages corpus
        (url, warc_ts, html, text, lang). Returns the metrics dict.
        `robots` is the RFC 9309 rule set (host, allow, pattern[,
        crawl_delay_s]) — e.g. frontier.parse_robots output — that
        schedule_batch evaluates."""
        batch, self.frontier = frontier_mod.schedule_batch(
            self.frontier,
            robots,
            now,
            tick_seconds=self.tick_seconds,
            batch_size=self.batch_size,
        )
        if robots is not None:
            # robots may flip arbitrary queued rows to 'blocked' —
            # conservatively commit the frontier in full
            self._dirty["frontier"] = None
        # one action: scheduled count AND the frontier dirty buckets
        # (hosts of state-flipped rows)
        brows = (
            batch.groupBy(self._host_bucket().alias("b")).count().collect()
        )
        self._mark_dirty("frontier", (r["b"] for r in brows))
        fetched = web.join(batch.select("url"), "url", "left_semi")
        return self.step(
            fetched, now, {"scheduled": sum(int(r["count"]) for r in brows)}
        )

    def step(
        self, pages: DataFrame, now: _dt.datetime, extra: dict | None = None
    ) -> dict:
        """The epoch tail shared by `run_epoch` and the streaming
        micro-batches: process `pages`, run the change-ratio-gated
        arbiter, merge `extra` into the stats and commit the epoch's
        snapshot. Returns the stats dict."""
        self.epoch += 1
        stats = self.process_pages(pages, now)
        stats.update(self.maybe_arbiter(now))
        stats.update(extra or {})
        self._commit(now, stats)
        return stats

    def process_pages(self, pages: DataFrame, now: _dt.datetime) -> dict:
        """M13 processFollowList, batched (process.go:132-167)."""
        spark = self.spark
        # W1/S4: newest page per url (crawler.go:206-217)
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        latest = (
            pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        # P5/P6: link extraction + validity. The page row survives even
        # when it has NO valid links — an emptied follow list must
        # produce a full-removal delta (processFollowList applies
        # Partition(old, nil); process.go:154-160), so the explode
        # below is explode_outer, never a row-dropping explode.
        # Checkpointed ONCE (html dropped): the extraction UDF chain
        # otherwise re-runs for every downstream action (admission
        # count, delta checkpoint, bucket collects).
        # LAZY checkpoint: the first action below (ONE bucket-grouped
        # count) materializes the blocks AND returns the page count
        # plus the batch's url-host buckets — the eager-checkpoint +
        # count + bucket-collect trio was three driver actions for
        # the same information (each Spark action costs ~0.3-1 s of
        # fixed latency; a streaming micro-batch pays that floor
        # regardless of delta size)
        with_links = latest.select(
            "url",
            F.filter(
                extract_links("html", "url"), lambda c: is_valid_url(c)
            ).alias("links"),
        ).localCheckpoint(eager=False)
        # the batch's url-host buckets — a pure hash of the delta rows,
        # no store read — prune the nodes snapshot for the author join:
        # a url can only match inside its own bucket partition
        _prows = (
            with_links.groupBy(
                seen.url_bucket(F.col("url"), self.n_buckets).alias("b")
            )
            .count()
            .collect()
        )
        n_pages = sum(int(r["count"]) for r in _prows)
        batch_buckets = [int(r["b"]) for r in _prows]
        auth_nodes = self._pruned_table("nodes", batch_buckets)
        # join to author node ids; only known nodes' pages are
        # processed (the admission gate S2 already let them in).
        # Checkpointed: feeds candidates, targets and the follow-list
        # delta — each would otherwise re-read the snapshot buckets.
        pages_auth = with_links.join(
            auth_nodes.select("url", "node_id", "status"), "url"
        ).localCheckpoint(eager=False)
        link_rows = pages_auth.select(
            "node_id", "status", F.explode_outer("links").alias("link")
        )
        # ONE tagged multi-aggregate materializes the pages_auth
        # checkpoint and returns BOTH bucket sets the epoch needs from
        # it: the link targets' url buckets (pruning admission's
        # exact-verify side and the target-resolution join — equal
        # url => equal host bucket) and the batch authors' src buckets
        # (pruning the edge snapshot below). Previously: checkpoint
        # job + two separate distinct-collects.
        _krows = (
            link_rows.filter(F.col("link").isNotNull())
            .select(
                seen.url_bucket(F.col("link"), self.n_buckets).alias("b"),
                F.lit(0).alias("k"),
            )
            .unionByName(
                pages_auth.select(
                    self._bucket_of("node_id").alias("b"),
                    F.lit(1).alias("k"),
                )
            )
            .groupBy("k", "b")
            .count()
            .collect()
        )
        link_buckets = [int(r["b"]) for r in _krows if int(r["k"]) == 0]
        author_buckets = [int(r["b"]) for r in _krows if int(r["k"]) == 1]
        link_nodes = self._pruned_table("nodes", link_buckets)

        # discovery: unknown link targets get ids IF the author is
        # active (resolveIDs, process.go:186-206). Admission runs
        # through the bloom filters with exact verification.
        candidates = (
            link_rows.filter(
                (F.col("status") == schemas.STATUS_ACTIVE)
                & F.col("link").isNotNull()
            )
            .select(F.col("link").alias("url"))
            .distinct()
        )
        # when the in-memory filters match the committed snapshot
        # (the normal start-of-epoch state), probe EXECUTOR-SIDE from
        # the snapshot's bucket partitions — the driver never holds
        # the blob set (12.5 GB at a 10^10-URL frontier)
        fpath = None
        if self._dirty["filters"] == set():
            cur = self.cat.current("filters")
            fpath = cur.path if cur else None
        # eager=False + release: checkpoint MINTED (not the admitted
        # set) — one materialization instead of two per epoch; the
        # probe persists across the union branches (it would otherwise
        # run twice inside the mint action) and is released as soon as
        # the minted rows materialize, so nothing stays pinned across
        # epochs
        _release: list = []
        new_urls = seen.admit_new_urls(
            candidates,
            self.filters,
            # exact-verify build side pruned to the candidates' url
            # buckets (candidates ⊆ links): never the full url set
            link_nodes.select("url"),
            self.n_buckets,
            filters_path=fpath,
            eager=False,
            release=_release,
        )
        # start_id from the tracked counter + known_new: the admission
        # gate above IS the novelty check — minting neither re-scans
        # nodes for max(node_id) nor re-anti-joins the full url set
        minted = graph.mint_node_ids(
            self.nodes,
            new_urls,
            added_ts=now,
            start_id=self.next_node_id,
            known_new=True,
        ).localCheckpoint(eager=False)
        # one action: materializes the mint checkpoint and returns the
        # new-url count per bucket — the count feeds the id counter,
        # the per-bucket breakdown feeds filter maintenance (which
        # would otherwise re-collect exactly this aggregation)
        _mrows = (
            minted.groupBy(
                seen.url_bucket(F.col("url"), self.n_buckets).alias("b")
            )
            .count()
            .collect()
        )
        # the probe persisted across the union branches is released
        # only after the mint MATERIALIZED (the lazy checkpoint runs
        # inside the action above)
        for _df in _release:
            _df.unpersist()
        add_counts = {int(r["b"]): int(r["count"]) for r in _mrows}
        n_new = sum(add_counts.values())
        self.next_node_id += n_new
        if n_new:
            # incremental per-bucket filter maintenance: only buckets
            # that gained urls are rewritten (seen.update_seen_filters)
            # same snapshot-path contract as the probe above: growing
            # buckets read their previous blob executor-side — filter
            # maintenance never round-trips blobs through the driver.
            # The exact url set (resize rebuilds only) is pruned to the
            # minted urls' buckets — the only buckets maintenance can
            # touch (minted ⊆ links, so link_nodes covers them).
            self.filters, touched = seen.update_seen_filters(
                self.filters,
                minted.select("url"),
                link_nodes.select("url"),
                self.n_buckets,
                filters_path=fpath,
                add_counts=add_counts,
            )
            self._mark_dirty("filters", touched)
            self._mark_dirty("nodes", touched)
            # register the mint for the delta-composed commit too: if
            # the SAME epoch later pends node deltas (an arbiter flip),
            # the commit rebuilds dirty buckets from snapshot+pendings
            # and would otherwise drop rows that exist only in memory
            self._pend("nodes", None, minted)
            self.nodes = self.nodes.unionByName(minted)

        # new follow lists for EVERY fetched author (active AND
        # inactive — the reference applies inactive authors' deltas
        # too, just without minting new targets; resolveIDs only adds
        # nodes for active authors, process.go:186-206). Targets are
        # whatever is known in `nodes` AFTER minting: for an active
        # author that is the full list; for an inactive one the known
        # subset (the reference's partial list); for a linkless page
        # an EMPTY list -> full-removal delta.
        # target resolution against the pre-mint link_nodes (pruned
        # snapshot, or the pre-mint in-memory frame) plus this epoch's
        # minted rows (minted ⊆ links, so their buckets are covered)
        target_nodes = link_nodes.select("url", "node_id")
        if n_new:
            target_nodes = target_nodes.unionByName(
                minted.select("url", "node_id")
            )
        targets = link_rows.join(
            target_nodes.select(
                F.col("url").alias("link"), F.col("node_id").alias("dst")
            ),
            "link",
        )
        new_lists = (
            pages_auth.select("node_id")
            .distinct()
            .join(
                targets.groupBy("node_id").agg(
                    F.sort_array(F.collect_set("dst")).alias("new_follows")
                ),
                "node_id",
                "left",
            )
            .withColumn(
                "new_follows",
                F.coalesce("new_follows", F.array().cast("array<long>")),
            )
        )
        # the batch authors' src buckets (collected in the tagged
        # multi-aggregate above) prune the edge snapshot: an author's
        # adjacency lives only in its own bucket partition
        src_edges = self._pruned_table("edges", author_buckets)
        old_lists = (
            new_lists.select("node_id")
            .join(
                # restrict the adjacency agg to the batch's authors
                # BEFORE grouping: a left_semi of the (pruned) edge
                # table against the (small) batch instead of grouping
                # ALL edges and joining after (Catalyst won't push a
                # join below an aggregate on its own)
                graph.adjacency_lists(
                    src_edges.select("src", "dst").join(
                        new_lists.select(F.col("node_id").alias("src")),
                        "src",
                        "left_semi",
                    )
                ).withColumnRenamed("src", "node_id"),
                "node_id",
                "left",
            )
            .withColumnRenamed("follows", "old_follows")
        )
        # checkpointed once: the delta batch feeds five consumers
        # (sizing agg, dirty buckets, edge MERGE, the repair's
        # normalize collect, the pending edge delta) — without it each
        # would re-run the extraction UDF chain over the batch
        deltas = (
            graph.delta_partition(new_lists.join(old_lists, "node_id"))
            .filter((F.size("removed") > 0) | (F.size("added") > 0))
            .localCheckpoint(eager=False)
        )
        # ONE bucket-grouped action materializes the delta checkpoint
        # and returns the batch size, the edge-count delta (strategy
        # choice input — no separate edges.count() ever) AND the delta
        # buckets; previously checkpoint + global agg + bucket collect
        drows = (
            deltas.groupBy(self._bucket_of("node_id").alias("b"))
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum(F.size("added")), F.lit(0)).alias("na"),
                F.coalesce(F.sum(F.size("removed")), F.lit(0)).alias("nr"),
            )
            .collect()
        )
        n_deltas = sum(int(r["n"]) for r in drows)

        stats = {"pages": n_pages, "new_nodes": n_new, "deltas": n_deltas}
        if n_pages:
            # content-dedup state maintenance: the admitted batch is
            # fingerprinted + MinHash-signed ONCE here (sign at
            # admission), consulted against the stored corpus tables,
            # and its new fingerprints/bands appended at commit. The
            # (url, node_id) side rides the already-materialized
            # pages_auth checkpoint; the text column is re-read from
            # the batch with full column pruning (never the html/
            # extraction path).
            docs = (
                latest.select("url", "text")
                .join(pages_auth.select("url", "node_id"), "url")
                .select(F.col("node_id").alias("doc_id"), "text")
            )
            stats.update(self._ingest_dedup_state(docs))
        if n_deltas:
            self.n_edges += sum(int(r["na"]) - int(r["nr"]) for r in drows)
            delta_buckets = sorted(int(r["b"]) for r in drows)
            self._mark_dirty("edges", delta_buckets)
            self._pend(
                "edges",
                deltas.select(
                    F.col("node_id").alias("src"),
                    F.explode("removed").alias("dst"),
                ),
                deltas.select(
                    F.col("node_id").alias("src"),
                    F.explode("added").alias("dst"),
                ),
            )
            self.edges = graph.apply_deltas(self.edges, deltas)
            # repair selection + graft sampling probe the MAINTAINED
            # visits index, reading only the delta nodes' bucket
            # partitions of the committed snapshot — never the store's
            # paths (the reference's walksVisiting reads,
            # update.go:80-89)
            repaired = walks_update.update_walks(
                spark,
                self.walks,
                self.edges,
                deltas,
                alpha=self.alpha,
                seed=self.seed,
                epoch=self.epoch,
                strategy=self.walk_strategy,
                visits=self._pruned_table("visits", delta_buckets),
            )
            # the updated rows (with old_path) materialize once, in the
            # walk-delta action, and feed everything delta-shaped below
            upd = repaired.filter(F.col("updated")).localCheckpoint(
                eager=False
            )
            n_up = self._apply_walk_delta(
                upd.select("walk_id"),
                upd.select("walk_id", "start_id", "path"),
                *walks_update.visit_deltas(upd),
            )
            self.walks = walks_update.finish_update(repaired)
            self.walks_changed += n_up
            stats["walks_updated"] = n_up
        return stats

    def _ingest_dedup_state(self, docs: DataFrame) -> dict:
        """Consult-and-append corpus content-dedup maintenance for one
        admitted batch of (doc_id, text) rows — the engine-state form
        of ops.dedup.incremental_exact_dedup / incremental_lsh_pairs
        (reference analog: admission/Replace consults and updates
        per-event state, never rebuilds it, pkg/crawler/process.go:
        112-117).

        100 TB shape: the corpus participates ONLY through its stored
        (fp, keeper_id) and (doc_id, band, key) tables, partition-
        pruned to the batch's key buckets and probed with the
        delta-sized batch side broadcast — the corpus text is never
        re-read, never re-shingled, never shuffled. Appends are
        delta-composed bucket commits like every other table. Three
        driver actions per batch: batch-fp rollup, one tagged
        new-fp/band bucket collect, candidate count."""
        from .ops import dedup as dd

        # textless pages (schemas.PAGES allows NULL text) carry no
        # content to dedup: fingerprint(NULL) is NULL, which groupBy
        # would treat as one group but every corpus equi-join would
        # MISS — the NULL row would re-append every epoch, breaking
        # the fp-uniqueness invariant of doc_fps. Drop them here;
        # dedup stats cover content-bearing docs only.
        docs = docs.filter(F.col("text").isNotNull())

        # ---- exact side: batch fingerprints, doc-level (for the
        # keeper-identity check below), rolled up per fp (the
        # within-batch keeper = min doc_id, matching exact_dedup);
        # bk derives from dfp's checkpoint so the text/md5 pass still
        # runs exactly once
        dfp = docs.select(
            F.col("doc_id"), dd.fingerprint(F.col("text")).alias("fp")
        ).localCheckpoint(eager=False)
        bk = (
            dfp.groupBy("fp")
            .agg(
                F.min("doc_id").alias("keeper_id"),
                F.count("*").alias("_n"),
            )
            .localCheckpoint(eager=False)
        )
        # action 1: materializes bk; yields the batch's fp buckets
        # (corpus-pruning input), doc count and fp count
        arows = (
            bk.groupBy(self._bucket_of_str("fp").alias("b"))
            .agg(F.count("*").alias("nf"), F.sum("_n").alias("nd"))
            .collect()
        )
        n_docs = sum(int(r["nd"]) for r in arows)
        if not n_docs:
            return {
                "docs": 0, "dup_exact": 0, "neardup_cands": 0,
                "line_fps": 0,
            }
        fp_buckets = [int(r["b"]) for r in arows]
        corpus_fp = self._pruned_table("doc_fps", fp_buckets)
        # known fps: stream the (pruned) corpus past the broadcast
        # batch keys — the delta-sized result then BROADCASTS into the
        # anti join below (the corpus itself is never the build side)
        hits = corpus_fp.join(bk.select("fp"), "fp", "left_semi")
        new_fps = (
            bk.select("fp", "keeper_id")
            .join(hits.select("fp"), "fp", "left_anti")
            .localCheckpoint(eager=False)
        )
        # ---- near-dup side: sign the batch once, band the signatures
        sigs = dd.minhash_signatures(
            docs,
            "doc_id",
            "text",
            n_hashes=self.dedup_hashes,
            k=self.dedup_shingle_k,
        )
        nb = dd.band_keys(
            sigs, self.dedup_hashes, self.dedup_bands, "doc_id"
        ).localCheckpoint(eager=False)
        # action 2 (tagged union): materializes new_fps AND nb, and
        # returns the fp dirty buckets, nb's bucket cover (the band
        # corpus-pruning input), the new-fp count, and the count of
        # batch docs that ARE the stored keeper of their known fp (a
        # re-crawled keeper is NOT a duplicate of itself — mirrors
        # incremental_exact_dedup's is_dup = keeper != doc_id)
        _urows = (
            new_fps.select(
                self._bucket_of_str("fp").alias("b"), F.lit(0).alias("k")
            )
            .unionByName(
                nb.select(
                    self._bucket_of_str("key").alias("b"),
                    F.lit(1).alias("k"),
                )
            )
            .unionByName(
                # corpus on the LEFT of the semi join (the streamed,
                # probe side) with the batch broadcast — Spark cannot
                # broadcast a left-semi's left side, so the flipped
                # form would shuffle the corpus slice at scale. One
                # row per (fp, keeper) pair that is in the batch,
                # which is exactly one per re-crawled keeper (fp is
                # unique in doc_fps)
                corpus_fp.select(
                    "fp", F.col("keeper_id").alias("doc_id")
                )
                .join(F.broadcast(dfp), ["fp", "doc_id"], "left_semi")
                .select(F.lit(-1).alias("b"), F.lit(2).alias("k"))
            )
            .groupBy("k", "b")
            .count()
            .collect()
        )
        n_new_fp = sum(int(r["count"]) for r in _urows if int(r["k"]) == 0)
        band_buckets = [int(r["b"]) for r in _urows if int(r["k"]) == 1]
        n_self = sum(int(r["count"]) for r in _urows if int(r["k"]) == 2)
        # non-dups = the new-fp keepers + the re-crawled stored
        # keepers; everything else in the batch is an exact dup
        n_dup = n_docs - n_new_fp - n_self
        corpus_b = self._pruned_table("doc_bands", band_buckets)
        cross = nb.join(
            corpus_b.select(
                F.col("doc_id").alias("_cid"), "band", "key"
            ),
            ["band", "key"],
        ).filter(F.col("_cid") != F.col("doc_id"))
        within = nb.select("band", "key", F.col("doc_id").alias("_a")).join(
            nb.select("band", "key", F.col("doc_id").alias("_b2")),
            ["band", "key"],
        ).filter(F.col("_a") < F.col("_b2"))
        # append: a re-signed doc (re-crawl) must not duplicate rows it
        # already stored — anti against the same pruned corpus slice
        nb_new = nb.join(corpus_b, ["doc_id", "band", "key"], "left_anti")
        # ---- boilerplate-line side: counts accrue ONE contribution
        # per distinct content-version — only batch docs that are the
        # within-batch keeper of a fp NEW to the corpus contribute
        # (exact dups, re-crawled identical text, and within-batch
        # copies add nothing), so the stored table always equals
        # line_corpus_counts over the corpus's exact-dedup keepers:
        # the CCNet shape, where duplicated documents don't inflate
        # line statistics. new_fps is a checkpoint materialized by
        # action 2, so this costs one more column-pruned text pass
        # (split + explode), no re-derivation of the exact side.
        docs_keep = docs.join(
            new_fps.select(F.col("keeper_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        blc = (
            dd.line_corpus_counts(docs_keep)
            .localCheckpoint(eager=False)
        )
        # action 3 (tagged union): the consult step's near-dup
        # candidate count (batch-vs-corpus plus within-batch, deduped
        # across bands) AND the buckets of the band rows actually
        # APPENDED — the dirty set must be nb_new's cover, not nb's:
        # a re-crawl-heavy batch appends nothing, and marking every
        # touched bucket dirty would rewrite byte-identical band
        # partitions each epoch instead of hardlinking them
        _vrows = (
            cross.select(
                F.least("doc_id", "_cid").alias("a"),
                F.greatest("doc_id", "_cid").alias("b"),
            )
            .unionByName(
                within.select(
                    F.col("_a").alias("a"), F.col("_b2").alias("b")
                )
            )
            .distinct()
            .select(F.lit(0).alias("k"), F.lit(-1).alias("b"))
            .unionByName(
                nb_new.select(
                    F.lit(1).alias("k"),
                    self._bucket_of_str("key").alias("b"),
                )
            )
            .unionByName(
                # materializes blc and yields the line-state bucket
                # cover (corpus-pruning input for the merge below)
                blc.select(
                    F.lit(2).alias("k"),
                    self._bucket_of_str("fp").alias("b"),
                )
            )
            .groupBy("k", "b")
            .count()
            .collect()
        )
        n_cand = sum(int(r["count"]) for r in _vrows if int(r["k"]) == 0)
        line_buckets = [int(r["b"]) for r in _vrows if int(r["k"]) == 2]
        n_line_fps = sum(
            int(r["count"]) for r in _vrows if int(r["k"]) == 2
        )
        self._mark_dirty("doc_fps", (r["b"] for r in _urows if int(r["k"]) == 0))
        self._mark_dirty("doc_bands", (r["b"] for r in _vrows if int(r["k"]) == 1))
        self._pend("doc_fps", None, new_fps)
        self._pend("doc_bands", None, nb_new)
        self.doc_fps = self.doc_fps.unionByName(new_fps)
        self.doc_bands = self.doc_bands.unionByName(nb_new)
        if line_buckets:
            # merge, not append: a line fp the corpus already holds
            # gets its count SUMMED (disjoint contribution sets by
            # the keeper rule above). The corpus side is consulted
            # via the pruned snapshot streamed past the broadcast
            # batch keys; remove/add are both delta-sized, and the
            # commit composes dirty buckets as (base anti old-rows)
            # union merged-rows — the full table is never scanned.
            corpus_l = self._pruned_table("doc_lines", line_buckets)
            hits_l = corpus_l.join(
                blc.select("fp"), "fp", "left_semi"
            ).localCheckpoint(eager=False)
            merged = (
                blc.withColumnRenamed("n_docs", "_bn")
                .join(
                    hits_l.withColumnRenamed("n_docs", "_cn"), "fp", "left"
                )
                .select(
                    "fp",
                    (F.col("_bn") + F.coalesce(F.col("_cn"), F.lit(0)))
                    .cast("long")
                    .alias("n_docs"),
                )
                .localCheckpoint(eager=False)
            )
            self._mark_dirty("doc_lines", line_buckets)
            self._pend("doc_lines", hits_l.select("fp"), merged)
            self.doc_lines = self.doc_lines.join(
                blc.select("fp"), "fp", "left_anti"
            ).unionByName(merged)
        return {
            "docs": n_docs,
            "dup_exact": n_dup,
            "neardup_cands": n_cand,
            "line_fps": n_line_fps,
        }

    def _apply_walk_delta(
        self,
        rm_ids: DataFrame | None,
        add_rows: DataFrame | None,
        vis_rm: DataFrame | None,
        vis_add: DataFrame | None,
    ) -> int:
        """Register one walk-store change — the store.go:337-358,
        442-465 transactional update, in ONE place for prune/graft
        repair and the arbiter's promote/demote. Inputs: the walks
        leaving (walk_id), the walks entering (walk_id, start_id,
        path), and the (node_id, walk_id) visits pairs they remove and
        add; any may be None. ONE groupBy(k, b) action over the tagged
        union yields the walk dirty buckets, the entering walks' count
        and highest walk_id (bumping next_walk_id), and the visits
        dirty buckets with the signed pair-count delta (== Δ
        totalVisits: walks stop on cycles, so a path never repeats a
        node and pair count equals Σ size(path)). Then the dirty
        buckets are marked, both tables' delta-composed commit pairs
        registered and the in-memory visits index spliced. Returns
        the number of entering walks."""
        no_id = F.lit(None).cast("long")
        tagged = (
            (rm_ids, 0, "walk_id", 0, no_id),
            (add_rows, 0, "walk_id", 1, F.col("walk_id")),
            (vis_rm, 1, "node_id", -1, no_id),
            (vis_add, 1, "node_id", 1, no_id),
        )
        rows = (
            reduce(
                DataFrame.unionByName,
                (
                    df.select(
                        F.lit(k).alias("k"),
                        self._bucket_of(key).alias("b"),
                        F.lit(d).alias("d"),
                        w.alias("w"),
                    )
                    for df, k, key, d, w in tagged
                    if df is not None
                ),
            )
            .groupBy("k", "b")
            .agg(F.sum("d").alias("s"), F.max("w").alias("mx"))
            .collect()
        )
        walk_rows = [r for r in rows if r["k"] == 0]
        vis_rows = [r for r in rows if r["k"] == 1]
        ids = [int(r["mx"]) for r in walk_rows if r["mx"] is not None]
        if ids:
            self.next_walk_id = max(self.next_walk_id, max(ids) + 1)
        self.total_visits += sum(int(r["s"]) for r in vis_rows)
        self._mark_dirty("walks", (r["b"] for r in walk_rows))
        self._mark_dirty("visits", (r["b"] for r in vis_rows))
        self._pend("walks", rm_ids, add_rows)
        self._pend(
            "visits",
            vis_rm.select("node_id", "walk_id") if vis_rm is not None else None,
            vis_add.select("node_id", "walk_id") if vis_add is not None else None,
        )
        v = self.visits
        if vis_rm is not None:
            # no broadcast hint: a mass delta can make vis_rm
            # unbounded; AQE picks broadcast at runtime for the
            # (typical) delta-sized case
            v = v.join(vis_rm, ["node_id", "walk_id"], "left_anti")
        if vis_add is not None:
            v = v.unionByName(vis_add.select("node_id", "walk_id"))
        self.visits = v
        return sum(int(r["s"]) for r in walk_rows)

    def _pruned_table(self, name: str, buckets) -> DataFrame:
        """`name`'s rows in `buckets`, for an epoch lookup: a
        partition-pruned read of the committed snapshot while the
        in-memory frame still equals it (no dirty buckets, no
        pendings: the start-of-epoch state every _commit restores),
        else the in-memory frame itself, which callers' joins filter.
        The pruned form is what keeps the epoch's nodes/edges/visits/
        dedup lookups O(|touched buckets|) instead of O(|store|) — the
        DataFrame re-expression of the reference's keyIndex point
        reads (database.go:179-210)."""
        frame = getattr(self, name)
        dirty = self._dirty[name]
        if dirty is None or dirty or self._pending.get(name):
            return frame
        if frame is not self._snap_frames.get(name):
            # the frame was replaced since the last load (caller
            # mutation, arbiter flip) without a dirty mark — the
            # snapshot no longer speaks for it
            return frame
        cur = self.cat.current(name)
        if cur is None:
            return frame
        base = self._snap_reads.get(cur.path)
        if base is None:
            try:
                base = self._read_snapshot(name, cur.path)
            except Exception:  # empty snapshot: no parquet parts
                return frame
            self._snap_reads[cur.path] = base
        if "bucket" not in base.columns:
            return frame
        return base.filter(
            F.col("bucket").isin(sorted({int(b) for b in buckets}))
        ).drop("bucket")

    def maybe_arbiter(self, now: _dt.datetime) -> dict:
        """A8 trigger + M11 scan (arbiter.go:55-81). The trigger reads
        the incrementally-maintained totalVisits counter (the
        reference's RWS hash field) — no per-epoch store scan; the
        scan itself derives visit counts from the maintained index.

        A pass that flips nodes commits at bucket granularity like
        every other epoch: the flipped rows are projections of the
        decisions checkpoint, and the removed/generated walks go
        through _apply_walk_delta, whose one action materializes
        their (lazy) checkpoints and yields the walk and visits
        buckets. Decision counts and the flipped and promoted url
        buckets come from apply_arbiter's one decision action."""
        total = self.total_visits
        ratio = frontier_mod.change_ratio(self.walks_changed, total, self.alpha)
        if ratio < schemas.ARBITER_ACTIVATION_THRESHOLD:
            return {"arbiter": 0, "change_ratio": ratio}
        # materialize ONCE: decisions is nodes ⋈ an aggregation over
        # the whole visits index, and every downstream action (the
        # decision collect, the walk-delta action, the promoted
        # enqueue, the nodes commit) would re-run that aggregation
        decisions = frontier_mod.arbiter_decisions(
            self.nodes,
            self.walks,
            now,
            walks_per_node=self.wpn,
            promotion_wait_s=self.promotion_wait_s,
            visits=self.visits,
        ).localCheckpoint(eager=True)
        self.nodes, self.walks, promoted, cnts, delta = (
            frontier_mod.apply_arbiter(
                self.spark,
                self.walks,
                self.edges,
                decisions,
                now,
                alpha=self.alpha,
                walks_per_node=self.wpn,
                seed=self.seed,
                strategy=self.walk_strategy,
                walk_id_offset=self.next_walk_id,
                node_bucket_expr=seen.url_bucket(
                    F.col("url"), self.n_buckets
                ),
            )
        )
        n_promoted = cnts.get("promote", 0)
        if n_promoted or cnts.get("demote", 0):
            flipped = delta["flipped_new"]
            self._mark_dirty("nodes", delta["node_buckets"])
            self._pend("nodes", flipped.select("node_id"), flipped)
            removed, added = (
                w if w is None else w.localCheckpoint(eager=False)
                for w in (delta["removed_walks"], delta["added_walks"])
            )
            # inline explode (not walks_gen.visits_of): the no-scan
            # gate poisons visits_of to catch full-STORE derivations,
            # and these are delta frames
            self._apply_walk_delta(
                removed if removed is None else removed.select("walk_id"),
                added,
                *(
                    w if w is None
                    else w.select(F.explode("path").alias("node_id"), "walk_id")
                    for w in (removed, added)
                ),
            )
        if n_promoted:
            self.frontier = frontier_mod.enqueue(
                self.frontier, promoted.select("url", "node_id"), now
            )
            # seen.url_bucket == pmod(xxhash64(host(url)), B) — the
            # SAME definition _host_bucket applies to the frontier's
            # host column at commit time (one definition, two spots)
            self._mark_dirty("frontier", delta["promoted_buckets"])
        self.walks_changed = 0
        return {"arbiter": 1, "promoted": n_promoted, "change_ratio": ratio}

    # ---- reads ----

    def pagerank(self) -> DataFrame:
        """Rank read served from the MAINTAINED state — the visits
        inverted index and the totalVisits counter (reference rank
        reads are SCards + one HGet, pagerank.go:17-44; never a walk-
        store re-derivation)."""
        from .rank import global_pagerank

        return global_pagerank(
            self.walks,
            nodes=self.nodes,
            visits=self.visits,
            total=self.total_visits,
        )
