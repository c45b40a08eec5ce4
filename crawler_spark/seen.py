"""URL-seen membership — partitioned bloom filter + cuckoo fallback.

The reference's admission gate is one Redis lookup per event
(DB.NodeIDs, pkg/crawler/crawler.go:94-102): "is this author already
in the DB?". At a 10^10-URL frontier that must become an approximate
membership structure probed entirely executor-side (north_rule:
"partitioned bloom-filter URL-seen set with cuckoo-filter fallback").

Design:
 - The seen set is partitioned by `bucket = hash64(host) % n_buckets`
   — HOST-hash, not url-hash, so every URL of a hot domain lands in
   the same bucket as its politeness state, and bucket count (not a
   hot key) controls skew (SURVEY §4: explicit salting).
 - Per bucket, a from-scratch numpy bloom filter (k probes via
   Kirsch-Mitzenmacher double hashing over the counter-RNG's
   splitmix64). Membership is a broadcast-join + one vectorized Arrow
   pass; NO shuffle of the candidate side beyond its bucketing.
 - Bloom positives are verified with an exact left_anti join against
   the nodes table — the bloom prunes that join's probe side to
   (true positives + ~1% FP), which is what makes the exact check
   affordable at 10^10 (`admit_new_urls`).
 - The cuckoo filter (partial-key cuckoo hashing, 4-way buckets,
   16-bit fingerprints) is the alternative `kind`: it supports
   delete() without a rebuild, which a bloom cannot. No engine path
   deletes from the seen set: the engine builds the default bloom
   kind, and an arbiter demotion flips the node's status without
   touching `filters` (the url keeps its node row, so it stays seen).

Spark's own BloomFilterAggregate is not exposed in this build's
function registry (checked); these filters are self-contained numpy
and serialize as plain binary columns, so the filter table is itself
a checkpointable DataFrame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from . import rng
from .functions.extract import url_host

_H1_SALT = 0x5EED_B100_F1
_H2_SALT = 0x5EED_B100_F2

FILTERS_SCHEMA = StructType(
    [
        StructField("bucket", LongType(), False),
        StructField("n_items", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("bits", BinaryType(), False),
    ]
)


def _str_hash64(values: pd.Series, salt: int) -> np.ndarray:
    """Stable vectorized 64-bit string hash: crc32 of the utf-8 bytes
    and of their reverse (two independent-ish 32-bit words), plus the
    length, folded through the splitmix64 finalizer. Stable across
    processes/versions (unlike hash() or pandas' object hashing),
    ~crc speed per row."""
    import zlib

    enc = values.astype(str).str.encode("utf-8")
    a = np.fromiter((zlib.crc32(b) for b in enc), dtype=np.uint64, count=len(enc))
    b = np.fromiter(
        (zlib.crc32(b[::-1]) for b in enc), dtype=np.uint64, count=len(enc)
    )
    ln = np.fromiter((len(x) for x in enc), dtype=np.uint64, count=len(enc))
    return rng.hash64(a ^ (ln << np.uint64(32)), b, salt)


def url_bucket(col, n_buckets: int):
    """Column expr: bucket = pmod(xxhash64(host), n_buckets) — the
    partitioning key of the whole frontier layer."""
    return F.pmod(F.xxhash64(url_host(col)), F.lit(n_buckets)).cast("long")


class BloomFilter:
    """Plain numpy bloom filter; k probe positions via double hashing
    (pos_i = h1 + i*h2 mod m)."""

    def __init__(self, m_bits: int, n_hashes: int = 7, bits: np.ndarray | None = None):
        self.m = int(m_bits)
        self.k = int(n_hashes)
        self.bits = (
            bits if bits is not None else np.zeros((self.m + 7) // 8, dtype=np.uint8)
        )

    @classmethod
    def sized_for(cls, n_items: int, bits_per_key: int = 10) -> "BloomFilter":
        return cls(max(64, n_items * bits_per_key))

    def _positions(self, urls: pd.Series) -> np.ndarray:
        h1 = _str_hash64(urls, _H1_SALT)
        h2 = _str_hash64(urls, _H2_SALT) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(
                np.int64
            )

    def add(self, urls: pd.Series) -> None:
        pos = self._positions(urls).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains(self, urls: pd.Series) -> np.ndarray:
        pos = self._positions(urls)
        got = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return got.all(axis=0)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m_bits: int, data: bytes, n_hashes: int = 7) -> "BloomFilter":
        return cls(m_bits, n_hashes, np.frombuffer(data, dtype=np.uint8).copy())


class CuckooFilter:
    """Partial-key cuckoo filter (Fan et al., CoNEXT'14 — public
    algorithm): b-way buckets of 16-bit fingerprints; deletable, where
    the bloom is not. The engine builds the bloom kind and never
    deletes from the seen set (demotion leaves `filters` untouched).
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        self.nb = int(n_buckets)
        self.table = (
            table
            if table is not None
            else np.zeros((self.nb, self.SLOTS), dtype=np.uint16)
        )

    @classmethod
    def sized_for(cls, n_items: int) -> "CuckooFilter":
        nb = 1
        while nb * cls.SLOTS < n_items * 1.3:
            nb *= 2
        return cls(nb)

    def _fp_and_index(self, urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        h = _str_hash64(urls, _H1_SALT)
        fp = (h & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks empty slots
        i1 = ((h >> np.uint64(16)) % np.uint64(self.nb)).astype(np.int64)
        return fp, i1

    def _alt_index(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            (i.astype(np.uint64) ^ rng.hash64(fp.astype(np.uint64), _H2_SALT))
            % np.uint64(self.nb)
        ).astype(np.int64)

    def add(self, urls: pd.Series) -> int:
        """Insert items; returns how many failed (filter ~full)."""
        fp, i1 = self._fp_and_index(urls)
        i2 = self._alt_index(i1, fp)
        failed = 0
        for f, a, b in zip(fp.tolist(), i1.tolist(), i2.tolist()):
            if not self._insert_one(np.uint16(f), a, b):
                failed += 1
        return failed

    def _insert_one(self, f: np.uint16, a: int, b: int) -> bool:
        for idx in (a, b):
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = f
                return True
        # evict (kick) loop — randomized via the counter rng on (f, kick)
        idx = a
        for kick in range(self.MAX_KICKS):
            s = int(rng.randint(self.SLOTS, int(f), idx, kick, 51))
            f, self.table[idx, s] = self.table[idx, s], f
            idx = int(self._alt_index(np.asarray([idx]), np.asarray([f], np.uint16))[0])
            row = self.table[idx]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = f
                return True
        return False

    def contains(self, urls: pd.Series) -> np.ndarray:
        fp, i1 = self._fp_and_index(urls)
        i2 = self._alt_index(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, urls: pd.Series) -> np.ndarray:
        """Remove one copy of each item; returns found mask."""
        fp, i1 = self._fp_and_index(urls)
        i2 = self._alt_index(i1, fp)
        found = np.zeros(len(fp), dtype=bool)
        for j, (f, a, b) in enumerate(zip(fp, i1.tolist(), i2.tolist())):
            for idx in (a, b):
                row = self.table[idx]
                hit = np.nonzero(row == f)[0]
                if len(hit):
                    row[hit[0]] = 0
                    found[j] = True
                    break
        return found

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, n_buckets: int, data: bytes) -> "CuckooFilter":
        t = np.frombuffer(data, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        return cls(n_buckets, t)


# ---- distributed build / probe over the bucketed seen set ----


def build_seen_filters(
    seen_urls: DataFrame,
    n_buckets: int = 64,
    bits_per_key: int = 10,
    kind: str = "bloom",
    bucket_expr=None,
) -> DataFrame:
    """One filter row per host-hash bucket. groupBy(bucket) is the only
    shuffle; each group builds its filter in one vectorized pass.

    `bucket_expr(col, n_buckets)` overrides the partitioning key for
    non-url key sets (e.g. ops/decontam's gram blooms bucket by the
    key's own hash — grams have no host); default unchanged."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        urls = pdf["url"]
        if kind == "bloom":
            f = BloomFilter.sized_for(len(urls), bits_per_key)
            f.add(urls)
            return pd.DataFrame(
                {
                    "bucket": [bucket],
                    "n_items": [len(urls)],
                    "m_bits": [f.m],
                    "bits": [f.to_bytes()],
                }
            )
        # set semantics: duplicates would each occupy a cuckoo slot
        # (unlike the idempotent bloom OR) and survive one delete
        urls = urls.drop_duplicates()
        f = CuckooFilter.sized_for(len(urls))
        failed = f.add(urls)
        while failed:
            # near-full (unlucky kicks / fingerprint collisions):
            # silently dropping an insert would be an admission FALSE
            # NEGATIVE (a seen url re-admitted as new) — double and
            # re-insert until everything fits
            f = CuckooFilter(f.nb * 2)
            failed = f.add(urls)
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_items": [len(urls)],
                "m_bits": [f.nb],  # bucket count for cuckoo
                "bits": [f.to_bytes()],
            }
        )

    with_bucket = seen_urls.select(
        "url",
        (bucket_expr or url_bucket)(F.col("url"), n_buckets).alias("bucket"),
    )
    return with_bucket.groupBy("bucket").applyInPandas(build, schema=FILTERS_SCHEMA)


# per-worker-process cache of filter blobs, keyed (snapshot_path,
# bucket) — survives across tasks/batches within a python worker, so
# each executor reads each bucket's blob at most once per snapshot
_WORKER_FILTER_CACHE: dict[tuple[str, int], tuple[int, bytes] | None] = {}


def _read_filter_bucket(path: str, bucket: int):
    """Executor-side blob fetch: read ONLY bucket=<b>'s partition of a
    committed filters snapshot with pyarrow (partition pruning by
    directory). Returns (m_bits, bits, n_items) or None when the
    bucket has no filter. Cached per worker process."""
    key = (path, bucket)
    if key in _WORKER_FILTER_CACHE:
        return _WORKER_FILTER_CACHE[key]
    # long-lived workers see a new snapshot path per epoch; superseded
    # snapshots' blobs (up to ~100s of MB per bucket at 10^10 urls)
    # must not stay resident — evict every other path's entries
    stale = [k for k in _WORKER_FILTER_CACHE if k[0] != path]
    for k in stale:
        del _WORKER_FILTER_CACHE[k]
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    ent = None
    bdir = _os.path.join(path, f"bucket={bucket}")
    files = sorted(_glob.glob(_os.path.join(bdir, "*.parquet")))
    if not files:
        # unpartitioned snapshot (bootstrap full write without
        # partition dirs): scan the flat files for the bucket row
        for f in sorted(_glob.glob(_os.path.join(path, "*.parquet"))):
            t = _pq.read_table(f, columns=["bucket", "m_bits", "bits", "n_items"])
            d = t.to_pydict()
            for bk, m, blob, n in zip(
                d["bucket"], d["m_bits"], d["bits"], d["n_items"]
            ):
                if int(bk) == bucket:
                    ent = (int(m), bytes(blob), int(n))
                    break
            if ent:
                break
    else:
        for f in files:
            t = _pq.read_table(f, columns=["m_bits", "bits", "n_items"])
            if t.num_rows:
                d = t.to_pydict()
                ent = (
                    int(d["m_bits"][0]),
                    bytes(d["bits"][0]),
                    int(d["n_items"][0]),
                )
                break
    _WORKER_FILTER_CACHE[key] = ent
    return ent


def probe_seen(
    candidates: DataFrame,
    filters: DataFrame,
    n_buckets: int = 64,
    kind: str = "bloom",
    filters_path: str | None = None,
    bucket_expr=None,
) -> DataFrame:
    """candidates(url, ...) -> same + boolean `maybe_seen`.
    `bucket_expr` must match the build-side override when the filter
    set was built over non-url keys (default unchanged).

    Blob delivery, two modes — NEVER a row join (joining blobs onto
    candidates copies each bucket's kilobytes into every matching row,
    quadratic bytes through Arrow; measured dominant before this):

     - default: collect blobs to the driver, ship ONCE per executor
       via a task broadcast. Right up to ~GB of filter.
     - `filters_path` (a committed snapshot directory): EXECUTOR-SIDE
       assembly — each python worker pyarrow-reads only the bucket
       partitions its candidate rows hash to, cached per (path,
       bucket) across tasks. No driver round-trip at all: at the
       10^10-URL design point (~12.5 GB of blooms) the driver never
       holds the filter set, and each executor pulls only its share.

    Either way the probe is one Arrow pass over the candidates, zero
    shuffles, with a per-task deserialization cache.
    """
    # private column name: a caller's own `bucket` column (e.g.
    # frontier rows bucketed under a different n_buckets) must pass
    # through untouched, not be silently rewritten to the seen
    # layer's value
    cand = candidates.withColumn(
        "_seen_bucket", (bucket_expr or url_bucket)(F.col("url"), n_buckets)
    )
    cols = list(candidates.columns)
    if "maybe_seen" in cols:
        raise ValueError("candidates already has a maybe_seen column")
    out_schema = StructType(
        [candidates.schema[c] for c in cols]
        + [StructField("maybe_seen", BooleanType())]
    )
    ctor = (
        (lambda m, b: BloomFilter.from_bytes(m, b))
        if kind == "bloom"
        else (lambda m, b: CuckooFilter.from_bytes(m, b))
    )

    if filters_path is None:
        rows = filters.select("bucket", "m_bits", "bits").collect()
        table = {
            int(r["bucket"]): (int(r["m_bits"]), bytes(r["bits"])) for r in rows
        }
        bc = candidates.sparkSession.sparkContext.broadcast(table)

        def lookup_factory():
            table_ = bc.value
            return table_.get
    else:
        path = filters_path

        def lookup_factory():
            return lambda b: _read_filter_bucket(path, b)

    def probe(batches):
        lookup = lookup_factory()
        cache: dict[int, object] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            maybe = np.zeros(len(pdf), dtype=bool)
            for b, grp in pdf.groupby("_seen_bucket", sort=False):
                filt = cache.get(int(b))
                if filt is None:
                    ent = lookup(int(b))
                    if ent is None:
                        continue  # bucket with no filter: nothing seen
                    filt = ctor(*ent[:2])
                    cache[int(b)] = filt
                maybe[grp.index.to_numpy()] = filt.contains(grp["url"])
            out = pdf[cols].copy()
            out["maybe_seen"] = maybe
            yield out

    return cand.mapInPandas(probe, schema=out_schema)


def admit_new_urls(
    candidates: DataFrame,
    filters: DataFrame,
    seen_exact: DataFrame,
    n_buckets: int = 64,
    filters_path: str | None = None,
    eager: bool = True,
    release: list | None = None,
    canonicalize: bool = False,
) -> DataFrame:
    """The admission gate (S2/J3, crawler.go:94-102 inverted: we keep
    the UNKNOWN urls for discovery; `resolveIDs` keeps unknowns too,
    process.go:186-206).

    definitely-new (bloom negative — no join at all) UNION
    (bloom positive, exactly verified new via left_anti). At scale the
    anti-join probe side is only the positives (~seen + 1% FP).

    Materialization contract — the probe feeds BOTH union branches, so
    something must stop it running twice (exchange reuse only covers
    the shuffle below it, not the probe UDF itself):

    - `eager=True` (default): persist the probe, checkpoint the
      admitted set, release the cache here — right for callers that
      consume the result several times.
    - `eager=False, release=<list>`: persist the probe and append the
      persisted frame to `release`; the caller unpersists after its
      ONE downstream action. One probe run, no checkpoint write, no
      cache leak across a long crawl — the engine/bench shape.
    - `eager=False, release=None`: fully lazy — NO persist anywhere.
      Only for callers that cannot release (driver-owned contract
      queries); the probe runs once per union branch.

    `canonicalize=True` folds each candidate to its canonical form
    (functions.extract.canonical_url: case, default ports, fragments,
    query order) BEFORE deduplication and the bloom probe, so `u` and
    `u#frag` occupy one filter slot and admit once. Off by default —
    membership semantics change, so existing filter state built on
    raw urls must not be probed with canonical keys."""
    if canonicalize:
        from .functions.extract import canonical_url

        candidates = candidates.withColumn(
            "url", canonical_url(F.col("url"))
        ).dropDuplicates(["url"])
    probed = probe_seen(
        candidates, filters, n_buckets, filters_path=filters_path
    )
    if eager or release is not None:
        # persisted blocks otherwise accumulate across a long crawl
        # (one leak per epoch) — every persist here is either released
        # below (eager) or handed to the caller to release
        probed = probed.persist()
        if not eager:
            release.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = positives.join(seen_exact.select("url"), "url", "left_anti")
    out = fresh.unionByName(verified_new)
    if eager:
        out = out.localCheckpoint(eager=True)
        probed.unpersist()
    return out


def update_seen_filters(
    filters: DataFrame,
    new_urls: DataFrame,
    seen_exact: DataFrame,
    n_buckets: int = 64,
    bits_per_key: int = 10,
    filters_path: str | None = None,
    add_counts: dict[int, int] | None = None,
    kind: str = "bloom",
) -> tuple[DataFrame, set[int]]:
    """Incremental filter maintenance: only buckets that gained urls
    are touched (the 10^10 form — a full rebuild scans the whole seen
    set every epoch; this scans the delta plus resized buckets).

    Per touched bucket: if the existing bitset still has capacity
    (items stay within m_bits/bits_per_key), the new urls are OR-ed
    into the blob (bloom insertion never invalidates membership);
    otherwise the bucket is rebuilt at the right size from the exact
    seen set restricted to that bucket. Untouched buckets pass
    through byte-identical.

    Blob delivery for the grow path mirrors probe_seen: with
    `filters_path` (a committed snapshot directory) each growing
    bucket's task reads its own previous blob EXECUTOR-SIDE via
    `_read_filter_bucket` — the driver never holds or ships a blob
    (at 10^10 urls a hot epoch touches many ~100s-MB buckets; the
    driver round-trip was the last place maintenance put it back in
    the data path). Without a path, blobs collect to the driver and
    ship via broadcast (the small/standalone form). Only the tiny
    (bucket, n_items, m_bits) metadata ever reaches the driver in
    path mode.

    Returns (filters', touched_buckets) — the touched set feeds the
    catalog's bucket-level partial commit.

    `add_counts` ({bucket: n_new_urls}) lets a caller that already
    aggregated the new urls by bucket (the engine's mint action does
    exactly this) skip the duplicate collect here; when omitted it is
    derived with one action.

    `kind` must match what the filters table was built with: the
    capacity check, the grow path and the rebuild are all
    per-representation (for cuckoo, m_bits stores the bucket count
    and capacity keeps the 1/1.3 load margin of sized_for)."""
    spark = new_urls.sparkSession
    adds = new_urls.select(
        "url", url_bucket(F.col("url"), n_buckets).alias("bucket")
    )
    if add_counts is None:
        add_counts = {
            int(r["bucket"]): int(r["n"])
            for r in adds.groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    if not add_counts:
        return filters, set()
    existing = {
        int(r["bucket"]): (int(r["n_items"]), int(r["m_bits"]))
        for r in filters.select("bucket", "n_items", "m_bits").collect()
    }
    grow, rebuild = [], []
    for b, n_new in add_counts.items():
        n_items, m_bits = existing.get(b, (0, 0))
        if kind == "bloom":
            # capacity = m_bits / bits_per_key items
            fits = m_bits and (n_items + n_new) * bits_per_key <= m_bits
        else:
            # cuckoo: m_bits stores the BUCKET count; sized_for's
            # headroom keeps load <= 1/1.3, where 4-slot cuckoo
            # insertion essentially never fails
            fits = m_bits and (n_items + n_new) * 1.3 <= m_bits * CuckooFilter.SLOTS
        if fits:
            grow.append(b)
        else:
            rebuild.append(b)

    parts = [filters.filter(~F.col("bucket").isin(list(add_counts)))]

    if grow:
        if filters_path is not None:
            path = filters_path

            def _blob_of(b: int):
                ent = _read_filter_bucket(path, b)
                if ent is None:
                    raise ValueError(
                        f"filters snapshot {path!r} lacks bucket {b} "
                        "marked for growth — in-memory filters diverge "
                        "from the committed snapshot"
                    )
                m_bits, blob, n_items = ent
                return n_items, m_bits, blob
        else:
            blob_map = {
                int(r["bucket"]): (
                    int(r["n_items"]), int(r["m_bits"]), bytes(r["bits"])
                )
                for r in filters.filter(F.col("bucket").isin(grow)).collect()
            }
            bc = spark.sparkContext.broadcast(blob_map)

            def _blob_of(b: int):
                return bc.value[b]

        def grow_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf["bucket"].iloc[0])
            n_items, m_bits, blob = _blob_of(b)
            if kind == "bloom":
                f = BloomFilter.from_bytes(m_bits, blob)
                f.add(pdf["url"])
            else:
                f = CuckooFilter.from_bytes(m_bits, blob)
                if f.add(pdf["url"].drop_duplicates()):
                    # can't rebuild here (only the delta is in hand);
                    # the 1/1.3 capacity margin makes this ~impossible
                    raise RuntimeError(
                        f"cuckoo bucket {b} rejected inserts below "
                        "its capacity margin — rebuild the bucket"
                    )
            return pd.DataFrame(
                {
                    "bucket": [b],
                    "n_items": [n_items + len(pdf)],
                    "m_bits": [m_bits],
                    "bits": [f.to_bytes()],
                }
            )

        parts.append(
            adds.filter(F.col("bucket").isin(grow))
            .groupBy("bucket")
            .applyInPandas(grow_fn, schema=FILTERS_SCHEMA)
        )

    if rebuild:
        members = (
            seen_exact.select("url")
            .unionByName(new_urls.select("url"))
            .distinct()
            .withColumn("bucket", url_bucket(F.col("url"), n_buckets))
            .filter(F.col("bucket").isin(rebuild))
            .select("url")
        )
        parts.append(
            build_seen_filters(members, n_buckets, bits_per_key, kind=kind)
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, set(add_counts)
