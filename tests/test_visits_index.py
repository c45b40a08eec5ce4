"""Round-3 gates for the MAINTAINED visits inverted index — the
reference's walksVisiting:<id> sets and RWS counters, updated
transactionally on every walk add/remove/prune-graft
(pkg/store/redistore/store.go:129-145,337-358,393-411,442-465,
docs/store_design.md:53-59):

1. the engine's incrementally-maintained index/counters track the
   walk store exactly across delta epochs, arbiter flips, and
   checkpoint/resume;
2. a delta epoch never derives the index or the counters from a
   full store scan (the round-2 scale-killer), and the repair's
   selection probe is a partition-PRUNED read of the committed
   snapshot;
3. an arbiter-flipping epoch commits walks/nodes/visits at BUCKET
   granularity (changed_buckets a strict subset; untouched buckets
   hardlink) instead of forcing full snapshots.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from crawler_spark import datagen, engine
from crawler_spark import walks_gen, walks_update

NOW = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


def _web(spark):
    follows = {i: sorted({(i + 1) % 40, (i + 7) % 40} - {i}) for i in range(40)}
    return datagen.pages_df(spark, follows), follows


def _mk(spark, tmp_path, name):
    return engine.CrawlEngine(
        spark,
        str(tmp_path / name),
        walks_per_node=20,
        n_buckets=8,
        batch_size=10,
        promotion_wait_s=0.0,
        seed=42,
    )


def _index_rows(df):
    return sorted((int(r.node_id), int(r.walk_id)) for r in df.collect())


def test_visits_index_tracks_store_and_counters(spark, tmp_path):
    """After epochs that repair walks AND flip nodes through the
    arbiter, the maintained index equals explode(path) of the store,
    and the incremental counters equal their scan definitions — both
    in memory and after resume from the committed chain."""
    web, _ = _web(spark)
    eng = _mk(spark, tmp_path, "track")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    flipped = 0
    for k in range(4):
        s = eng.run_epoch(web, NOW + dt.timedelta(minutes=k + 1))
        flipped += s.get("promoted", 0)
    assert flipped > 0  # the arbiter path (add+remove walks) ran
    assert _index_rows(eng.visits) == _index_rows(
        walks_gen.visits_of(eng.walks)
    )
    assert eng.total_visits == walks_gen.total_visits(eng.walks)
    assert eng.next_walk_id >= walks_gen.next_walk_id(eng.walks)
    # the node-id counter matches its scan definition: ids are dense,
    # so next id == max(node_id)+1 == |nodes|
    assert eng.next_node_id == eng.nodes.agg(F.max("node_id")).first()[0] + 1

    eng2 = _mk(spark, tmp_path, "track")
    eng2.resume()
    assert _index_rows(eng2.visits) == _index_rows(eng.visits)
    assert eng2.total_visits == eng.total_visits
    assert eng2.next_walk_id == eng.next_walk_id
    assert eng2.next_node_id == eng.next_node_id
    # the walksTracker counter survives restart too — losing it would
    # reset the arbiter's change-ratio signal on every resume
    assert eng2.walks_changed == eng.walks_changed
    eng2.walks_changed = 7  # force a known nonzero value into a commit
    eng2.epoch += 1
    eng2._commit(NOW + dt.timedelta(minutes=30))
    eng3 = _mk(spark, tmp_path, "track")
    eng3.resume()
    assert eng3.walks_changed == 7


def test_delta_epoch_never_scans_store_for_visits(spark, tmp_path, monkeypatch):
    """With the maintained index in place, a delta epoch must not
    fall back to any full-store derivation (visits_of / total_visits
    / next_walk_id scans), and the visits frame handed to the repair
    is a partition-pruned read of the committed snapshot — selection
    cost tracks |delta buckets|, not |store|."""
    eng = _mk(spark, tmp_path, "noscan")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)

    def _poisoned(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("full-store scan inside the epoch loop")

    monkeypatch.setattr(walks_gen, "visits_of", _poisoned)
    monkeypatch.setattr(walks_gen, "total_visits", _poisoned)
    monkeypatch.setattr(walks_gen, "next_walk_id", _poisoned)

    seen_visits = {}
    orig_update = walks_update.update_walks

    def spy(spark_, walks, edges, deltas, **kw):
        seen_visits["visits"] = kw.get("visits")
        return orig_update(spark_, walks, edges, deltas, **kw)

    monkeypatch.setattr(engine.walks_update, "update_walks", spy)

    eng.epoch += 1
    s = eng.process_pages(datagen.pages_df(spark, {0: [1, 5], 1: [2]}), NOW)
    s.update(eng.maybe_arbiter(NOW))
    eng._commit(NOW, s)
    assert s["deltas"] == 2

    vis = seen_visits["visits"]
    assert vis is not None
    plan = vis._jdf.queryExecution().executedPlan().toString()
    # the probe reads the committed snapshot with a bucket partition
    # filter — never the full index, never the store's paths
    assert "PartitionFilters: [bucket" in plan.replace("\n", " ") or (
        "bucket" in plan and "PartitionFilters" in plan
    )

    monkeypatch.undo()
    assert _index_rows(eng.visits) == _index_rows(
        walks_gen.visits_of(eng.walks)
    )
    assert eng.total_visits == walks_gen.total_visits(eng.walks)


def test_epoch_lookups_are_partition_pruned(spark, tmp_path, monkeypatch):
    """The per-epoch nodes/edges lookups (author join, admission
    exact-verify, target resolution, old-adjacency fetch) read the
    committed snapshot PARTITION-PRUNED to the batch's buckets — the
    DataFrame form of the reference's keyIndex point reads — and the
    epoch end-state is bit-identical to the unpruned in-memory
    frames."""
    web = datagen.pages_df(spark, {0: [1, 5], 1: [2]})

    engA = _mk(spark, tmp_path, "pruneA")
    engA.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    calls = []
    orig = engine.CrawlEngine._pruned_table

    def spy(self, name, buckets):
        out = orig(self, name, buckets)
        # a pruned read is a new frame; the unpruned form is the
        # in-memory frame itself
        calls.append((name, out, out is not getattr(self, name)))
        return out

    monkeypatch.setattr(engine.CrawlEngine, "_pruned_table", spy)
    sA = engA.run_epoch(web, NOW + dt.timedelta(minutes=1))
    monkeypatch.undo()
    pruned = {n for n, _, is_pruned in calls if is_pruned}
    assert "nodes" in pruned and "edges" in pruned
    for name, out, is_pruned in calls:
        if not is_pruned:
            continue
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan, name

    engB = _mk(spark, tmp_path, "pruneB")
    engB.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    monkeypatch.setattr(
        engine.CrawlEngine,
        "_pruned_table",
        lambda self, name, buckets: getattr(self, name),
    )
    sB = engB.run_epoch(web, NOW + dt.timedelta(minutes=1))
    monkeypatch.undo()
    assert sA == sB
    for tbl in ("nodes", "edges", "walks", "visits"):
        assert sorted(map(str, getattr(engA, tbl).collect())) == sorted(
            map(str, getattr(engB, tbl).collect())
        ), tbl


def test_arbiter_flip_commits_bucket_scoped(spark, tmp_path):
    """An arbiter pass that flips nodes no longer forces full
    walks/nodes snapshots: the touched buckets (flipped nodes' url
    buckets, removed/added walks' id buckets, exploded node buckets
    for the index) are recorded as a strict subset, untouched bucket
    dirs hardlink the previous version, and the chain round-trips."""
    web, _ = _web(spark)
    eng = _mk(spark, tmp_path, "arbscope")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    flip_epoch = None
    for k in range(4):
        s = eng.run_epoch(web, NOW + dt.timedelta(minutes=k + 1))
        if s.get("promoted", 0) or s.get("demoted", 0):
            flip_epoch = eng.epoch
            break
    assert flip_epoch is not None

    def inodes(path, entry):
        d = os.path.join(path, entry)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    total_shared = 0
    for table in ("walks", "nodes", "visits"):
        snaps = eng.cat.snapshots(table)
        prev, last = snaps[-2], snaps[-1]
        assert last.epoch == flip_epoch
        changed = last.metrics.get("changed_buckets")
        assert changed is not None, f"{table}: full snapshot on flip"
        assert 0 < len(changed) < eng.n_table_buckets, (table, changed)
        keep = {f"bucket={b}" for b in changed}
        # every bucket the flip left untouched hardlinks byte-identically
        # (at this tiny scale a table MAY have dirtied all its populated
        # buckets — then there is simply nothing to share for it)
        for entry in os.listdir(prev.path):
            if entry.startswith("bucket=") and entry not in keep:
                if os.path.isdir(os.path.join(last.path, entry)):
                    assert inodes(prev.path, entry) == inodes(
                        last.path, entry
                    ), (table, entry)
                    total_shared += 1
    assert total_shared > 0

    # logical state survives the bucket-scoped restructure commit
    eng2 = _mk(spark, tmp_path, "arbscope")
    eng2.resume()
    assert sorted(map(str, eng2.walks.collect())) == sorted(
        map(str, eng.walks.collect())
    )
    assert sorted(map(str, eng2.nodes.collect())) == sorted(
        map(str, eng.nodes.collect())
    )
    assert _index_rows(eng2.visits) == _index_rows(
        walks_gen.visits_of(eng2.walks)
    )


def test_pagerank_read_serves_from_maintained_index(spark, tmp_path, monkeypatch):
    """engine.pagerank() is a READ: it must consume the maintained
    visits index + totalVisits counter (reference rank reads are
    SCards + one HGet, pagerank.go:17-44), never re-derive them from
    the walk store — and the served scores must be bit-identical to
    the scan definition."""
    from crawler_spark import rank

    web, _ = _web(spark)
    eng = _mk(spark, tmp_path, "rankread")
    eng.bootstrap([datagen.node_url(i) for i in (0, 1, 2)], NOW)
    eng.run_epoch(web, NOW + dt.timedelta(minutes=1))

    want = sorted(
        (int(r.node_id), float(r.rank))
        for r in rank.global_pagerank(eng.walks, nodes=eng.nodes).collect()
    )

    def _poisoned(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("store re-derivation inside a rank read")

    monkeypatch.setattr(walks_gen, "visits_of", _poisoned)
    monkeypatch.setattr(walks_gen, "total_visits", _poisoned)
    monkeypatch.setattr(rank, "visit_counts", _poisoned)
    got = sorted(
        (int(r.node_id), float(r.rank)) for r in eng.pagerank().collect()
    )
    monkeypatch.undo()
    assert got == want
