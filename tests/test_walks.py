"""Walk-engine gates: ported from the reference's stochastic test suite
(tests/algos/pagerank_test.go:14-85 — static global PR within L1 0.01 at
5000 walks/node) plus structural invariants
(pkg/walks/generate_test.go:19-73,317-348)."""

import pytest
from pyspark.sql import functions as F

from crawler_spark import datagen, rank, walks_gen

TOL = 0.01
WPN = 5000


def _edges_df(spark, fx):
    if fx.edge_list():
        return spark.createDataFrame(fx.edge_list(), schema="src long, dst long")
    return spark.createDataFrame([], schema="src long, dst long")


def _starts_df(spark, fx):
    return spark.createDataFrame([(i,) for i in sorted(fx.follows)], "node_id long")


def _expected_df(spark, expected):
    return spark.createDataFrame(
        [(int(k), float(v)) for k, v in expected.items()], "node_id long, rank double"
    )


@pytest.mark.parametrize("name", sorted(datagen.FIXTURES))
def test_static_global_pagerank(spark, name):
    fx = datagen.FIXTURES[name]
    walks = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=WPN, seed=42, strategy="broadcast",
    )
    scores = rank.global_pagerank(walks, nodes=_starts_df(spark, fx))
    d = rank.l1_distance(scores, _expected_df(spark, fx.expected_global))
    assert d <= TOL, f"{name}: L1={d}"


def test_strategies_produce_identical_walks(spark):
    fx = datagen.FIXTURES["acyclic1"]
    kw = dict(walks_per_node=40, seed=7)
    runs = []
    for strategy in ("broadcast", "bucketed"):
        w = walks_gen.generate_walks(
            spark, _edges_df(spark, fx), _starts_df(spark, fx),
            strategy=strategy, **kw,
        )
        runs.append(sorted((r["walk_id"], tuple(r["path"])) for r in w.collect()))
    assert runs[0] == runs[1]
    # an unknown strategy name is an error, not a silent fallback
    with pytest.raises(ValueError, match="unknown walk strategy"):
        walks_gen.generate_walks(
            spark, _edges_df(spark, fx), _starts_df(spark, fx),
            strategy="iterative", **kw,
        )


def test_bucketed_strategy_on_host_local_graph(spark):
    """The host-locality co-partitioned strategy must stay
    bit-identical to broadcast on a web-shaped graph (synth_edges:
    host-clustered ids, 80% intra-host links) — the graph family the
    bucketed path exists for."""
    edges = datagen.synth_edges(
        spark, 3000, avg_degree=6, locality=0.8, host_block=64, seed=4
    ).localCheckpoint()
    starts = spark.range(0, 3000).select(F.col("id").alias("node_id"))
    kw = dict(walks_per_node=3, seed=4, partitions=8)
    wb = walks_gen.generate_walks(spark, edges, starts, strategy="broadcast", **kw)
    wk = walks_gen.generate_walks(spark, edges, starts, strategy="bucketed", **kw)
    a = sorted((r["walk_id"], tuple(r["path"])) for r in wb.collect())
    b = sorted((r["walk_id"], tuple(r["path"])) for r in wk.collect())
    assert a == b and len(a) == 9000


def test_walks_reproducible_across_partitionings(spark):
    fx = datagen.FIXTURES["triangle"]
    w1 = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=100, seed=3, strategy="broadcast", partitions=1,
    )
    w2 = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=100, seed=3, strategy="broadcast", partitions=7,
    )
    assert sorted(map(tuple, w1.select("walk_id", "path").toPandas().apply(
        lambda r: (r.walk_id, tuple(r.path)), axis=1))) == sorted(
        map(tuple, w2.select("walk_id", "path").toPandas().apply(
            lambda r: (r.walk_id, tuple(r.path)), axis=1)))


def test_walk_invariants(spark):
    fx = datagen.FIXTURES["cyclic_long50"]
    walks = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=50, seed=42, strategy="broadcast",
    )
    # no repeated node within a path (cycle-break invariant)
    dup = walks.filter(F.size("path") != F.size(F.array_distinct("path")))
    assert dup.count() == 0
    # path[0] == start_id
    bad = walks.filter(F.element_at("path", 1) != F.col("start_id"))
    assert bad.count() == 0
    # every step follows an edge
    steps = walks.select(
        F.posexplode("path").alias("i", "node")
    )
    # visits index consistency: every walk listed for node v contains v
    visits = walks_gen.visits_of(walks)
    joined = visits.join(walks, "walk_id").filter(
        ~F.array_contains("path", F.col("node_id"))
    )
    assert joined.count() == 0


def test_dangling_nodes_make_length1_walks(spark):
    fx = datagen.FIXTURES["dandlings"]
    walks = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=20, seed=42, strategy="broadcast",
    )
    assert walks.filter(F.size("path") != 1).count() == 0
    assert walks.count() == 5 * 20


def test_walk_store_maintenance(spark):
    fx = datagen.FIXTURES["triangle"]
    walks = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=10, seed=42, strategy="broadcast",
    )
    n0 = walks.count()
    assert walks_gen.next_walk_id(walks) == n0
    ids = spark.createDataFrame([(0,), (1,)], "walk_id long")
    fewer = walks_gen.remove_walks(walks, ids)
    assert fewer.count() == n0 - 2
    # remove walks starting at node 0
    no0 = walks_gen.remove_walks_starting_at(
        walks, spark.createDataFrame([(0,)], "node_id long")
    )
    assert no0.filter(F.element_at("path", 1) == 0).count() == 0
    assert no0.count() == n0 - 10
    # total visits == sum of path sizes == visits_of count
    assert walks_gen.total_visits(walks) == walks_gen.visits_of(walks).count()


def test_fuzz_random_graph_invariants(spark):
    follows = datagen.random_graph(200, 20, seed=5)
    edges = spark.createDataFrame(
        [(s, d) for s, ds in follows.items() for d in ds], "src long, dst long"
    )
    starts = spark.createDataFrame([(i,) for i in range(200)], "node_id long")
    walks = walks_gen.generate_walks(
        spark, edges, starts, walks_per_node=10, seed=5, strategy="broadcast"
    )
    assert walks.count() == 2000
    dup = walks.filter(F.size("path") != F.size(F.array_distinct("path")))
    assert dup.count() == 0
    # every consecutive step is a real edge
    pairs = (
        walks.filter(F.size("path") > 1)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("path", 1, F.size("path") - 1).alias("a"),
                    F.slice("path", 2, F.size("path") - 1).alias("b"),
                )
            ).alias("s")
        )
        .select(F.col("s.a").alias("a"), F.col("s.b").alias("b"))
    )
    bad = pairs.join(
        edges, (pairs.a == edges.src) & (pairs.b == edges.dst), "left_anti"
    )
    assert bad.count() == 0


def test_sample_walks_visiting_honors_limit(spark):
    """'up to limit split evenly' (W5, store.go:243-288): limit=0
    selects NOTHING, and limit < len(nodes) gives an even split of 0
    per node — the old floor at 1 returned up to len(nodes) rows for
    any limit."""
    fx = datagen.FIXTURES["triangle"]
    walks = walks_gen.generate_walks(
        spark, _edges_df(spark, fx), _starts_df(spark, fx),
        walks_per_node=50, seed=1, strategy="broadcast",
    ).localCheckpoint()
    from crawler_spark import rank

    assert rank.sample_walks_visiting(walks, [0, 1, 2], 0).count() == 0
    assert rank.sample_walks_visiting(walks, [0, 1, 2], 2).count() == 0
    got = rank.sample_walks_visiting(walks, [0, 1, 2], 6)
    per = {r.node_id: r.n for r in got.groupBy("node_id").count()
           .withColumnRenamed("count", "n").collect()}
    assert all(v <= 2 for v in per.values()) and sum(per.values()) <= 6
    # limit=-1 keeps the all-rows contract
    assert rank.sample_walks_visiting(walks, [0, 1, 2], -1).count() > 0
