import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from phenobert_spark.operators import closure, kg_metrics
from phenobert_spark.operators._fixpoint import iterate

# a small DAG with two triangles (1,2,3) and (2,3,4) and a tail
DAG = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4), (4, 5), (5, 6)]


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def graph(spark):
    e = spark.createDataFrame(
        [(a, b, float(a + b)) for a, b in DAG], "src bigint, dst bigint, w double"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    return e, seeds


LOOP_OPERATORS = {
    "pagerank": lambda e, s: kg_metrics.pagerank(e),
    "personalized_pagerank": lambda e, s: kg_metrics.personalized_pagerank(e, s),
    "hits": lambda e, s: kg_metrics.hits(e, iters=3),
    "label_propagation": lambda e, s: kg_metrics.label_propagation(e, iters=5),
    "connected_components": lambda e, s: closure.connected_components(e),
    "transitive_closure": lambda e, s: closure.transitive_closure(
        e.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
    ),
    "k_core": lambda e, s: kg_metrics.k_core(e, k=2, iters=5),
    "hyperball": lambda e, s: kg_metrics.hyperball(e, radius=5, p=4),
    "k_truss": lambda e, s: kg_metrics.k_truss(e, k=3),
    "wl_refinement": lambda e, s: kg_metrics.wl_refinement(e, rounds=5),
    "bfs_distances": lambda e, s: closure.bfs_distances(e, s),
    "sssp_distances": lambda e, s: closure.sssp_distances(e, s),
    "strongly_connected_components": lambda e, s: (
        closure.strongly_connected_components(e)
    ),
    "topo_layers": lambda e, s: closure.topo_layers(e),
}


@pytest.mark.parametrize("name", sorted(LOOP_OPERATORS))
def test_loop_operator_leaves_no_cache(spark, graph, name):
    spark.catalog.clearCache()
    out = LOOP_OPERATORS[name](*graph)
    assert _cache_empty(spark), name
    assert out.count() > 0


def test_iterate_caches_at_most_two_generations(spark):
    inv = spark.range(40).select(F.col("id").alias("k")).repartition("k")
    frames, peak = [], 0

    def probe():
        nonlocal peak
        live = [df for df in frames + [inv] if df.storageLevel != StorageLevel.NONE]
        peak = max(peak, len(live))

    def step(state, i):
        probe()
        new = state.join(inv, "k").select("k", (F.col("v") + 1).alias("v"))
        frames.append(new)
        return new

    def until(state):
        probe()
        return state.agg(F.max("v")).first()[0]  # grows every round

    start = inv.select("k", F.lit(0).alias("v"))
    frames.append(start)
    with pytest.warns(RuntimeWarning, match="max_iters=9"):
        out = iterate(start, step, rounds=9, until=until, invariants=(inv,))
    assert peak == 3  # the invariant + the previous and the new state
    assert {r.v for r in out.collect()} == {9}
    assert _cache_empty(spark)


def test_iterate_releases_cache_when_a_round_fails(spark):
    inv = spark.range(5).select(F.col("id").alias("k"))

    def step(state, i):
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        iterate(inv, step, rounds=3, until=lambda s: s.count(), invariants=(inv,))
    assert _cache_empty(spark)


def test_pagerank_empty_edges_returns_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert kg_metrics.pagerank(e).columns == ["node", "rank"]
    assert kg_metrics.pagerank(e).count() == 0


def test_personalized_pagerank_seeds_without_edges(spark):
    e = spark.createDataFrame([], "src string, dst string")
    s = spark.createDataFrame([("a",), ("b",)], "node string")
    got = {r.node: r.rank for r in kg_metrics.personalized_pagerank(e, s).collect()}
    assert got == pytest.approx({"a": 0.075, "b": 0.075})


def test_transitive_closure_warns_when_truncated(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "child bigint, parent bigint"
    )
    with pytest.warns(RuntimeWarning, match="transitive_closure hit max_iters=3"):
        got = closure.transitive_closure(chain, max_iters=3)
    assert got.count() == 42  # 12 + 11 + 10 + 9 of the 78 pairs
