"""The shared round loop (spatial/iterate.py) and the operators that run
through it: no operator leaves cached frames behind, every loop's executed
plans stay the same size however many rounds run, and the checkpoint resets
the size statistics that a join loop would otherwise multiply."""

import pytest
from pyspark.sql import functions as F

from conftest import initial_tree

N_NODES = 300


def _graph(spark):
    from spatial.datapipe.graph import synth_edges

    nodes = spark.range(N_NODES).select(F.col("id").alias("doc_id"))
    return nodes, synth_edges(nodes, n_nodes=N_NODES)


def _path_pairs(spark, n):
    """Edges (i, i + 1) of an n-node path: min-label propagation with
    pointer jumping needs about log2(n) rounds to settle it."""
    return spark.range(n - 1).select(F.col("id").alias("id_a"),
                                     (F.col("id") + 1).alias("id_b"))


def _flow_dirs(spark):
    from spatial.raster import d8_flow_dir

    grid = spark.range(12 * 10).select(
        (F.col("id") % 12).alias("x"), (F.col("id") / 12).cast("long")
        .alias("y")).withColumn("z", 3 * F.col("x") + 5 * F.col("y"))
    return d8_flow_dir(grid)


def _run(spark, name, rounds):
    """The named operator's result frame after ``rounds`` rounds."""
    from spatial.datapipe import graph
    from spatial.datapipe.cluster import connected_components
    from spatial.raster import d8_accumulation

    if name == "connected_components":
        return connected_components(_path_pairs(spark, 600),
                                    max_rounds=rounds)
    if name == "d8_accumulation":
        return d8_accumulation(_flow_dirs(spark), rounds=rounds)
    nodes, edges = _graph(spark)
    if name == "pagerank":
        return graph.pagerank(nodes, edges, iterations=rounds)
    if name == "personalized_pagerank":
        return graph.personalized_pagerank(nodes, edges, iterations=rounds)
    if name == "hits":
        return graph.hits(nodes, edges, iterations=rounds)
    if name == "kcore":
        return graph.kcore(edges, rounds=rounds)
    if name == "label_prop":
        return graph.label_prop(edges, rounds=rounds)
    if name == "cheapest_hops":
        seeds = nodes.where(F.col("doc_id") % 97 == 0)
        return graph.cheapest_hops(edges, seeds, rounds=rounds)
    raise KeyError(name)


OPERATORS = ["connected_components", "pagerank", "personalized_pagerank",
             "hits", "kcore", "label_prop", "cheapest_hops",
             "d8_accumulation"]


def _cached_plans(spark) -> list[str]:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return sorted(cm.cachedData().apply(i).plan().toString()
                  for i in range(cm.cachedData().size()))


@pytest.mark.parametrize("name", OPERATORS)
def test_operator_leaves_cache_manager_unchanged(spark, name):
    """Loop-invariant frames are released when the operator returns: the
    cache manager holds the same entries before and after, and the result
    (which reads only the checkpointed final state) still computes."""
    before = _cached_plans(spark)
    out = _run(spark, name, 3)
    assert _cached_plans(spark) == before
    assert out.count() > 0


@pytest.mark.parametrize("name", OPERATORS)
def test_round_plans_stay_constant_depth(spark, executed_plans, name):
    """Every round starts from the checkpointed previous state, so the
    largest plan executed for 3 rounds and for 8 rounds has the same
    number of nodes: no round re-runs an earlier one."""
    sizes = []
    for rounds in (3, 8):
        plans = executed_plans(lambda: _run(spark, name, rounds).collect())
        sizes.append(max(len(initial_tree(p).splitlines())
                         for _, p in plans))
    assert sizes[0] == sizes[1]


def test_checkpoint_resets_size_statistics(spark):
    """Each checkpoint of a self-join loop reports the default size
    estimate, not the product of the previous rounds' estimates."""
    from spatial.iterate import checkpoint

    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    df = checkpoint(spark.range(50).select((F.col("id") % 7).alias("k"),
                                           F.col("id").alias("v")))
    for _ in range(5):
        nxt = df.join(df.select("k", F.col("v").alias("w")), "k") \
                .groupBy("k").agg(F.min("v").alias("v"))
        df = checkpoint(nxt)
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.sizeInBytes() == default
