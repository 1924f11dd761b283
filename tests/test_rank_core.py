"""The shared integer PageRank core: the exact identities that let the
plain, personalized and weighted tiers run one loop, and the
block-release contract every iterative graph and components operator
keeps (only the blocks the returned DataFrame reads stay persisted)."""

import pytest

from sparkplug_spark.operators import (
    bfs_distances,
    bow_tie_report,
    connected_components_star,
    coreness,
    hits,
    hits_integer,
    label_propagation,
    near_dup_groups,
    pagerank,
    pagerank_integer,
    pagerank_personalized_integer,
    pagerank_weighted_integer,
    strongly_connected_components,
)

DANGLING = [(1, 2), (2, 3), (3, 1), (1, 4), (5, 1), (2, 6)]  # 4, 6 dangle
NO_DANGLING = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1)]
GRAPHS = {"dangling": DANGLING, "no_dangling": NO_DANGLING}


def _ranks(df):
    return {r["node"]: r["rank_nano"] for r in df.collect()}


def _edges(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_personalized_with_every_seed_equals_plain(spark, graph):
    edges = GRAPHS[graph]
    e = _edges(spark, edges)
    seeds = spark.createDataFrame(
        [(v,) for v in {v for ed in edges for v in ed}], "node long"
    )
    plain = _ranks(pagerank_integer(e, iterations=8))
    assert _ranks(pagerank_personalized_integer(e, seeds)) == plain


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_weighted_with_unit_weights_equals_plain(spark, graph):
    edges = GRAPHS[graph]
    w = spark.createDataFrame(
        [(s, t, 1) for s, t in edges], "src long, dst long, weight long"
    )
    plain = _ranks(pagerank_integer(_edges(spark, edges), iterations=8))
    assert _ranks(pagerank_weighted_integer(w)) == plain


#: the 9-edge directed graph of the loop-contract checks: one 3-cycle,
#: one 2-cycle, dangling nodes, a source and a separate component
LOOP_GRAPH = DANGLING + [(6, 7), (7, 6), (8, 9)]

#: operator -> (call on the weighted edge table, blocks the result reads):
#: one checkpoint each, except the lazy unions — one block per SCC peel
#: round, one per non-empty BFS frontier
BLOCK_CASES = {
    "hits_integer": (lambda e, s: hits_integer(e, iterations=3), 1),
    "pagerank_integer": (lambda e, s: pagerank_integer(e, iterations=3), 1),
    "pagerank_personalized_integer": (
        lambda e, s: pagerank_personalized_integer(e, s, iterations=3),
        1,
    ),
    "pagerank_weighted_integer": (
        lambda e, s: pagerank_weighted_integer(e, iterations=3),
        1,
    ),
    "pagerank": (lambda e, s: pagerank(e, iterations=3), 1),
    "hits": (lambda e, s: hits(e, iterations=3), 1),
    "coreness": (lambda e, s: coreness(e), 1),
    "label_propagation": (lambda e, s: label_propagation(e), 1),
    "near_dup_groups": (lambda e, s: near_dup_groups(_pairs(e)), 1),
    "connected_components_star": (
        lambda e, s: connected_components_star(_pairs(e)),
        1,
    ),
    "strongly_connected_components": (
        lambda e, s: strongly_connected_components(e),
        2,
    ),
    "bfs_distances": (lambda e, s: bfs_distances(e, s), 4),
    "bow_tie_report": (lambda e, s: bow_tie_report(e), 1),
    "bow_tie_report_detailed": (
        lambda e, s: bow_tie_report(e, detailed=True),
        1,
    ),
}


def _pairs(e):
    return e.selectExpr("src AS id_a", "dst AS id_b")


@pytest.mark.parametrize("op", sorted(BLOCK_CASES))
def test_only_the_returned_blocks_stay_persisted(spark, op):
    call, n_blocks = BLOCK_CASES[op]
    e = spark.createDataFrame(
        [(s, t, 2) for s, t in LOOP_GRAPH], "src long, dst long, weight long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    registry = spark.sparkContext._jsc.getPersistentRDDs

    before = set(registry().keySet().toArray())
    call(e, seeds).collect()
    left = set(registry().keySet().toArray()) - before
    try:
        assert len(left) == n_blocks, (op, left)
    finally:
        jmap = registry()
        for rid in left:
            jmap.get(rid).unpersist(False)
