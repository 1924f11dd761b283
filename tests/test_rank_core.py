"""The shared integer PageRank core: the exact identities that let the
plain, personalized and weighted tiers run one loop, and the
block-release contract every iterative graph and components operator
keeps (only the blocks the returned DataFrame reads stay persisted, none
on an empty graph), and the edge-table contract of the directed
operators (a NULL endpoint is no node; a cached input stays cached)."""

import pytest

from sparkplug_spark.operators import (
    bfs_distances,
    bow_tie_report,
    connected_components_star,
    coreness,
    fold_edges,
    hits,
    hits_incremental,
    hits_integer,
    label_propagation,
    near_dup_groups,
    pagerank,
    pagerank_incremental,
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


def _blocks(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


#: BLOCK_CASES plus the warm-start tiers, called with every stored vector
#: and edge batch empty
EMPTY_CASES = {
    **{op: call for op, (call, _) in BLOCK_CASES.items()},
    "pagerank_incremental": lambda e, s: pagerank_incremental(
        s.selectExpr("node", "0L AS rank_nano"), e, e
    ),
    "hits_incremental": lambda e, s: hits_incremental(
        s.selectExpr("node", "0L AS hub_units"), e, e
    ),
}

_NODE_RANK = [("node", "bigint"), ("rank_nano", "bigint")]
_NODE_HITS = [("node", "bigint"), ("hub_units", "bigint"), ("auth_units", "bigint")]
_NODE_REGION = [("node", "bigint"), ("scc_id", "bigint"), ("region", "string")]
_GROUPS = [("id", "bigint"), ("group_id", "bigint")]
EMPTY_DTYPES = {
    "hits_integer": _NODE_HITS,
    "hits_incremental": _NODE_HITS,
    "pagerank_integer": _NODE_RANK,
    "pagerank_incremental": _NODE_RANK,
    "pagerank_weighted_integer": _NODE_RANK,
    "pagerank": [("node", "bigint"), ("rank", "double")],
    "hits": [("node", "bigint"), ("hub", "double"), ("authority", "double")],
    "coreness": [("item", "bigint"), ("degree", "bigint"), ("core", "bigint")],
    "label_propagation": [("node", "bigint"), ("label", "bigint")],
    "near_dup_groups": _GROUPS,
    "connected_components_star": _GROUPS,
    "strongly_connected_components": [("node", "bigint"), ("scc_id", "bigint")],
    "bfs_distances": [("node", "bigint"), ("distance", "bigint")],
    "bow_tie_report": _NODE_REGION,
    "bow_tie_report_detailed": _NODE_REGION,
}


@pytest.mark.parametrize("op", sorted(EMPTY_CASES))
def test_empty_graph_is_an_empty_typed_result_with_no_blocks(spark, op):
    """The seed set is empty too: on an empty graph the seeds would be the
    only nodes, and the personalized tier rejects an empty seed set."""
    e = spark.createDataFrame([], "src long, dst long, weight long")
    seeds = spark.createDataFrame([], "node long")
    before = _blocks(spark)
    try:
        if op == "pagerank_personalized_integer":
            with pytest.raises(ValueError, match="seeds must be non-empty"):
                EMPTY_CASES[op](e, seeds)
        else:
            out = EMPTY_CASES[op](e, seeds)
            assert out.collect() == []
            assert out.dtypes == EMPTY_DTYPES[op]
        left = _blocks(spark) - before
        assert not left, (op, left)
    finally:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in _blocks(spark) - before:
            jmap.get(rid).unpersist(False)


#: every directed operator over [(1, 2), (2, NULL), (NULL, 3)]
DIRECTED = {
    op: BLOCK_CASES[op][0]
    for op in (
        "pagerank",
        "hits",
        "bfs_distances",
        "pagerank_integer",
        "pagerank_personalized_integer",
        "pagerank_weighted_integer",
        "hits_integer",
        "label_propagation",
        "strongly_connected_components",
        "bow_tie_report",
        "bow_tie_report_detailed",
    )
}


@pytest.mark.parametrize("op", sorted(DIRECTED))
def test_a_null_endpoint_is_not_a_node(spark, op):
    e = spark.createDataFrame(
        [(1, 2, 2), (2, None, 2), (None, 3, 2)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    assert {r[0] for r in DIRECTED[op](e, seeds).collect()} == {1, 2}


@pytest.mark.parametrize("assume_canonical", [False, True])
@pytest.mark.parametrize("op", [pagerank_integer, hits_integer])
def test_a_cached_input_stays_cached(spark, op, assume_canonical):
    store = fold_edges(None, _edges(spark, DANGLING)).persist()
    try:
        store.count()
        level = store.storageLevel
        op(store, iterations=2, assume_canonical=assume_canonical).collect()
        assert store.storageLevel == level
    finally:
        store.unpersist()
