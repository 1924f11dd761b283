"""The shared integer PageRank core: the exact identities that let the
plain, personalized and weighted tiers run one loop, and the
block-release contract every integer rank tier keeps (only the returned
blocks stay persisted)."""

import pytest

from sparkplug_spark.operators import (
    hits_integer,
    pagerank_integer,
    pagerank_personalized_integer,
    pagerank_weighted_integer,
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


@pytest.mark.parametrize(
    "op",
    [
        hits_integer,
        pagerank_integer,
        pagerank_personalized_integer,
        pagerank_weighted_integer,
    ],
    ids=lambda op: op.__name__,
)
def test_only_the_returned_blocks_stay_persisted(spark, op):
    e = spark.createDataFrame(
        [(s, t, 2) for s, t in DANGLING], "src long, dst long, weight long"
    )
    args = (e,)
    if op is pagerank_personalized_integer:
        args += (spark.createDataFrame([(1,), (5,)], "node long"),)
    registry = spark.sparkContext._jsc.getPersistentRDDs

    before = set(registry().keySet().toArray())
    op(*args, iterations=3).collect()
    left = set(registry().keySet().toArray()) - before
    try:
        assert len(left) == 1, (op.__name__, left)
    finally:
        jmap = registry()
        for rid in left:
            jmap.get(rid).unpersist(False)
