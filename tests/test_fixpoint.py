"""The checkpointed fixpoint loop (``caching.fixpoint``) and the operators
built on it: the per-round contract on a toy counter loop, and a Spark
job budget per operator on the 9-edge loop-contract graph."""

import pytest
from pyspark.sql import functions as F

from sparkplug_spark.caching import checkpoint_tracked, fixpoint
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
    strongly_connected_components,
)

#: the loop-contract graph of ``test_rank_core.py``
LOOP_GRAPH = [
    (1, 2), (2, 3), (3, 1), (1, 4), (5, 1), (2, 6), (6, 7), (7, 6), (8, 9)
]


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _free(spark, ids):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


def test_round_contract(spark):
    """Chained steps, metrics hand-off, the stop test reading both rounds,
    and round N-1 freed only after it."""
    before = _persisted(spark)
    start, start_ids = checkpoint_tracked(
        spark.range(4).select(F.col("id").alias("x"))
    )
    seen, alive = [], []

    def step(df, m):
        seen.append(m)
        return df.select(
            (F.col("x") + 1).alias("x"), F.col("x").alias("__old")
        )

    def stop(m, m0, new, old):
        # both rounds are still readable here
        alive.append(tuple(df.agg(F.max("x")).first()[0] for df in (new, old)))
        return m["top"] >= 9

    state, ids, m, converged = fixpoint(
        start,
        step,
        10,
        chain=3,
        observe=[
            F.max("x").alias("top"),
            F.sum(F.col("x") - F.col("__old")).alias("d"),
        ],
        stop=stop,
        ids=start_ids,
        metrics={"top": 3},
    )
    try:
        # 3 + 3 steps: the second checkpoint reaches max(x) = 9
        assert converged
        assert sorted(r["x"] for r in state.collect()) == [6, 7, 8, 9]
        assert state.columns == ["x"]
        assert m == {"top": 9, "d": 4}
        assert seen == [{"top": 3}, None, None, {"top": 6, "d": 4}, None, None]
        assert alive == [(6, 3), (9, 6)]
        # only the final round's blocks stay
        assert _persisted(spark) - before == ids
    finally:
        _free(spark, ids)


def test_budget_ends_an_unconverged_loop(spark):
    before = _persisted(spark)
    state, ids, m, converged = fixpoint(
        spark.range(3),
        lambda df, _: df.select((F.col("id") * 2).alias("id")),
        5,
        chain=2,
        stop=lambda *_: False,
    )
    try:
        assert not converged and m is None
        assert sorted(r["id"] for r in state.collect()) == [0, 32, 64]
        assert _persisted(spark) - before == ids
    finally:
        _free(spark, ids)


def _pairs(e):
    return e.selectExpr("src AS id_a", "dst AS id_b")


def _bfs(e):
    seeds = e.sparkSession.createDataFrame([(1,), (5,)], "node long")
    return bfs_distances(e, seeds)


#: operator call -> the most Spark jobs the call was measured to run
#: (local[4]); the SCC and bow-tie counts move between runs, so they are
#: capped at the highest count seen.  Caps only go down.
JOB_CAPS = {
    "pagerank": (lambda e: pagerank(e, iterations=6), 42),
    "hits": (lambda e: hits(e, iterations=6), 47),
    "coreness": (lambda e: coreness(e), 19),
    "pagerank_integer": (lambda e: pagerank_integer(e, iterations=6), 39),
    "hits_integer": (lambda e: hits_integer(e, iterations=6), 49),
    "label_propagation": (lambda e: label_propagation(e), 20),
    "near_dup_groups": (lambda e: near_dup_groups(_pairs(e)), 28),
    "connected_components_star": (
        lambda e: connected_components_star(_pairs(e)),
        35,
    ),
    "strongly_connected_components": (
        lambda e: strongly_connected_components(e),
        76,
    ),
    "bow_tie_report": (lambda e: bow_tie_report(e), 97),
    "bow_tie_report_detailed": (
        lambda e: bow_tie_report(e, detailed=True),
        117,
    ),
    "bfs_distances": (_bfs, 28),
}


@pytest.mark.parametrize("op", sorted(JOB_CAPS))
def test_job_count_is_capped(spark, op):
    call, cap = JOB_CAPS[op]
    e = spark.createDataFrame(
        [(s, t, 2) for s, t in LOOP_GRAPH], "src long, dst long, weight long"
    )
    tracker = spark.sparkContext.statusTracker()
    before_ids = _persisted(spark)
    j0 = set(tracker.getJobIdsForGroup(None))
    call(e).collect()
    jobs = len(set(tracker.getJobIdsForGroup(None)) - j0)
    _free(spark, _persisted(spark) - before_ids)
    assert jobs <= cap, (op, jobs)


@pytest.mark.parametrize("op", ["bow_tie_report", "coreness"])
def test_release_switch_keeps_the_blocks_a_lazy_result_reads(spark, op):
    call = JOB_CAPS[op][0]
    e = spark.createDataFrame(
        [(s, t, 2) for s, t in LOOP_GRAPH], "src long, dst long, weight long"
    )
    want = sorted(call(e).collect())
    before = _persisted(spark)
    spark.conf.set("spark.sparkplug.release.enabled", "false")
    try:
        assert sorted(call(e).collect()) == want
    finally:
        spark.conf.unset("spark.sparkplug.release.enabled")
        _free(spark, _persisted(spark) - before)
        spark.catalog.clearCache()
