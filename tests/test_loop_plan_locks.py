"""Regression locks for the iterative rank-loop execution shape (r11).

The r10 loop overhaul's core win is that per-iteration work re-exchanges
only NODE-sized vectors: the edge table is persisted hash-partitioned on
each gather key, so a gather join must not re-shuffle it.  These locks
protect that from silent regression two ways:

1. a plan lock on one gather step built exactly the way the loops build
   it (persisted repartition("src") edge table joined to a node vector):
   the edge side must be an InMemoryTableScan with NO Exchange above it;
2. a job/task SLOPE lock on the real operators: the marginal cost of
   three extra iterations is bounded — a reintroduced per-iteration edge
   exchange (or a revived broadcast-subquery scalar feed, the r5/r11
   measured regression class) adds multiple jobs+stages per iteration
   and trips the bound, while fixed preflight/setup drift does not.
"""

import re

from pyspark.sql import functions as F


def _jobs_tasks(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    j0 = set(tracker.getJobIdsForGroup(None))
    fn().write.format("noop").mode("overwrite").save()
    jobs = sorted(set(tracker.getJobIdsForGroup(None)) - j0)
    ntasks = 0
    for jid in jobs:
        ji = tracker.getJobInfo(jid)
        if ji:
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si and si.numCompletedTasks > 0:
                    ntasks += si.numTasks
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in jmap.keySet().toArray():
        jmap.get(rid).unpersist(False)
    spark.catalog.clearCache()
    return len(jobs), ntasks


def _edges(spark):
    return spark.range(0, 4000).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * 13) % 101 + 50).alias("dst"),
    )


def test_gather_join_does_not_reexchange_partitioned_edges(spark):
    e = _edges(spark).repartition("src").persist()
    e.count()
    try:
        vec = spark.range(0, 97).select(
            F.col("id").alias("src"), F.lit(5).cast("long").alias("v")
        ).repartition("src")
        gathered = (
            e.join(vec, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("v").alias("g"))
        )
        plan = gathered._jdf.queryExecution().executedPlan().toString()
        # the edge side must come straight off the cache: no Exchange may
        # sit between the InMemoryTableScan and the join
        scan = plan.find("InMemoryTableScan")
        assert scan != -1
        edge_side = plan[:scan]
        join_pos = max(
            edge_side.rfind("SortMergeJoin"),
            edge_side.rfind("ShuffledHashJoin"),
            edge_side.rfind("BroadcastHashJoin"),
        )
        between = plan[join_pos:scan] if join_pos != -1 else edge_side
        assert not re.search(r"Exchange hashpartitioning\(src", between), plan
    finally:
        e.unpersist()


def _driver_actions(spark, monkeypatch, fn):
    """(action, logical root) of each outermost DataFrame action ``fn``
    runs on the driver; checkpoints are not DataFrame actions."""
    DataFrame = type(spark.range(0))  # the concrete (classic) class
    calls, depth = [], [0]

    def spy(name):
        orig = getattr(DataFrame, name)

        def wrapped(self, *a, **k):
            if depth[0] == 0:
                root = self._jdf.queryExecution().logical().nodeName()
                calls.append((name, root))
            depth[0] += 1
            try:
                return orig(self, *a, **k)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(DataFrame, name, wrapped)

    for name in ("collect", "count", "first", "head", "take"):
        spy(name)
    fn()
    return calls


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _tree(plan):
    """(name, one-line text, output column names, children) of a JVM
    physical plan; cached subplans (an InMemoryTableScan's relation) are
    not children, so they are left out."""
    return (
        plan.nodeName(),
        plan.simpleString(25),
        {a.name() for a in _seq(plan.output())},
        [_tree(c) for c in _seq(plan.children())],
    )


def _exchanges_down(node):
    """Exchanges from ``node`` down to the first join/aggregate/leaf."""
    name, text, _, kids = node
    if "Join" in name or "Aggregate" in name:
        return []
    here = [text] if "Exchange" in name else []
    return here + [x for k in kids for x in _exchanges_down(k)]


def _reads_edges(node):
    """The InMemoryTableScan of a cached edge table (src and dst columns)
    under ``node`` above any join or aggregate, and the texts of the nodes
    on the way down to it."""
    name, text, cols, kids = node
    if name == "InMemoryTableScan" and {"src", "dst"} <= cols:
        return [text]
    if "Join" in name or "Aggregate" in name:
        return []
    for k in kids:
        path = _reads_edges(k)
        if path:
            return [text] + path
    return []


def _gathers(node, up=()):
    """One (exchanges, edge-side path) per gather in the plan: a join with
    a cached edge table as one side.  Its exchanges are those between the
    join and the next join above it (the aggregate on the gather key and
    the hand-off to the next consumer) plus those on either join side
    down to that side's first join or aggregate."""
    name, text, _, kids = node
    found = []
    if "Join" in name:
        edge = [k for k in kids if _reads_edges(k)]
        if edge:
            exch = [t for t in up if "Exchange" in t]
            exch += [x for k in kids for x in _exchanges_down(k)]
            found.append((exch, _reads_edges(edge[0])))
        up = ()
    for k in kids:
        found += _gathers(k, up + (text,))
    return found


def _loop_gathers(spark, monkeypatch, fn):
    """``fn()`` and the gathers of every local checkpoint it takes, read
    off AQE's initial physical plan of each (before its stages run)."""
    DataFrame = type(spark.range(0))  # the concrete (classic) class
    orig, gathers = DataFrame.localCheckpoint, []

    def spy(self, *a, **k):
        plan = self._jdf.queryExecution().executedPlan().initialPlan()
        gathers.extend(_gathers(_tree(plan)))
        return orig(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "localCheckpoint", spy)
        return fn(), gathers


def test_rank_loop_marginal_cost_is_bounded(spark, monkeypatch):
    from sparkplug_spark.operators import (
        hits_integer,
        pagerank_integer,
        pagerank_personalized_integer,
        pagerank_weighted_integer,
    )

    e = _edges(spark)
    seeds = spark.range(0, 97, 7).select(F.col("id").alias("node"))
    we = e.withColumn("weight", F.col("src") % 3 + 1)
    for op, args, j_cap, t_cap, per_step in (
        (hits_integer, (e,), 18, 24, 2),  # measured marginal: 15 / 15
        (pagerank_integer, (e,), 15, 24, 1),  # measured marginal: 12 / 12
        (pagerank_personalized_integer, (e, seeds), 15, 24, 1),  # 12 / 12
        (pagerank_weighted_integer, (we,), 15, 24, 1),  # 12 jobs / 12 tasks
    ):
        gathers = []

        def run3():
            out, found = _loop_gathers(
                spark, monkeypatch, lambda: op(*args, iterations=3)
            )
            gathers.extend(found)
            return out

        j3, t3 = _jobs_tasks(spark, run3)
        j6, t6 = _jobs_tasks(spark, lambda: op(*args, iterations=6))
        assert j6 - j3 <= j_cap, (op.__name__, j3, j6)
        assert t6 - t3 <= t_cap, (op.__name__, t3, t6)
        # the shape behind the caps: every step gathers `per_step` times;
        # each gather reads the edge table straight off its cache (no
        # hash exchange on the edge side) and exchanges exactly twice:
        # once to meet the edge layout (the node vector hashed on the
        # join key, or at this size a broadcast of the smaller side) and
        # once for the aggregate on the gather key
        assert len(gathers) == 3 * per_step, (op.__name__, gathers)
        for exch, edge_side in gathers:
            assert len(exch) == 2, (op.__name__, exch)
            assert not any(
                "Exchange hashpartitioning" in t for t in edge_side
            ), (op.__name__, edge_side)
    # the integer PageRank preflight is ONE aggregate action: every count
    # and headroom fact comes from the same node-sized aggregate
    acts = _driver_actions(
        spark, monkeypatch, lambda: pagerank_integer(e, iterations=1)
    )
    assert acts == [("first", "Aggregate")], acts
