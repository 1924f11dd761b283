"""Incremental integer-PageRank maintenance (E281): fold_edges store
semantics, warm-start arithmetic vs an independent pure-Python referee,
and the warm-from-uniform == cold equivalence."""

import pytest
from pyspark.sql import functions as F

from sparkplug_spark.operators import (
    fold_edges,
    pagerank_incremental,
    pagerank_integer,
)

UNIT = 10**9
BASE = 150_000_000


def _py_pagerank(edges, init, iterations):
    """Independent referee: dict-based exact integer PR, warm-started."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    inn = {}
    for s, d in edges:
        inn.setdefault(d, []).append(s)
    m = {v: init.get(v, UNIT) for v in nodes}
    for _ in range(iterations):
        dm = sum(m[v] for v in nodes if v not in outdeg)
        ds = dm // n
        m = {
            v: BASE
            + 85 * (sum(m[s] // outdeg[s] for s in inn.get(v, [])) + ds) // 100
            for v in nodes
        }
    return m


class TestFoldEdges:
    def test_initial_build_dedupes_and_null_filters(self, spark):
        raw = spark.createDataFrame(
            [(1, 2), (1, 2), (2, 3), (None, 4), (5, None)],
            "src int, dst int",
        )
        got = {(r["src"], r["dst"]) for r in fold_edges(None, raw).collect()}
        assert got == {(1, 2), (2, 3)}

    def test_fold_keeps_store_and_adds_only_fresh(self, spark):
        store = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
        batch = spark.createDataFrame(
            [(2, 3), (3, 4), (3, 4)], "src int, dst int"
        )
        got = {
            (r["src"], r["dst"])
            for r in fold_edges(store, batch).collect()
        }
        assert got == {(1, 2), (2, 3), (3, 4)}


class TestWarmStart:
    EDGES_1 = [(1, 2), (2, 3), (3, 1), (1, 4)]  # 4 dangles
    EDGES_2 = [(4, 5), (5, 1), (2, 3)]  # (2,3) dup vs store; 5 is new

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "src long, dst long")

    def test_incremental_matches_python_referee(self, spark):
        store = fold_edges(None, self._df(spark, self.EDGES_1)).persist()
        r1 = pagerank_integer(store, iterations=6, assume_canonical=True)
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_incremental(
                r1, store, self._df(spark, self.EDGES_2), iterations=3
            ).collect()
        }
        init = _py_pagerank(self.EDGES_1, {}, 6)
        merged = sorted(set(self.EDGES_1) | set(self.EDGES_2))
        want = _py_pagerank(merged, init, 3)
        assert got == want
        # the brand-new node 5 was seeded at UNIT, not dropped
        assert 5 in got

    def test_warm_from_uniform_equals_cold(self, spark):
        edges = self._df(spark, self.EDGES_1)
        store = fold_edges(None, edges).persist()
        nodes = store.select(F.col("src").alias("node")).union(
            store.select(F.col("dst").alias("node"))
        ).distinct()
        uniform = nodes.withColumn(
            "rank_nano", F.lit(UNIT).cast("long")
        )
        cold = {
            r["node"]: r["rank_nano"]
            for r in pagerank_integer(
                store, iterations=4, assume_canonical=True
            ).collect()
        }
        warm = {
            r["node"]: r["rank_nano"]
            for r in pagerank_integer(
                store,
                iterations=4,
                assume_canonical=True,
                init_ranks=uniform,
            ).collect()
        }
        assert cold == warm

    def test_warm_start_with_dangling_nodes(self, spark):
        # the init vector covers one dangling node (4) and leaves the other
        # (6) and a live node (5) at UNIT, so the initial dangling mass
        # mixes stored ranks and default shares
        edges = [(1, 2), (2, 3), (3, 1), (1, 4), (5, 1), (2, 6)]
        init = {1: 3 * UNIT, 2: UNIT // 2, 3: 7, 4: 2 * UNIT}
        init_df = spark.createDataFrame(
            list(init.items()), "node long, rank_nano long"
        )
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_integer(
                self._df(spark, edges), iterations=3, init_ranks=init_df
            ).collect()
        }
        assert got == _py_pagerank(edges, init, 3)

    def test_hits_incremental_matches_python_referee(self, spark):
        from sparkplug_spark.operators import hits_incremental, hits_integer

        UNIT_H = 10**6

        def py_hits(edges, init, iterations):
            nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
            n = len(nodes)
            inn, out = {}, {}
            for s, d in edges:
                inn.setdefault(d, []).append(s)
                out.setdefault(s, []).append(d)
            if init is None:
                h = {v: UNIT_H // n for v in nodes}
            else:
                h = {v: init.get(v, UNIT_H // n) for v in nodes}
                tot = max(sum(h.values()), 1)
                h = {v: x * UNIT_H // tot for v, x in h.items()}
            a = {}
            for _ in range(iterations):
                a = {
                    v: sum(h[u] for u in inn.get(v, [])) for v in nodes
                }
                hraw = {
                    v: sum(a[d] for d in out.get(v, [])) for v in nodes
                }
                tot = max(sum(hraw.values()), 1)
                h = {v: x * UNIT_H // tot for v, x in hraw.items()}
            atot = max(sum(a.values()), 1)
            a = {v: x * UNIT_H // atot for v, x in a.items()}
            return h, a

        e1 = [(1, 10), (2, 10), (2, 11), (3, 11), (3, 12)]
        e2 = [(4, 12), (4, 13), (1, 11), (2, 10)]  # (2,10) dup; 4,13 new
        store = fold_edges(None, self._df(spark, e1)).persist()
        h1 = hits_integer(store, iterations=5, assume_canonical=True)
        got = {
            r["node"]: (r["hub_units"], r["auth_units"])
            for r in hits_incremental(
                h1.select("node", "hub_units"),
                store,
                self._df(spark, e2),
                iterations=2,
            ).collect()
        }
        init_h, _ = py_hits(e1, None, 5)
        merged = sorted(set(e1) | set(e2))
        want_h, want_a = py_hits(merged, init_h, 2)
        assert got == {v: (want_h[v], want_a[v]) for v in want_h}
        assert 13 in got  # brand-new node seeded and scored

    def test_no_dangling_path(self, spark):
        # symmetrized graph: every node has out-edges; warm start with a
        # skewed init still matches the referee
        edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
        store = fold_edges(None, self._df(spark, edges)).persist()
        init_df = spark.createDataFrame(
            [(1, 3 * UNIT), (2, UNIT // 2)], "node long, rank_nano long"
        )
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_integer(
                store,
                iterations=3,
                assume_canonical=True,
                init_ranks=init_df,
            ).collect()
        }
        want = _py_pagerank(edges, {1: 3 * UNIT, 2: UNIT // 2}, 3)
        assert got == want
