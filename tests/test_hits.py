"""E146 HITS hubs/authorities: dense NumPy twin, bipartite semantics,
normalization, empty graph."""

import numpy as np
import pytest

from sparkplug_spark.operators import hits


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _numpy_hits(pairs, iterations):
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in set(pairs):
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(nodes))
    for _ in range(iterations):
        a = A.T @ h
        h = A @ a
    a = a / np.linalg.norm(a)
    h = h / np.linalg.norm(h)
    return nodes, h, a


class TestHits:
    def test_numpy_twin(self, spark):
        rng = np.random.default_rng(5)
        pairs = [
            (int(s), int(d))
            for s, d in rng.integers(0, 30, size=(120, 2))
            if s != d
        ]
        rows = {r["node"]: r for r in hits(_edges(spark, pairs), iterations=8).collect()}
        nodes, h, a = _numpy_hits(pairs, 8)
        assert set(rows) == set(nodes)
        for n, i in zip(nodes, range(len(nodes))):
            assert rows[n]["hub"] == pytest.approx(h[i], abs=1e-9)
            assert rows[n]["authority"] == pytest.approx(a[i], abs=1e-9)

    def test_bipartite_hub_authority_split(self, spark):
        # 1,2 point at 10,11 -> 1,2 pure hubs; 10,11 pure authorities
        pairs = [(1, 10), (1, 11), (2, 10)]
        rows = {r["node"]: r for r in hits(_edges(spark, pairs), iterations=5).collect()}
        assert rows[1]["authority"] == 0.0 and rows[2]["authority"] == 0.0
        assert rows[10]["hub"] == 0.0 and rows[11]["hub"] == 0.0
        # node 1 points at both authorities -> stronger hub than node 2
        assert rows[1]["hub"] > rows[2]["hub"]
        # node 10 has two hubs pointing in -> stronger authority
        assert rows[10]["authority"] > rows[11]["authority"]

    def test_l2_normalized(self, spark):
        pairs = [(1, 2), (2, 3), (3, 1), (1, 3)]
        rows = hits(_edges(spark, pairs), iterations=6).collect()
        h2 = sum(r["hub"] ** 2 for r in rows)
        a2 = sum(r["authority"] ** 2 for r in rows)
        assert h2 == pytest.approx(1.0, abs=1e-12)
        assert a2 == pytest.approx(1.0, abs=1e-12)

    def test_cadence_invariant(self, spark, monkeypatch):
        from sparkplug_spark.operators import graphs

        pairs = [(i, (i * 3) % 7) for i in range(7)] + [(0, 5), (2, 6)]
        e = _edges(spark, pairs)

        def run(every):
            monkeypatch.setattr(graphs, "_HITS_CHECKPOINT_EVERY", every)
            return {r["node"]: r for r in hits(e, iterations=6).collect()}

        r1, r3 = run(1), run(3)
        for n in r1:
            assert r1[n]["hub"] == pytest.approx(r3[n]["hub"], abs=1e-12)
            assert r1[n]["authority"] == pytest.approx(r3[n]["authority"], abs=1e-12)

    def test_empty_graph(self, spark):
        assert hits(_edges(spark, []), iterations=3).count() == 0

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            hits(_edges(spark, [(1, 2)]), iterations=0)


class TestHitsInteger:
    def test_warm_start_rejects_a_negative_stored_hub(self, spark):
        from sparkplug_spark.operators import hits_incremental, hits_integer

        e = _edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
        hubs = spark.createDataFrame(
            [(1, 400000), (2, -1), (3, 300000)], "node long, hub_units long"
        )
        registry = spark.sparkContext._jsc.getPersistentRDDs
        before = set(registry().keySet().toArray())
        with pytest.raises(ValueError, match="negative hub_units"):
            hits_integer(e, iterations=2, init_hubs=hubs)
        with pytest.raises(ValueError, match="negative hub_units"):
            hits_incremental(hubs, e, _edges(spark, [(3, 2)]), iterations=2)
        # the working set is released before raising
        assert set(registry().keySet().toArray()) - before == set()

    def test_partition_invariant_and_tracks_float_ranking(self, spark):
        from sparkplug_spark.operators import hits, hits_integer

        edges = [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12)]
        df = spark.createDataFrame(edges, "src long, dst long")
        r1 = {r["node"]: (r["hub_units"], r["auth_units"])
              for r in hits_integer(df, iterations=10).collect()}
        r2 = {r["node"]: (r["hub_units"], r["auth_units"])
              for r in hits_integer(df.repartition(5), iterations=10).collect()}
        assert r1 == r2  # bit-identical under repartition
        fl = {r["node"]: (r["hub"], r["authority"])
              for r in hits(df, iterations=10).collect()}
        # L1 and L2 normalizations share the fixpoint DIRECTION: the
        # hub/authority orderings must agree
        ints_h = sorted(r1, key=lambda n: (r1[n][0], n))
        fl_h = sorted(fl, key=lambda n: (fl[n][0], n))
        assert ints_h == fl_h
        ints_a = sorted(r1, key=lambda n: (r1[n][1], n))
        fl_a = sorted(fl, key=lambda n: (fl[n][1], n))
        assert ints_a == fl_a
        # L1 totals hold up to integer-division remainders
        assert abs(sum(v[0] for v in r1.values()) - 10**6) < 100
        assert abs(sum(v[1] for v in r1.values()) - 10**6) < 100

    def test_headroom_guards(self, spark):
        # r5 ADVICE: iteration-1 raw hubs peaked at outdeg_max*indeg_max*
        # unit before the initial L1 normalization; the preflight now
        # enforces outdeg_max*unit^2 < 2^63 and unit > n_nodes loudly
        # instead of letting Spark's non-ANSI multiply wrap silently.
        from sparkplug_spark.operators import hits_integer

        df = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="must exceed the node count"):
            hits_integer(df, iterations=2, unit=4)
        with pytest.raises(ValueError, match="int64 headroom"):
            hits_integer(df, iterations=2, unit=10**10)

    def test_pagerank_integer_headroom_guard(self, spark):
        from sparkplug_spark.operators import pagerank_integer

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="int64 headroom"):
            pagerank_integer(df, iterations=2, unit=2**61)
