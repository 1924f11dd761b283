"""PageRank power iteration and zlib compressibility signals."""

import zlib

import numpy as np
import pytest

from sparkplug_spark.operators import compression_signals, pagerank


def _numpy_pagerank(edges, damping=0.85, iterations=10):
    """Dense power-iteration twin with uniform dangling redistribution."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = {}
    eset = sorted(set(edges))
    for u, _ in eset:
        deg[u] = deg.get(u, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.zeros(n)
        for u, v in eset:
            nxt[idx[v]] += r[idx[u]] / deg[u]
        dangling = 1.0 - nxt.sum()
        r = (1 - damping) / n + damping * (nxt + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


class TestPageRank:
    def test_two_node_cycle_is_uniform(self, spark):
        out = _run(spark, [(1, 2), (2, 1)])
        assert out[1] == pytest.approx(0.5, abs=1e-12)
        assert out[2] == pytest.approx(0.5, abs=1e-12)

    def test_matches_numpy_twin_with_dangling(self, spark):
        edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (4, 5), (6, 1)]
        # node 6 has no in-links; chain includes a cycle and fan-in
        out = _run(spark, edges, iterations=12)
        want = _numpy_pagerank(edges, iterations=12)
        assert set(out) == set(want)
        for n in want:
            assert out[n] == pytest.approx(want[n], abs=1e-9)

    def test_mass_conserved(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (3, 4)]  # 4 is dangling
        out = _run(spark, edges, iterations=7)
        assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)

    def test_duplicate_edges_collapse(self, spark):
        out_dup = _run(spark, [(1, 2), (1, 2), (2, 1)])
        out = _run(spark, [(1, 2), (2, 1)])
        for n in out:
            assert out_dup[n] == pytest.approx(out[n], abs=1e-12)

    def test_authority_ranks_highest(self, spark):
        # star: everyone links to 1
        out = _run(spark, [(2, 1), (3, 1), (4, 1)])
        assert out[1] == max(out.values())

    def test_guards(self, spark):
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            pagerank(df, damping=1.0)
        with pytest.raises(ValueError):
            pagerank(df, iterations=0)


class TestCompressionSignals:
    def test_matches_direct_zlib(self, spark):
        texts = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
            (3, ""),
            (4, None),
            (5, "納豆と味噌汁"),  # multi-byte utf-8
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        out = {r["doc_id"]: r for r in compression_signals(df).collect()}
        for doc_id, t in texts:
            raw = (t or "").encode("utf-8")
            z = len(zlib.compress(raw, 6))
            r = out[doc_id]
            assert r["n_bytes"] == len(raw)
            assert r["n_bytes_zlib"] == z
            assert r["compress_ppm"] == z * 1_000_000 // max(len(raw), 1)

    def test_redundant_text_compresses_better(self, spark):
        df = spark.createDataFrame(
            [(1, "spam " * 200), (2, "x7Qz9 kLm3p Wv8Rt b2Nc4 jH6fY " * 7)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["compress_ppm"] for r in compression_signals(df).collect()}
        assert out[1] < out[2]

    def test_keeps_input_columns(self, spark):
        df = spark.createDataFrame([(1, "abc", "web")], "doc_id long, text string, source string")
        row = compression_signals(df).collect()[0]
        assert row["source"] == "web"


class TestBfsDistances:
    def _run(self, spark, edges, seeds, **kw):
        from sparkplug_spark.operators import bfs_distances

        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r["node"]: r["distance"]
            for r in bfs_distances(e, s, **kw).collect()
        }

    def test_min_hops_from_any_source(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (10, 3)]
        out = self._run(spark, edges, [1, 10], max_hops=5)
        # 3 is 1 hop from 10 (not 2 hops via 1->2->3)
        assert out == {1: 0, 10: 0, 2: 1, 3: 1, 4: 2}

    def test_max_hops_truncates(self, spark):
        edges = [(1, 2), (2, 3), (3, 4)]
        out = self._run(spark, edges, [1], max_hops=2)
        assert out == {1: 0, 2: 1, 3: 2}

    def test_directed(self, spark):
        edges = [(2, 1)]
        out = self._run(spark, edges, [1], max_hops=3)
        assert out == {1: 0}  # no out-edge from 1

    def test_cycle_terminates_early(self, spark):
        edges = [(1, 2), (2, 1)]
        out = self._run(spark, edges, [1], max_hops=50)
        assert out == {1: 0, 2: 1}

    def test_isolated_source_kept(self, spark):
        out = self._run(spark, [(5, 6)], [99], max_hops=3)
        assert out == {99: 0}

    def test_guard(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            self._run(spark, [(1, 2)], [1], max_hops=-1)


class TestPagerankInteger:
    def test_partitioning_invariant_and_tracks_float(self, spark):
        from sparkplug_spark.operators import pagerank, pagerank_integer

        edges = [(a, b) for a, b in
                 [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (1, 4), (3, 4)]]
        df = spark.createDataFrame(edges, "src long, dst long")
        r1 = {r["node"]: r["rank_nano"]
              for r in pagerank_integer(df, iterations=12).collect()}
        r2 = {r["node"]: r["rank_nano"]
              for r in pagerank_integer(
                  df.repartition(7), iterations=12).collect()}
        assert r1 == r2  # integer sums commute: bit-identical
        fl = {r["node"]: r["rank"]
              for r in pagerank(df, iterations=12).collect()}
        ints = sorted(r1, key=lambda n: r1[n])
        floats = sorted(fl, key=lambda n: fl[n])
        assert ints == floats  # same ordering as the float tier
        for n in r1:  # nano-units track the float rank closely
            assert abs(r1[n] / 1e9 - fl[n] * len(r1)) / (fl[n] * len(r1)) < 0.02

    def test_dangling_mass_redistributed(self, spark):
        from sparkplug_spark.operators import pagerank_integer

        # 3 is a sink: its mass must flow back via the dangling share
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "src long, dst long"
        )
        r = {x["node"]: x["rank_nano"]
             for x in pagerank_integer(df, iterations=20).collect()}
        assert set(r) == {1, 2, 3}
        assert r[3] > r[2] > 0  # sink accumulates, chain orders sensibly
        # total mass stays near 3 units (integer-div remainders only)
        assert abs(sum(r.values()) - 3 * 10**9) < 10**7


class TestPersonalizedPagerank:
    """E231: seeded integer PageRank (teleport to the seed set)."""

    def _twin(self, edges, seeds, iterations=8, d=85, unit=10**9):
        nodes = sorted({v for e in edges for v in e} | set(seeds))
        out = {}
        for s, t in edges:
            out.setdefault(s, []).append(t)
        n, ns = len(nodes), len(seeds)
        seed_total = n * unit
        seed_base = ((100 - d) * seed_total // 100) // ns
        m = {v: (seed_total // ns if v in seeds else 0) for v in nodes}
        for _ in range(iterations):
            inc = {v: 0 for v in nodes}
            dangling = 0
            for v in nodes:
                if v in out:
                    share = m[v] // len(out[v])
                    for t in out[v]:
                        inc[t] += share
                else:
                    dangling += m[v]
            ds = dangling // ns
            m = {
                v: (seed_base if v in seeds else 0)
                + d * (inc[v] + (ds if v in seeds else 0)) // 100
                for v in nodes
            }
        return m

    def test_matches_twin_with_dangling(self, spark):
        from sparkplug_spark.operators import pagerank_personalized_integer

        # directed chain with a dangling sink and an off-seed island
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)]
        seeds = [1, 10]
        e = spark.createDataFrame(edges, "src long, dst long")
        sd = spark.createDataFrame([(s,) for s in seeds], "node long")
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_personalized_integer(e, sd).collect()
        }
        assert got == self._twin(edges, set(seeds))
        # mass concentrates near the seeds, not on the far chain end
        assert got[2] > got[4]

    def test_unreachable_nodes_hold_zero(self, spark):
        from sparkplug_spark.operators import pagerank_personalized_integer

        e = spark.createDataFrame(
            [(1, 2), (5, 6), (6, 5)], "src long, dst long"
        )
        sd = spark.createDataFrame([(1,)], "node long")
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_personalized_integer(e, sd).collect()
        }
        assert got[5] == 0 and got[6] == 0
        assert got[1] > 0 and got[2] > 0

    def test_empty_seeds_rejected(self, spark):
        from sparkplug_spark.operators import pagerank_personalized_integer

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        sd = spark.createDataFrame([], "node long")
        import pytest as _p

        with _p.raises(ValueError, match="seeds"):
            pagerank_personalized_integer(e, sd)


class TestWeightedPagerank:
    """E233: edge-weighted integer PageRank."""

    def _twin(self, wedges, iterations=8, d=85, unit=10**9):
        from collections import defaultdict

        agg = defaultdict(int)
        for s, t, w in wedges:
            agg[(s, t)] += w
        nodes = sorted({v for s, t in agg for v in (s, t)})
        out = defaultdict(list)
        for (s, t), w in agg.items():
            out[s].append((t, w))
        ow = {s: sum(w for _, w in ts) for s, ts in out.items()}
        n = len(nodes)
        base = (100 - d) * unit // 100
        m = {v: unit for v in nodes}
        for _ in range(iterations):
            inc = {v: 0 for v in nodes}
            dangling = 0
            for v in nodes:
                if v in out:
                    for t, w in out[v]:
                        inc[t] += m[v] * w // ow[v]
                else:
                    dangling += m[v]
            ds = dangling // n
            m = {v: base + d * (inc[v] + ds) // 100 for v in nodes}
        return m

    def test_matches_twin_and_weight_bias(self, spark):
        from sparkplug_spark.operators import pagerank_weighted_integer

        # hub 1 sends weight 9 to node 2, weight 1 to node 3
        wedges = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1), (4, 1, 5)]
        e = spark.createDataFrame(wedges, "src long, dst long, weight long")
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_weighted_integer(e).collect()
        }
        assert got == self._twin(wedges)
        # the heavy edge pulls rank: 2 must outrank 3
        assert got[2] > got[3]

    def test_duplicate_edges_sum_and_nonpositive_drop(self, spark):
        from sparkplug_spark.operators import pagerank_weighted_integer

        e = spark.createDataFrame(
            [(1, 2, 3), (1, 2, 4), (2, 1, 1), (1, 3, 0)],
            "src long, dst long, weight long",
        )
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_weighted_integer(e).collect()
        }
        assert got == self._twin([(1, 2, 7), (2, 1, 1)])
        assert 3 not in got  # its only edge had weight 0

    def test_headroom_guard(self, spark):
        from sparkplug_spark.operators import pagerank_weighted_integer

        e = spark.createDataFrame(
            [(1, 2, 10**12), (2, 1, 1)], "src long, dst long, weight long"
        )
        import pytest as _p

        with _p.raises(ValueError, match="headroom"):
            pagerank_weighted_integer(e)
