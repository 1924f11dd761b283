"""Graph operators over directed edge lists: ranking (float and exact
integer PageRank, personalized and weighted PageRank, float and integer
HITS, with warm-start incremental tiers), reach (multi-source BFS, the
bow-tie report), structure (strongly connected components, k-core
coreness, triangle counts) and communities (label propagation).  The
undirected connected-components tiers live in ``groups.py``.

Scale plan shared by the family: every directed operator builds ONE
:class:`_EdgeTable` per call.  It canonicalizes the edge list once
(endpoints projected to (src, dst), null endpoints dropped, duplicate
pairs collapsed, or summed into a positive BIGINT ``w`` for the
weighted tier) and counts it without a ``count()`` job: the count rides
the table's first materialization as an ``observe`` metric, or comes
from the preflight aggregate the operator runs anyway.  It hands out
the table hash-partitioned on each gather key (by src, by dst, reversed
by src), each layout persisted once on first use, so an iteration
re-exchanges only node-sized vectors against a STABLE edge layout, and
it owns the loop's shuffle scope: an edge-count-derived partition
count (:func:`~..partitioning.loop_partitions`), since a cached layout
pins every join that reads it and AQE alone cannot coalesce them; a
no-op at production scale.  It frees exactly the blocks and caches it created: a plan the
caller has already cached is read as it is and never released.
:func:`label_propagation` builds its table over the symmetrized edge
list, the one undirected user.  Out of scope: :func:`coreness` and
:func:`triangle_counts` keep their own ``min < max`` undirected
canonicalization, and :func:`hits_incremental` builds a table per phase
(sharing one across the cold and warm calls would need a public
handle).

Every iterative loop except the BFS frontier, the SCC outer peel and
:func:`hits_integer` runs through :func:`~..caching.fixpoint`: chained
lazy steps, one checkpoint per round with its scalar feed (dangling
mass, norms, change counts) riding that action as ``observe`` metrics,
and round N-1's blocks freed once round N has landed — without which 20
iterations of lazy lineage would both blow up the plan and leak 20
generations of blocks.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..caching import (
    checkpoint_tracked,
    fixpoint,
    materialize_release,
    unpersist_ids,
)
from ..partitioning import loop_partitions, shuffle_scope

#: min-propagation sub-steps chained per checkpoint in the SCC peeler's
#: inner fixpoint.  Soundness is chain-length-independent (monotone fold:
#: zero changes in the LAST chained sub-step certifies F(x)=x, and extra
#: sub-steps past the fixpoint recompute identical labels), so the knob
#: trades wasted node-sized exchanges past the fixpoint for fewer
#: checkpoint actions.  Measured (sf0.1, min-of-3 interleaved, noop):
#: chain=2 7.39 s / 139 jobs, chain=4 10.42 s / 143 jobs, chain=6
#: 11.38 s / 115 jobs — each peel round's fixpoint converges in ~2-3
#: sub-steps, so longer chains mostly re-propagate already-stable labels
#: through the full edge set and LOSE despite fewer jobs.  2 is the
#: sweet spot; left as a named constant with the evidence so the next
#: tuner doesn't re-derive it.
_SCC_CHAIN = 2

#: Rank-loop iteration chaining was MEASURED AND REJECTED in r11
#: (tools/chain_ab.py, bit-identical outputs at every depth): letting
#: 2-4 HITS/PageRank iterations share one checkpoint, with the
#: per-iteration scalar (L1 total / dangling mass) entering as a
#: broadcast 1-row subquery, LOST or tied at every depth — AQE does not
#: stage-cache-reuse the subquery's subtree against the main chain, so
#: each inner step re-executed its edge joins (hits_exact jobs
#: 70→86→116 at depth 1/2/3; pagerank_incremental wall 11.1→12.6→15.9s).
#: A node-sized identity for the HITS total (Σ hraw_i = Σ hub_{i-1}·W,
#: W(s)=Σ_{d∈out(s)} indeg(d)) fixed the re-execution but still only
#: tied (10.6 vs 11.3/10.4s; jobs 70→78→97): the saved driver round
#: trip ≈ the added subquery materialization, and iteration-count
#: probes show the per-iteration marginal cost is ~0.27 s against a
#: multi-second setup floor — the loop was never the bottleneck at
#: sf0.1, and at scale the W build is an edge-sized pass traded for
#: node-sized checkpoint writes, a net loss.  Both loops therefore keep
#: ONE eager checkpoint per iteration wherever a scalar must feed
#: forward (dangling mass / L1 total) and lazy chaining where none
#: does (`_RANK_CHECKPOINT_EVERY` in both PageRank tiers,
#: `_HITS_CHECKPOINT_EVERY` in the float HITS tier).

#: lazy rank steps chained per checkpoint by the float and integer
#: PageRank tiers when no node dangles (dangling mass forces one eager
#: checkpoint per step: see :func:`_rank_nano`)
_RANK_CHECKPOINT_EVERY = 3

#: un-normalized float HITS iterations chained per checkpoint (the
#: norms that rescale the state ride each checkpoint as metrics)
_HITS_CHECKPOINT_EVERY = 2

__all__ = [
    "pagerank",
    "pagerank_integer",
    "bfs_distances",
    "triangle_counts",
    "coreness",
    "hits",
    "hits_integer",
    "hits_incremental",
    "strongly_connected_components",
    "bow_tie_report",
    "label_propagation",
    "pagerank_personalized_integer",
    "pagerank_weighted_integer",
]


def _canonical_edges(
    edges: DataFrame, src_col: str, dst_col: str, weight_col: str | None = None
) -> DataFrame:
    """(src, dst) projection of ``edges`` with null endpoints dropped and
    duplicate pairs collapsed: the canonical form of :class:`_EdgeTable`
    and of the :func:`fold_edges` store.  With ``weight_col``, a BIGINT
    ``w`` column too: non-positive weights are dropped and duplicate
    pairs sum theirs."""
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("w"))
    e = edges.select(*cols).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if weight_col is None:
        return e.dropDuplicates(["src", "dst"])
    return (
        e.where(F.col("w") > 0).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    )


class _EdgeTable:
    """The canonical edge table of one directed-operator call, and the
    owner of what that call caches.

    Built once from ``(edges, src_col, dst_col)`` through
    :func:`_canonical_edges` (``weight_col`` adds the summed ``w``), or
    taken as it is from a caller's canonical store
    (``assume_canonical=True``).  ``count=True`` checkpoints the table at
    once, the edge count :attr:`n` riding that action as an ``observe``
    metric; otherwise the table is persisted lazily and the operator sets
    :attr:`n` from the aggregate it runs anyway.  :meth:`scope` is the
    loop's shuffle scope; :meth:`layout` is the table hash-partitioned on
    a gather key, persisted on first use inside that scope (a checkpoint
    would be one more eager job per layout, and a persisted layout's
    partitioning is read straight off its cache by every gather join).

    :meth:`persist` skips a plan that is already cached, so a caller's
    cache is read but never owned; :meth:`release` (or leaving a
    ``with`` block) frees exactly what the table persisted or
    checkpointed."""

    def __init__(
        self,
        edges: DataFrame,
        src_col: str = "src",
        dst_col: str = "dst",
        *,
        assume_canonical: bool = False,
        weight_col: str | None = None,
        count: bool = False,
    ):
        self.spark = edges.sparkSession
        self._cached: list[DataFrame] = []
        self._ids: set[int] = set()
        self._layouts: dict[str, DataFrame] = {}
        self.n: int | None = None
        if assume_canonical:
            e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        else:
            e = _canonical_edges(edges, src_col, dst_col, weight_col)
        if count:
            obs = Observation()
            e, self._ids = checkpoint_tracked(
                e.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            self.n = int(obs.get["n"])
        self.edges = e if count else self.persist(e)

    def persist(self, df: DataFrame) -> DataFrame:
        """``df`` persisted and owned, unless its plan is already cached."""
        if df.storageLevel == StorageLevel.NONE:
            df = df.persist()
            self._cached.append(df)
        return df

    def scope(self):
        return shuffle_scope(self.spark, loop_partitions(self.spark, self.n))

    def layout(self, key: str) -> DataFrame:
        """The table hash-partitioned on ``key``: ``"src"``, ``"dst"``, or
        ``"rev"`` (reversed, so an in-edge gather reads it on src)."""
        if key not in self._layouts:
            e, on = self.edges, key
            if key == "rev":
                e, on = e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ), "src"
            self._layouts[key] = self.persist(e.repartition(on))
        return self._layouts[key]

    def nodes(self) -> DataFrame:
        """The distinct endpoints, as (node)."""
        e = self.edges
        return (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )

    def empty(self, ddl: str) -> DataFrame:
        """An empty result of schema ``ddl``, with ``{node}`` standing for
        the endpoint type; no block backs it."""
        node = self.edges.schema["src"].dataType.simpleString()
        return self.spark.createDataFrame([], ddl.format(node=node))

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        unpersist_ids(self.spark, self._ids)
        self._cached, self._ids, self._layouts = [], set(), {}

    def __enter__(self) -> _EdgeTable:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    tol: float | None = None,
) -> DataFrame:
    """PageRank over a directed edge list; returns (node, rank) with
    ranks summing to 1 over the graph's nodes (union of endpoints).

    Semantics: the classic damped power iteration —

        rank(v) = (1-d)/N + d · (Σ_{u→v} rank(u)/deg(u)  +  dangling/N)

    where ``dangling`` is the total rank mass sitting on nodes without
    out-edges, redistributed uniformly (mass conservation: ranks sum to 1
    after every iteration, up to float associativity).  Duplicate edges
    are collapsed; self-loops count like any edge.

    Rank values are IEEE doubles whose partition-order summation makes
    the last ulps run-dependent — this operator is therefore rows-only
    territory for cross-engine checks; tests pin small graphs against a
    dense NumPy power-iteration twin at 1e-9.

    Iteration cost: ONE eager action (the rank checkpoint).  The
    dangling-mass scalar and the L1 step delta both ride that action as
    ``observe`` metrics over the stepped ranks — dangling nodes carry a
    static per-node flag, so next iteration's mass is a driver-side
    float, not a broadcast subquery over the contributions (which had
    forced a second consumer of the edge join and a persist/unpersist
    cycle per iteration).

    Checkpoint cadence: when the graph has dangling nodes, every
    iteration must run eagerly (the next step's plan needs this step's
    observed mass as a literal).  When it has none — every symmetrized /
    co-occurrence graph — the mass is identically zero, iterations are
    pure lazy transformations, and ``_RANK_CHECKPOINT_EVERY`` steps chain
    into one action (lineage stays bounded by the cadence; blocks of
    round N-1 free at each checkpoint).  At bench scale the action launch
    IS the iteration cost, so the cadence is a direct wall-clock divisor.

    ``tol``: optional convergence early exit — stop once the L1 delta
    Σ|rank_i - rank_{i-1}| drops below it (power iteration contracts
    geometrically at rate ~damping, so late iterations mostly re-buy the
    same digits; at 100 TB each saved iteration is a full edge-join
    shuffle).  ``iterations`` remains the hard upper bound."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if tol is not None and tol <= 0.0:
        raise ValueError("tol must be positive")
    with _EdgeTable(edges, src_col, dst_col, count=True) as t, t.scope():
        if t.n == 0:
            return t.empty("node {node}, rank double")
        e, nodes = t.edges, t.nodes()
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        # weight each edge once; partition by src so every iteration's
        # rank join lands on a stable edge partitioning
        weighted = t.persist(
            e.join(deg, "src")
            .select(
                "src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w")
            )
            .repartition("src")
        )
        n_df = nodes.select(F.count(F.lit(1)).cast("long").alias("__n"))
        # static dangling flag: a node with no out-edges keeps its mass,
        # which next iteration redistributes uniformly.  Flagging nodes
        # once lets each checkpoint action ALSO observe the mass for the
        # next step.
        base = (
            nodes.join(
                deg.select(F.col("src").alias("node"), "__deg"),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (F.lit(1.0) / F.col("__n")).alias("rank"),
                "__n",
                F.col("__deg").isNull().alias("__dang"),
            )
        )
        dm = F.sum(F.when(F.col("__dang"), F.col("rank"))).alias("dm")
        obs0 = Observation()
        ranks, base_ids = checkpoint_tracked(base.observe(obs0, dm))
        m0 = obs0.get
        d = float(damping)

        def step(r: DataFrame, m: dict | None) -> DataFrame:
            # a chained step (m is None) runs only when nothing dangles
            mass = float(m["dm"] or 0.0) if m else 0.0
            contribs = (
                weighted.join(
                    r.select(F.col("node").alias("src"), "rank"), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("__w")).alias("__in"))
            )
            return r.join(contribs, "node", "left").select(
                "node",
                (
                    (1.0 - d) / F.col("__n")
                    + d
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.lit(mass) / F.col("__n")
                    )
                ).alias("rank"),
                F.col("rank").alias("__prev"),
                "__n",
                "__dang",
            )

        ranks, _, _, _ = fixpoint(
            ranks,
            step,
            iterations,
            chain=_RANK_CHECKPOINT_EVERY if not m0["dm"] else 1,
            # the delta of a chain's LAST sub-step: a per-checkpoint
            # convergence probe (the tightest of the chained steps)
            observe=[
                dm,
                F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("l1"),
            ],
            stop=None
            if tol is None
            else lambda m, *_: float(m["l1"] or 0.0) < tol,
            ids=base_ids,
            metrics=m0,
        )
        return ranks.select("node", "rank")


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop count from ANY source node to every
    reachable node within ``max_hops`` — the influence-radius /
    blast-impact query ("everything within k links of these seeds") that
    pairs with :func:`pagerank`'s global importance.

    Output: (node, distance BIGINT), distance 0 for the sources
    themselves.  Hop counts are INTEGER-exact, so unlike PageRank this
    iterative operator is fully oracle-checkable (a recursive SQL CTE
    reproduces it bit-for-bit).

    Plan: classic frontier iteration — join the (shrinking) frontier to
    the edge table's src layout, anti-join out nodes already visited,
    checkpoint the new frontier.  Each round shuffles
    only frontier-sized data.  ONE action per hop: the new frontier's
    checkpoint, with its row count riding the materialization as an
    ``observe`` metric (the early-exit probe); the visited set is the
    lazy union of the per-hop frontier checkpoints — re-materializing it
    per hop bought nothing (the anti-join reads the ≤max_hops pieces
    directly), and those pieces back the returned DataFrame, so unlike
    the other loops this one frees no round."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    with _EdgeTable(edges, src_col, dst_col, count=True) as t:
        sources = sources.select(F.col(node_col).alias("node"))
        return _bfs(t, "src", sources, max_hops)[0]


def _bfs(
    t: _EdgeTable, key: str, sources: DataFrame, max_hops: int
) -> tuple[DataFrame, set[int]]:
    """The frontier loop of :func:`bfs_distances` over the ``key`` layout
    of ``t`` (``"src"`` walks forward, ``"rev"`` backward) from
    ``sources`` (node); returns (node, distance) and the ids of the
    frontier blocks backing it, which the caller frees once it has
    materialized what it built on them."""
    with t.scope():
        e = t.layout(key)
        # the visited set is the union of the per-hop frontier pieces;
        # every piece's checkpoint blocks back the returned DataFrame and
        # stay persisted (a local checkpoint is the blocks' only copy)
        visited, ids, frontier = None, set(), sources.distinct()
        for hop in range(max_hops + 1):
            if hop:
                frontier = (
                    e.join(frontier.withColumnRenamed("node", "src"), "src")
                    .select(F.col("dst").alias("node"))
                    .distinct()
                    .join(visited.select("node"), "node", "left_anti")
                )
            obs = Observation()
            frontier, f_ids = checkpoint_tracked(
                frontier.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if not obs.get["n"]:
                # an empty frontier backs nothing
                unpersist_ids(t.spark, f_ids)
                break
            ids |= f_ids
            piece = frontier.withColumn("distance", F.lit(hop).cast("long"))
            visited = piece if visited is None else visited.unionByName(piece)
        if visited is None:
            visited = t.spark.createDataFrame([], sources.schema).withColumn(
                "distance", F.lit(0).cast("long")
            )
        return visited, ids


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    release: bool = True,
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient over
    an undirected graph — the classic cohesion/community signal (and spam
    detector: link farms have pathological triangle density) that
    completes the graph family next to CC (:mod:`groups`), PageRank, and
    BFS reach.

    Input edges may be directed/duplicated either way; they are
    canonicalized (``min < max``, distinct, self-loops dropped) first.
    Output per node: (item, degree, triangles, clustering_ppm) where
    clustering_ppm = ``2·T·10⁶ div (d·(d-1))`` — exact truncating integer
    ppm of the closed-wedge ratio, no float division anywhere.

    Scale plan (the Suri–Vassilvitskii / Cohen MapReduce orientation
    trick): every canonical edge is ORIENTED from its lower-(degree, id)
    endpoint to its higher one, so wedge generation fans out from each
    node's out-neighborhood only — out-degree is bounded by O(sqrt(m))
    regardless of how big a hub's real degree is, which is exactly what
    kills the naive plan on power-law graphs at 100 TB.  One self-join on
    the apex makes wedges, one equi-join against the oriented edge list
    closes them; every triangle is found exactly once (its corners appear
    in rank order).  The oriented edge list is persisted and shared by
    both joins, released on return."""
    # e feeds the degree union (twice) AND the orientation join; deg
    # feeds both orientation sides AND the output join — un-persisted,
    # each consumer re-ran the upstream edge build and the distinct
    # shuffle (the fan-out-intermediates invariant)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("__db"))
    # orient toward the higher (degree, id) rank; ties impossible on id
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("__db")).otherwise(F.col("__da")).alias(
                "__dv"
            ),
        )
        .persist()
    )
    w1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("__dv").alias("__dx")
    )
    w2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("__dv").alias("__dy")
    )
    wedges = w1.join(w2, "u").filter(
        (F.col("__dx") < F.col("__dy"))
        | ((F.col("__dx") == F.col("__dy")) & (F.col("x") < F.col("y")))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
    )
    tri = (
        closed.select(
            F.explode(F.array(F.col("u"), F.col("x"), F.col("y"))).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = (
        deg.join(tri, "n", "left")
        .select(
            F.col("n").alias("item"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias(
                "triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "(2 * coalesce(triangles, 0) * 1000000)"
                    " div (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_ppm"),
        )
    )
    return materialize_release(out, e, deg, oriented, release=release)


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """k-core decomposition — each node's CORE NUMBER (the largest k such
    that the node survives in the subgraph where everyone keeps ≥ k
    neighbors).  The classic density/robustness peel: spam rings and
    bot farms concentrate in abnormally high cores, long-tail content in
    low ones; next to triangles (local cohesion) this gives the GLOBAL
    cohesion hierarchy.

    Algorithm: iterated h-index propagation (Lü et al., Nature Comms
    2016): start from ``c(v) = degree(v)`` and repeatedly replace each
    value with the h-index of its neighbors' values (largest h with ≥ h
    neighbors scoring ≥ h); the fixed point IS the coreness — a
    node-local monotone iteration that needs no sequential peeling, so
    it distributes.  Values only decrease, so convergence is detected
    exactly (no changed rows) and the answer is deterministic and
    partitioning-independent: rows-only territory only because DuckDB
    has no iterative twin; tests pin small graphs against an
    exact-peeling Python twin.

    Returns (item, degree, core).

    Scale shape: edges canonicalized once into a persisted symmetric
    adjacency (8-byte pairs); each iteration is one join (neighbor
    values), one per-node rank window (h-index = max min(value, rank) —
    no arrays collected, a hub's window is just its own partition), and
    one changed-count aggregate that doubles as the convergence test.
    Core tables checkpoint every round (:func:`~..caching.fixpoint`),
    releasing the previous generation."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    n_edges = e.count()
    if n_edges == 0:
        e.unpersist()
        item = e.schema["a"].dataType.simpleString()
        return spark.createDataFrame(
            [], f"item {item}, degree bigint, core bigint"
        )
    with shuffle_scope(spark, loop_partitions(spark, 2 * n_edges)):
        # symmetric adjacency partitioned on u — the key every round's
        # neighbor join uses (unpartitioned, the full adjacency
        # re-exchanged per round); count derived from the working set
        adj = (
            e.select(F.col("a").alias("v"), F.col("b").alias("u"))
            .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("u")))
            .repartition("u")
            .persist()
        )
        deg = adj.groupBy("v").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        cores, ids = checkpoint_tracked(
            deg.select("v", F.col("deg").alias("c"))
        )
        degrees = deg.persist()
        degrees.count()
        e.unpersist()
        w = Window.partitionBy("v").orderBy(F.desc("cu"))

        def step(cores: DataFrame, _) -> DataFrame:
            nbr = adj.join(
                cores.withColumnsRenamed({"v": "u", "c": "cu"}), "u"
            ).select("v", "cu")
            h = (
                nbr.withColumn("r", F.row_number().over(w))
                .groupBy("v")
                .agg(F.max(F.least(F.col("cu"), F.col("r"))).alias("h"))
            )
            # carry the previous value so the convergence count rides
            # the checkpoint — no separate nxt-vs-cores join+count job
            return cores.join(h, "v", "left").select(
                "v",
                F.col("c").alias("__old"),
                F.least(F.col("c"), F.coalesce(F.col("h"), F.lit(0))).alias(
                    "c"
                ),
            )

        cores, ids, _, _ = fixpoint(
            cores,
            step,
            max_iterations,
            observe=[
                F.sum(
                    F.when(F.col("c") != F.col("__old"), 1).otherwise(0)
                ).alias("chg")
            ],
            stop=lambda m, *_: int(m["chg"] or 0) == 0,
            ids=ids,
        )
        out = degrees.join(cores, "v").select(
            F.col("v").alias("item"),
            F.col("deg").alias("degree"),
            F.col("c").alias("core"),
        )
        done = materialize_release(out, adj, degrees)
        # under the release kill-switch `out` stays lazy over the cores
        if done is not out:
            unpersist_ids(spark, ids)
        return done


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over a directed
    edge list: (node, hub, authority), both vectors L2-normalized.  The
    natural bipartite ranking :func:`pagerank` can't express — "good
    hubs point at good authorities" (customers ↔ products, crawl seeds
    ↔ content pages): per iteration ``auth = Aᵀ·hub`` then ``hub =
    A·auth`` (authorities first, from the CURRENT hubs — the standard
    update order).

    HITS is scale-invariant, so normalization is deferred to checkpoint
    boundaries: each cadence chain runs un-normalized (growth over
    ``_HITS_CHECKPOINT_EVERY`` chained steps is bounded by λ₁^(2k) ≪
    double range), then the observed Σhub²/Σauth² scale the checkpointed
    state as literals — no extra action per iteration.

    Like PageRank, scores are IEEE doubles with run-dependent last ulps
    — rows-only territory; tests pin small graphs to a dense NumPy twin
    at 1e-9.

    Plan per iteration: two partition-aligned shuffles (the edge table's
    src layout for the authority gather, its dst layout for the hub
    gather); the per-iteration authority table is persisted for its two
    consumers and released once the checkpoint that read it has landed;
    lineage stays bounded by the cadence."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with _EdgeTable(edges, src_col, dst_col, count=True) as t, t.scope():
        if t.n == 0:
            return t.empty("node {node}, hub double, authority double")
        e_src, e_dst = t.layout("src"), t.layout("dst")
        state = t.nodes().select(
            "node", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
        )
        pending: list[DataFrame] = []

        def scaled(st: DataFrame, m: dict) -> DataFrame:
            an = float(m["a2"] or 0.0) ** 0.5 or 1.0
            hn = float(m["h2"] or 0.0) ** 0.5 or 1.0
            return st.select(
                "node",
                (F.col("auth") / F.lit(an)).alias("auth"),
                (F.col("hub") / F.lit(hn)).alias("hub"),
            )

        def step(st: DataFrame, m: dict | None) -> DataFrame:
            if m is not None:
                # first step after a checkpoint: rescale it, and drop the
                # authority tables that checkpoint has consumed
                st = scaled(st, m)
                for c in pending:
                    c.unpersist()
                pending.clear()
            a = (
                e_src.join(st.select(F.col("node").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("auth"))
                .persist()
            )
            pending.append(a)
            h = (
                e_dst.join(a.select(F.col("node").alias("dst"), "auth"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").alias("hub"))
            )
            # full outer: only-out-edge nodes miss from a, only-in-edge
            # nodes miss from h; together they cover every node
            return a.join(h, "node", "full").select(
                "node",
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
            )

        state, _, m, _ = fixpoint(
            state,
            step,
            iterations,
            chain=_HITS_CHECKPOINT_EVERY,
            observe=[
                F.sum(F.col("auth") * F.col("auth")).alias("a2"),
                F.sum(F.col("hub") * F.col("hub")).alias("h2"),
            ],
        )
        for c in pending:
            c.unpersist()
        return scaled(state, m).select(
            "node", "hub", F.col("auth").alias("authority")
        )


def _rank_nano(
    t: _EdgeTable,
    iterations: int,
    damping_pct: int,
    unit: int,
    seeds: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """The one integer PageRank loop behind :func:`pagerank_integer`,
    :func:`pagerank_personalized_integer` and
    :func:`pagerank_weighted_integer`.

    ``t`` is a lazily persisted edge table with an optional column ``w``
    of positive BIGINT weights (absent: every weight is 1);
    ``seeds`` (node) receives the teleport and dangling mass, and
    ``None`` makes every node a seed.  Two exact integer identities let
    the three tiers share this loop without a branch:

    - plain = personalized with every node a seed:
      ``floor(floor((100-d)·n·unit/100)/n) == floor((100-d)·unit/100)``,
      the init share ``n·unit // n == unit`` and ``ds = dm // n``;
    - unweighted = weighted with ``w = 1``: ``Σw_out == outdeg``, so
      ``rank·1 div Σw_out == rank div outdeg``.

    Every preflight fact (node and seed counts, dangling count, edge
    count, max weight, and the warm start's initial dangling mass) comes
    from ONE aggregate over a node-sized table.  Per iteration: the
    node-sized rank table joins the src-partitioned persisted edge table
    and aggregates on dst (two exchanges).  With dangling nodes their
    mass total rides each checkpoint action as an ``observe`` metric and
    enters the next step as an int literal, which forces one checkpoint
    per step: the r11 chain A/B measured the alternative (inner steps
    taking the mass from a broadcast 1-row aggregate over the lazy
    previous step) and it LOST (pagerank_incremental 11.1 s → 12.6 s at
    chain 2, 15.9 s at chain 3, jobs 101 → 122 → 157), because AQE does
    not stage-cache-reuse the aggregate's subtree and every inner step
    re-executed the edge join.  Unlike HITS, the dangling sum needs the
    per-node floor of the incoming mass, so no node-sized identity
    exists.  Without dangling nodes, steps chain lazily
    ``_RANK_CHECKPOINT_EVERY`` per checkpoint."""
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (0, 100)")
    d, unit = int(damping_pct), int(unit)
    # no weight column = every weight 1
    e = t.edges
    w = F.col("w") if "w" in e.columns else F.lit(1).cast("long")
    ends = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    ).select("node", F.lit(seeds is None).alias("__s"))
    if seeds is not None:
        ends = ends.unionByName(seeds.select("node", F.lit(True).alias("__s")))
    outw = e.groupBy(F.col("src").alias("node")).agg(
        F.sum(w).alias("outw"),
        F.count(F.lit(1)).alias("__od"),
        F.max(w).alias("__mw"),
    )
    marked0 = ends.groupBy("node").agg(F.max("__s").alias("__s")).join(
        outw, "node", "left"
    )
    if init_ranks is None:
        marked0 = marked0.withColumn("__init", F.lit(None).cast("long"))
    else:
        marked0 = marked0.join(
            init_ranks.select("node", F.col("rank_nano").alias("__init")),
            "node",
            "left",
        )
    marked0 = t.persist(marked0.withColumn("__dang", F.col("outw").isNull()))
    dang, is_seed = F.col("__dang"), F.col("__s")
    st = marked0.agg(
        F.count(F.lit(1)).alias("nn"),
        F.count(F.when(is_seed, 1)).alias("ns"),
        F.count(F.when(dang, 1)).alias("nd"),
        F.sum("__od").alias("ne"),
        F.max("__mw").alias("mw"),
        # warm start: the initial dangling mass is the init vector's
        # sum over the dangling set plus the default share of every
        # dangling seed it does not cover
        F.sum(F.when(dang, F.col("__init"))).alias("di"),
        F.count(F.when(dang & is_seed & F.col("__init").isNull(), 1))
        .alias("dn"),
    ).first()
    n_nodes, n_seeds = int(st["nn"]), int(st["ns"])
    if seeds is not None and n_seeds == 0:
        raise ValueError("seeds must be non-empty")
    if n_nodes == 0:
        return t.empty("node {node}, rank_nano bigint")
    # int64 headroom: total mass is conserved at ~n_nodes*unit (floor
    # losses only shrink it), and a near-sink node can receive almost
    # all of it, so `damping_pct * (inc + ds)` peaks near
    # damping_pct * n_nodes * unit, and `rank * w` at unit * n_nodes *
    # max_weight.  Spark's non-ANSI multiply WRAPS silently on
    # overflow, so fail loudly instead of diverging.
    max_w = int(st["mw"] or 1)
    if d * n_nodes * unit * max_w >= 2**63:
        raise ValueError(
            f"int64 headroom exceeded: damping_pct*n_nodes*unit*"
            f"max_weight = {d}*{n_nodes}*{unit}*{max_w} >= 2^63; pass "
            f"a smaller unit (<= {2**63 // (d * n_nodes * max_w) - 1})"
        )
    # teleport total = (100-d)% of n*unit, split over the seeds; the
    # full n*unit starts on the seeds (uncovered ones, when warm)
    seed_base = ((100 - d) * n_nodes * unit // 100) // n_seeds
    init_share = n_nodes * unit // n_seeds
    dm = int(st["di"] or 0) + int(st["dn"]) * init_share
    t.n = int(st["ne"] or 0)
    with t.scope():
        # Σw_out folded INTO the edge table once, hash-partitioned on
        # src: each iteration then costs exactly TWO exchanges (the
        # node-sized rank table to hash(src) and the dst aggregation);
        # joined to `outw`, not `marked0`, whose deeper lineage every
        # iteration re-plans against (measured ~20% slower loop)
        we = t.persist(
            e.select("src", "dst", w.alias("w"))
            .join(outw.select(F.col("node").alias("src"), "outw"), "src")
            .repartition("src")
        )
        marked = t.persist(
            marked0.select("node", "__s", "__dang", "__init").repartition(
                "node"
            )
        )
        m = marked.select(
            "node",
            "__dang",
            F.coalesce(
                "__init", F.when(is_seed, F.lit(init_share)).otherwise(0)
            )
            .cast("long")
            .alias("rank_nano"),
        )

        def step(m: DataFrame, got: dict | None) -> DataFrame:
            # ranks >= 0: // == div; a chained step (got is None) runs
            # only when nothing dangles
            ds = (int(got["dm"] or 0) if got else 0) // n_seeds
            incoming = (
                we.join(
                    m.select(F.col("node").alias("src"), "rank_nano"), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(
                    F.sum(F.expr("rank_nano * w div outw"))
                    .cast("long")
                    .alias("inc")
                )
            )
            return marked.join(incoming, "node", "left").select(
                "node",
                "__dang",
                (
                    F.when(is_seed, F.lit(seed_base)).otherwise(0).cast("long")
                    + F.expr(
                        f"{d}L * (coalesce(inc, 0L)"
                        f" + CASE WHEN __s THEN {ds}L ELSE 0L END) div 100"
                    )
                ).cast("long").alias("rank_nano"),
            )

        m, _, _, _ = fixpoint(
            m,
            step,
            int(iterations),
            chain=_RANK_CHECKPOINT_EVERY if not int(st["nd"]) else 1,
            observe=[F.sum(F.when(dang, F.col("rank_nano"))).alias("dm")],
            metrics={"dm": dm},
        )
        return m.select("node", "rank_nano")


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    unit: int = 10**9,
    init_ranks: DataFrame | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """PageRank in EXACT integer nano-units — the oracle-checkable tier
    of :func:`pagerank`.  Every quantity is a BIGINT: initial mass
    ``unit`` per node, per-edge contributions ``mass div out_degree``,
    damping as integer percent, dangling mass redistributed by integer
    division (sub-nano remainders vanish — documented, deterministic).
    Integer sums commute, so the result is bit-identical under ANY
    partitioning/summation order — the float tier's last-ulp
    partition-order dependence (why it's rows-only) just disappears.
    Runs a FIXED ``iterations`` count, no convergence test: integer
    ranks can oscillate by one nano at the fixpoint, and a fixed
    schedule is what a SQL twin replays exactly.

    Returns (node, rank_nano).  Same per-iteration shape as the float
    tier (:func:`_rank_nano`): one rank-to-src join against an
    out-degree-annotated, src-partitioned persisted edge table + one dst
    aggregation (two exchanges); dangling mass rides each checkpoint as
    an ``observe`` metric, which forces the cadence to 1, and without
    dangling nodes lazy steps chain three per checkpoint.

    ``init_ranks`` (node, rank_nano) warm-starts iteration 0 from a
    PREVIOUS run's vector instead of ``unit`` everywhere (nodes absent
    from it seed at ``unit``) — the incremental-maintenance tier
    (:func:`pagerank_incremental`); with dangling nodes, the initial
    redistributable mass is the exact integer sum of the init vector
    over the dangling set, taken in the same preflight aggregate (never
    a lazy broadcast subquery).  ``assume_canonical=True``
    skips the null-filter + dropDuplicates pre-pass when the caller
    KNOWS the edge table is already canonical (true by construction for
    a maintained edge store) — at corpus scale that pre-pass is a full
    edge shuffle per batch.  A store the caller has cached is read from
    that cache and stays cached."""
    with _EdgeTable(
        edges, src_col, dst_col, assume_canonical=assume_canonical
    ) as t:
        return _rank_nano(t, iterations, damping_pct, unit, init_ranks=init_ranks)


def fold_edges(
    edges: DataFrame | None,
    new_edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fold a raw edge batch into a canonical (src, dst) edge store:
    null-filter + dedup the BATCH, anti-join it against the store, union
    the survivors — the store itself is never re-canonicalized or
    re-deduplicated (it is canonical by construction), so per-batch prep
    cost scales with the batch, not the graph.  ``edges=None`` builds
    the initial store from the first batch."""
    fresh = _canonical_edges(new_edges, src_col, dst_col)
    if edges is None:
        return fresh
    store = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    return store.unionByName(fresh.join(store, ["src", "dst"], "left_anti"))


def pagerank_incremental(
    ranks: DataFrame,
    edges: DataFrame,
    new_edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
    damping_pct: int = 85,
    unit: int = 10**9,
) -> DataFrame:
    """Incremental integer-PageRank maintenance (the E154
    incremental-CC discipline applied to E199): fold a NEW edge batch
    into an existing canonical edge store and re-rank with a BOUNDED
    warm-start schedule — ``iterations`` fixed steps seeded from the
    stored rank vector (nodes first seen in this batch seed at
    ``unit``) instead of a full cold restart.  Everything stays exact
    BIGINT arithmetic on a fixed schedule, so the result is a
    deterministic integer function of (stored ranks, merged edges) that
    a SQL twin replays bit-for-bit — the oracle-checkable tier of
    incremental ranking, not an unpinned approximation.

    Why warm start is the right maintenance tier: PageRank's power
    iteration contracts at the damping factor per step, so from an
    already-converged vector a handful of steps re-absorbs a small edge
    delta; a cold recompute pays the full 8-10 step schedule per batch.
    Per-batch cost: batch-sized canonicalization + one anti-join against
    the store (:func:`fold_edges`), then ``iterations`` × two exchanges
    — the crawl-cadence path for E247's link graph, where each day adds
    ~1% new edges.

    Returns (node, rank_nano) over the MERGED graph.  Callers
    maintaining a store persist :func:`fold_edges`' output as the next
    edge version alongside this vector (manifest-publish discipline).
    """
    merged = fold_edges(edges, new_edges, src_col=src_col, dst_col=dst_col)
    return pagerank_integer(
        merged,
        iterations=iterations,
        damping_pct=damping_pct,
        unit=unit,
        init_ranks=ranks,
        assume_canonical=True,
    )


def hits_incremental(
    hubs: DataFrame,
    edges: DataFrame,
    new_edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    unit: int = 10**6,
) -> DataFrame:
    """Incremental HITS maintenance — :func:`pagerank_incremental`'s
    sibling: fold a NEW edge batch into the canonical edge store
    (:func:`fold_edges`, batch-sized prep only) and re-run a BOUNDED
    warm-start schedule seeded from the stored hub vector (nodes first
    seen in this batch seed at the uniform share, then one integer L1
    normalization restores the sum(hub) <= unit headroom invariant).
    All-BIGINT fixed schedule: the result is a deterministic integer
    function of (stored hubs, merged edges) a SQL twin replays exactly.

    Returns (node, hub_units, auth_units) over the MERGED graph.  Raises
    ``ValueError`` when a stored ``hub_units`` is negative (integer L1
    normalization floors only non-negative shares)."""
    merged = fold_edges(edges, new_edges, src_col=src_col, dst_col=dst_col)
    return hits_integer(
        merged,
        iterations=iterations,
        unit=unit,
        init_hubs=hubs,
        assume_canonical=True,
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
    max_inner: int = 64,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the web
    bow-tie decomposition (Broder et al., WWW'00): the giant SCC is the
    crawlable core, IN/OUT tendrils are where frontier budget dies —
    the structural audit a link corpus runs beside PageRank.  The
    undirected CC tiers (E12/E154) answer "one cluster?"; this answers
    "mutually reachable?", which direction-blind contraction cannot.

    Deterministic min-pivot peeling (the FW-BW idea with the min node
    id as every subgraph's pivot, so no RNG): per round, propagate
    f(v) = min ancestor id and b(v) = min descendant id to fixpoint
    (monotone integer min-folds — converge in <= remaining-diameter
    steps); f(v)=b(v)=p proves v and p mutually reachable, so those
    nodes finalize with ``scc_id = p`` and leave the graph.  SOUND in
    every round (an equal pair is a mutual-reachability certificate);
    COMPLETE because the minimum node of each remaining weak component
    always satisfies f=b=self, so at least one SCC per weak component
    peels per round.  Raises after ``max_rounds`` with work remaining
    (pathological SCC chains — raise the cap) rather than returning
    silent NULLs.

    Integer-exact ⇒ fully oracle-checkable: a reachability-closure SQL
    twin (scc_id = min over mutual-reach partners) reproduces the
    assignment bit-for-bit, independent of the peeling mechanics.

    Scale shape: per inner step ONE frontier-sized join against the
    remaining edge set + a dst min-aggregate (two exchanges), with the
    CC/PageRank checkpoint-and-release lineage discipline; per outer
    round two semi-joins shrink the edge set.  Labels are node-sized;
    nothing is driver-resident.

    Action dieting (the loop's wall clock at bench scale is job-launch
    count, and at cluster scale every saved exchange is a saved shuffle):
    min-propagation sub-steps chain TWO per checkpoint — the monotone
    fold makes observing only the LAST sub-step's change count sound
    (zero changes in the last sub-step means F(x)=x, a fixpoint
    certificate; any extra chained sub-step recomputes identical labels);
    the remaining edge set is checkpointed once per round, and its
    forward and reversed layouts, hash-partitioned on the gather key, let
    inner steps re-exchange only node-sized labels; the per-round
    (assigned, new remainder) pair is ONE checkpoint of the f=b
    comparison with the remainder count riding it as an observe metric
    (three actions per round become one)."""
    if max_rounds < 1 or max_inner < 1:
        raise ValueError("max_rounds and max_inner must be >= 1")
    with _EdgeTable(edges, src_col, dst_col, count=True) as t:
        return _scc(t, max_rounds, max_inner)[0]


def _scc(
    t: _EdgeTable, max_rounds: int, max_inner: int = 64
) -> tuple[DataFrame, set[int]]:
    """:func:`strongly_connected_components` over the counted edge table
    ``t`` plus the ids of the per-round checkpoint blocks its lazy union
    reads, for a caller that frees them once it has materialized what it
    built on the components.  ``t``'s layouts stay for the caller."""
    if t.n == 0:
        return t.empty("node {node}, scc_id {node}"), set()
    spark = t.spark
    with t.scope():
        rem, rem_ids = checkpoint_tracked(t.nodes())
        # the remaining subgraph; its gather layouts (by src, reversed by
        # src) let each inner step re-exchange only labels
        sub, out, done_ids = t, None, set()

        def _min_fixpoint(edges_dir: DataFrame, nodes: DataFrame) -> tuple:
            """labels (node, lab) after propagating min over in-edges of
            ``edges_dir`` to fixpoint; returns (labels, live_block_ids).
            Sub-steps chain ``_SCC_CHAIN`` per checkpoint; the observed
            change count of the LAST sub-step being zero certifies the
            fixpoint.  The first round reads ``nodes`` (blocks the
            caller owns) directly, so the start needs no checkpoint."""

            def step(cur: DataFrame, _) -> DataFrame:
                contrib = (
                    edges_dir.join(
                        cur.select(F.col("node").alias("src"), F.col("lab")),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.min("lab").alias("__lin"))
                )
                return (
                    cur.withColumnRenamed("lab", "__old")
                    .join(contrib, "node", "left")
                    .select(
                        "node",
                        F.least(
                            F.col("__old"), F.coalesce("__lin", "__old")
                        ).alias("lab"),
                        "__old",
                    )
                )

            lab, live, _, converged = fixpoint(
                nodes.withColumn("lab", F.col("node")),
                step,
                int(max_inner),
                chain=_SCC_CHAIN,
                observe=[
                    F.sum(
                        F.when(F.col("lab") < F.col("__old"), 1).otherwise(0)
                    ).alias("chg")
                ],
                stop=lambda m, *_: int(m["chg"] or 0) == 0,
            )
            if not converged:
                raise ValueError(
                    f"min-label propagation did not converge in "
                    f"{max_inner} steps; raise max_inner"
                )
            return lab, live

        try:
            for _ in range(int(max_rounds)):
                f_lab, f_ids = _min_fixpoint(sub.layout("src"), rem)
                b_lab, b_ids = _min_fixpoint(sub.layout("rev"), rem)
                # ONE checkpoint holds both the round's assignments and the
                # remainder; the remainder count rides it as an observation
                obs = Observation()
                both = f_lab.join(
                    b_lab.withColumnRenamed("lab", "__b"), "node"
                ).observe(
                    obs,
                    F.sum(
                        F.when(F.col("lab") != F.col("__b"), 1).otherwise(0)
                    ).alias("n_rem"),
                )
                both, both_ids = checkpoint_tracked(both)
                n_rem = int(obs.get["n_rem"] or 0)
                assigned = both.where(F.col("lab") == F.col("__b")).select(
                    "node", F.col("lab").alias("scc_id")
                )
                out = assigned if out is None else out.unionByName(assigned)
                done_ids |= both_ids
                new_rem = both.where(F.col("lab") != F.col("__b")).select(
                    "node"
                )
                unpersist_ids(spark, f_ids | b_ids | rem_ids)
                rem, rem_ids = new_rem, set()
                if n_rem == 0:
                    break
                keep = new_rem.withColumnRenamed
                nxt = _EdgeTable(
                    sub.edges.join(keep("node", "src"), "src", "semi").join(
                        keep("node", "dst"), "dst", "semi"
                    ),
                    assume_canonical=True,
                    count=True,
                )
                if sub is not t:
                    sub.release()
                sub = nxt
            else:
                raise ValueError(
                    f"SCC peeling did not finish in {max_rounds} rounds;"
                    " raise max_rounds"
                )
        finally:
            if sub is not t:
                sub.release()
        return out, done_ids


def bow_tie_report(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
    max_hops: int = 64,
    detailed: bool = False,
) -> DataFrame:
    """Web bow-tie decomposition (Broder et al., WWW'00) — the E295
    capstone: every node classified as ``CORE`` (member of the largest
    SCC; ties on size break to the smallest scc_id), ``IN`` (reaches
    the core but is not in it — pages that link toward the crawlable
    center), ``OUT`` (reachable from the core — where frontier budget
    drains), or ``OTHER`` (tendrils/tubes/disconnected).  The structure
    audit that tells a crawl operator how much of the link graph a
    core-seeded frontier can ever see.

    Returns ``(node, scc_id, region)``.  Composition: E295 SCC → one
    size aggregate picks the core → two multi-source BFS sweeps
    (forward for OUT, reversed for IN) from the core members — all
    integer/set-exact, so the closure-based oracle replays the regions
    without referencing any of this machinery.

    ``detailed=True`` refines OTHER into the full Broder taxonomy with
    two more sweeps (forward from IN, backward from OUT): ``TUBE``
    (an IN→OUT path that bypasses the core), ``TENDRIL`` (hangs off IN
    or feeds OUT, one-sided), ``DISCONNECTED`` (touches none of it).

    The result is materialized; the SCC round checkpoints and every
    sweep's frontier blocks it was built on are freed (kept, with the
    plan lazy, under ``spark.sparkplug.release.enabled=false``)."""
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    # ONE edge table serves the SCC peel and every sweep (2 plain, 4
    # detailed): the sweeps read the SCC's forward and reversed layouts
    with _EdgeTable(edges, src_col, dst_col, count=True) as t:
        if t.n == 0:
            return t.empty("node {node}, scc_id {node}, region string")
        scc, ids = _scc(t, max_rounds)
        scc = t.persist(scc)
        core_row = (
            scc.groupBy("scc_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.desc("__n"), F.asc("scc_id"))
            .limit(1)
            .collect()[0]
        )
        core_id = core_row["scc_id"]
        core = scc.where(F.col("scc_id") == F.lit(core_id)).select("node")

        def reach(key: str, seeds: DataFrame) -> DataFrame:
            out, sweep_ids = _bfs(t, key, seeds, max_hops)
            ids.update(sweep_ids)
            return out.select("node")

        fwd = reach("src", core)
        rev = reach("rev", core)
        out = (
            scc.join(fwd.withColumn("__out", F.lit(True)), "node", "left")
            .join(rev.withColumn("__in", F.lit(True)), "node", "left")
            .select(
                "node",
                "scc_id",
                F.when(F.col("scc_id") == F.lit(core_id), F.lit("CORE"))
                .when(F.col("__in").isNotNull(), F.lit("IN"))
                .when(F.col("__out").isNotNull(), F.lit("OUT"))
                .otherwise(F.lit("OTHER"))
                .alias("region"),
            )
        )
        if detailed:
            base = t.persist(out)
            in_nodes = base.where(F.col("region") == "IN").select("node")
            out_nodes = base.where(F.col("region") == "OUT").select("node")
            # seed the refinement sweeps with the reach sets already
            # computed: when IN is non-empty every IN node reaches the
            # core, so reach(core) = fwd ⊆ reach(IN) and reach(IN ∪ fwd) =
            # reach(IN) — identical result, but the sweep explores only
            # past the known region (tubes/tendrils) instead of
            # re-walking the core's whole forward cone; symmetrically rev
            # ⊆ reverse-reach(OUT) when OUT is non-empty.  Empty region ⇒
            # seed unaugmented (reach must be empty).
            region_n = {
                r["region"]: r["n"]
                for r in base.groupBy("region")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            fi_seeds = (
                in_nodes.unionByName(fwd) if region_n.get("IN") else in_nodes
            )
            to_seeds = (
                out_nodes.unionByName(rev) if region_n.get("OUT") else out_nodes
            )
            from_in = reach("src", fi_seeds)
            to_out = reach("rev", to_seeds)
            out = (
                base.join(from_in.withColumn("__fi", F.lit(True)), "node", "left")
                .join(to_out.withColumn("__to", F.lit(True)), "node", "left")
                .select(
                    "node",
                    "scc_id",
                    F.when(F.col("region") != "OTHER", F.col("region"))
                    .when(
                        F.col("__fi").isNotNull() & F.col("__to").isNotNull(),
                        F.lit("TUBE"),
                    )
                    .when(
                        F.col("__fi").isNotNull() | F.col("__to").isNotNull(),
                        F.lit("TENDRIL"),
                    )
                    .otherwise(F.lit("DISCONNECTED"))
                    .alias("region"),
                )
            )
        res = materialize_release(out)
        if res is not out:
            unpersist_ids(t.spark, ids)
        return res


def hits_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
    unit: int = 10**6,
    init_hubs: DataFrame | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """HITS with L1 normalization in EXACT integers — the
    oracle-checkable tier of :func:`hits`.  The INITIAL hub vector is
    already L1-normalized (``unit div n`` per node), then per
    iteration: authority = Σ hub over in-edges (kept RAW — normalizing
    it is scale bookkeeping the hub normalization cancels); hub = Σ
    authority over out-edges, L1-normalized to ``unit`` total by one
    integer division; the final authority vector is normalized once on
    output.  Any norm keeps the Kleinberg fixpoint DIRECTION, and L1
    needs no sqrt — every quantity stays BIGINT, integer sums commute,
    so scores are bit-identical under any partitioning and a SQL twin
    replays the fixed schedule exactly.

    int64 headroom (CHECKED up front, since Spark's non-ANSI multiply
    wraps silently): with Σhub ≤ unit from iteration 0 on, raw
    authorities ≤ Σhub ≤ unit and raw hubs ≤ Σauth ≤ outdeg_max·unit,
    so the ``raw * unit`` normalization product is bounded by
    outdeg_max·unit² — the preflight requires that < 2^63 and fails
    loudly otherwise (an UN-normalized start would instead peak at
    outdeg_max·indeg_max·unit² on iteration 1, overflowing on large
    skewed graphs).  ``unit`` must also exceed the node count, else
    every integer L1 share floors to zero.

    Returns (node, hub_units, auth_units) — integer shares of ``unit``.

    Plan per iteration: two partition-aligned shuffles (src gather, dst
    gather — the edge table is persisted TWICE, hash-partitioned by src
    and by dst, so only node-sized vectors ever re-exchange) + ONE eager
    local checkpoint (the raw hub table) whose materialization ALSO
    carries the L1 total as an ``observe`` metric — no broadcast-total
    job per iteration (the lazy-broadcast subplan was the r5 68 s
    regression class; the r11 chain A/B re-measured every chaining
    alternative and none beat one observe-riding checkpoint per
    iteration — see the module note above _RANK_CHECKPOINT_EVERY).  The FINAL
    iteration checkpoints the authority gather first (its L1 total
    riding that materialization), so the output authority vector is a
    projection of blocks the loop computed anyway instead of a second
    execution of the last gather.  Zero-fill of nodes missing from a gather
    is DEFERRED to the output join: a missing row contributes exactly
    what an explicit 0 contributes to every downstream integer sum
    (gather sums and L1 totals alike), so the per-iteration
    nodes-join zero-fill bought nothing but two node-sized joins per
    round.  Round N-1's blocks are freed as soon as round N's checkpoint
    lands."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with _EdgeTable(
        edges, src_col, dst_col, assume_canonical=assume_canonical
    ) as t:
        return _hits_nano(t, iterations, unit, init_hubs)


def _hits_nano(
    t: _EdgeTable, iterations: int, unit: int, init_hubs: DataFrame | None
) -> DataFrame:
    """The loop of :func:`hits_integer` over a lazily persisted edge
    table."""
    spark, e = t.spark, t.edges
    nodes = t.persist(t.nodes())
    n_nodes = nodes.count()
    if n_nodes == 0:
        return t.empty("node {node}, hub_units bigint, auth_units bigint")
    if n_nodes >= int(unit):
        raise ValueError(
            f"unit={unit} must exceed the node count ({n_nodes}): every "
            "node's integer share of a unit-total L1 vector would floor "
            "to zero; pass a larger unit (respecting the degree headroom "
            "bound below)"
        )
    # one pass over the cached edge table yields both preflight facts:
    # max out-degree (headroom check) and the edge count (Σ per-src
    # degrees) — the separate e.count() job re-scanned e for a number
    # this aggregate already holds
    deg_row = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("__d"))
        .agg(F.max("__d").alias("__m"), F.sum("__d").alias("__n"))
        .first()
    )
    outdeg_max = int(deg_row["__m"] or 1)
    t.n = int(deg_row["__n"] or 0)
    if outdeg_max * int(unit) * int(unit) >= 2**63:
        raise ValueError(
            f"int64 headroom exceeded: outdeg_max*unit^2 = "
            f"{outdeg_max}*{unit}^2 >= 2^63; pass a smaller unit "
            f"(<= {int((2**63 / outdeg_max) ** 0.5) - 1})"
        )
    with t.scope():
        e_src, e_dst = t.layout("src"), t.layout("dst")

        def _l1_normalize(df, col, *probes):
            # EAGER local checkpoint; the L1 total (and any extra
            # ``probes``) ride its materialization as observe metrics and
            # the total enters the next step as an int literal (a lazy
            # broadcast subplan would recompute the un-checkpointed chain
            # — the r5 class).  Spark's `div` truncates toward zero, so
            # `x * unit div total` is the floor the SQL twins replay only
            # for non-negative operands: the gathers sum non-negative
            # hubs, and the warm start rejects a negative stored hub.
            obs = Observation()
            df = df.observe(
                obs,
                F.greatest(F.sum(col), F.lit(1)).cast("long").alias("__t"),
                *probes,
            )
            df, ids = checkpoint_tracked(df)
            got = obs.get
            tot = int(got["__t"])
            return (
                df.select(
                    "node",
                    F.expr(f"{col} * {int(unit)}L div {tot}L").alias(col),
                ),
                ids,
                got,
            )

        # iteration-0 L1 normalization of the constant start vector: floor
        # of unit·unit/(n·unit) per node — guarantees Σhub ≤ unit before
        # the first gather (the ADVICE r5 headroom fix)
        if init_hubs is None:
            hub = nodes.withColumn(
                "hub_units", F.lit(int(unit) // n_nodes).cast("long")
            )
            prev_ids: set[int] = set()  # blocks backing hub_{i-1}
        else:
            # warm start (:func:`hits_incremental`): stored hubs for old
            # nodes, the uniform share for nodes first seen in this batch,
            # then ONE integer L1 normalization so the headroom invariant
            # (sum(hub) <= unit before the first gather) still holds
            hub0 = nodes.join(
                init_hubs.select("node", F.col("hub_units").alias("__h")),
                "node",
                "left",
            ).select(
                "node",
                F.coalesce(F.col("__h"), F.lit(int(unit) // n_nodes))
                .cast("long")
                .alias("hub_units"),
            )
            hub, prev_ids, got = _l1_normalize(
                hub0, "hub_units", F.min("hub_units").alias("__min")
            )
            if got["__min"] is not None and got["__min"] < 0:
                unpersist_ids(spark, prev_ids)
                raise ValueError(
                    "init_hubs holds a negative hub_units "
                    f"({got['__min']}): stored hub vectors are "
                    "non-negative integer shares of unit"
                )
        araw = None
        for i in range(int(iterations)):
            final = i == int(iterations) - 1
            # nodes absent from a gather (no in-/out-edges) would carry 0
            # through every sum and total — rows omitted until the output
            araw = (
                e_src.join(
                    hub.select(F.col("node").alias("src"), "hub_units"),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub_units").cast("long").alias("auth_units"))
            )
            if final:
                # the last gather feeds BOTH the final hub step and the
                # output authority vector: checkpoint it ONCE with its
                # L1 total riding the materialization (the old shape
                # re-executed this whole gather inside the separate auth
                # normalization checkpoint)
                obs_a = Observation()
                araw = araw.observe(
                    obs_a,
                    F.greatest(F.sum("auth_units"), F.lit(1))
                    .cast("long")
                    .alias("__t"),
                )
                araw, _a_ids = checkpoint_tracked(araw)
                tot_a = int(obs_a.get["__t"])
                # araw's materialization was the last consumer of the
                # previous segment's checkpoint blocks (covers the
                # warm-start init blocks when iterations == 1)
                unpersist_ids(spark, prev_ids)
                prev_ids = set()
            hraw = (
                e_dst.join(
                    araw.select(F.col("node").alias("dst"), "auth_units"),
                    "dst",
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth_units").cast("long").alias("hub_units"))
            )
            # one checkpoint+observe per iteration (module note above
            # _RANK_CHECKPOINT_EVERY: no lazy chaining beat it)
            hub, ids, _ = _l1_normalize(hraw, "hub_units")
            unpersist_ids(spark, prev_ids)
            prev_ids = ids
        # non-negative operands: `div` is the floor here too (see above)
        auth = araw.select(
            "node",
            F.expr(f"auth_units * {int(unit)}L div {tot_a}L").alias(
                "auth_units"
            ),
        )
        out = (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub_units", F.lit(0))
                .cast("long")
                .alias("hub_units"),
                F.coalesce("auth_units", F.lit(0))
                .cast("long")
                .alias("auth_units"),
            )
        )
        # the deferred zero-fill reads `nodes`: materialize before the
        # persisted inputs are released (and before the scope lifts, so
        # nothing plans against the restored partition count); once `out`
        # is materialized, the final authority and hub checkpoints that
        # fed it are freed too (the release kill-switch returns `out`
        # itself, still lazy over those blocks)
        done = materialize_release(out)
        if done is not out:
            unpersist_ids(spark, _a_ids | prev_ids)
        return done


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara 2007, the deterministic variant): every node starts
    as its own label; each round, a node adopts the label most frequent
    among its neighbors (previous round's labels only), ties to the
    SMALLEST label.  Densely connected clusters converge to one label in
    a few rounds — the cheap community pass over co-purchase / link /
    near-dup graphs where modularity methods are overkill.

    Fixed synchronous rounds + integer counts + smallest-label ties make
    the result an exact deterministic function of the edge set — fully
    oracle-checkable by unrolling the rounds in SQL (unlike the
    randomized-order asynchronous LPA in the original paper).

    Output: (node, label BIGINT) for every node with ≥1 edge; nodes
    sharing a label form one community.

    Plan: one edge table over the symmetrized edges, laid out on dst;
    each round joins the node-sized label table against that stable
    layout, aggregates (node, label) counts map-side, takes
    the per-node argmax window over ≤degree rows, checkpoints the new
    labels, and releases the previous round's blocks — per-round shuffle
    is edge-count rows of 24 bytes, the lineage-truncation discipline of
    the other iterative loops."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with _EdgeTable(sym, count=True) as t, t.scope():
        if t.n == 0:
            return t.empty("node {node}, label bigint")
        # partitioned on dst, the key every round's label join uses
        e = t.layout("dst")
        # symmetric: every node is a src
        labels, l_ids = checkpoint_tracked(
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("__c"), F.asc("label")
        )

        def step(labels: DataFrame, _) -> DataFrame:
            counts = (
                e.join(labels.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            return (
                counts.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") == 1)
                .select("node", "label")
            )

        labels, _, _, _ = fixpoint(labels, step, iterations, ids=l_ids)
        return labels.select(
            "node", F.col("label").cast("long").alias("label")
        )


def pagerank_personalized_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iterations: int = 8,
    damping_pct: int = 85,
    unit: int = 10**9,
) -> DataFrame:
    """PERSONALIZED PageRank in exact integer nano-units: teleport mass
    returns to the SEED set instead of everywhere, so ranks measure
    relevance *to the seeds* — "what belongs near these trusted /
    flagged / purchased nodes" (TrustRank-style propagation, related-
    item scoring, seed-expanded dedup clusters).  Same integer
    discipline as :func:`pagerank_integer` (its oracle-checkable E199
    sibling): BIGINT everywhere, fixed iteration schedule, dangling
    mass redistributed to the seeds by integer division.

    Initial mass is the teleport distribution itself (total
    ``n_nodes·unit``, all on seeds) — with a FIXED schedule the init is
    part of the contract, and starting at the teleport vector is the
    standard power-iteration choice.  Seeds not present in the graph
    still teleport (they are nodes with rank and no edges); null seeds
    are ignored.

    Returns (node, rank_nano); non-seed nodes unreachable from any seed
    hold exactly 0."""
    sd = seeds.select(F.col(seed_col).alias("node")).where(
        F.col("node").isNotNull()
    )
    with _EdgeTable(edges, src_col, dst_col) as t:
        return _rank_nano(t, iterations, damping_pct, unit, seeds=sd)


def pagerank_weighted_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    iterations: int = 8,
    damping_pct: int = 85,
    unit: int = 10**9,
) -> DataFrame:
    """WEIGHTED PageRank in exact integer nano-units: each node splits
    its mass across out-edges in proportion to INTEGER edge weights
    (``share = rank·w div Σw_out``) — the natural rank for co-purchase
    / co-occurrence / citation graphs where tie strength matters and
    the unweighted walk over-rewards promiscuous low-weight hubs.
    Same integer discipline as :func:`pagerank_integer`: BIGINT
    everywhere, fixed schedule, integer-division flooring documented —
    so the ranks value-hash and a SQL twin replays them.

    Weights must be POSITIVE integers; duplicate (src, dst) rows sum
    their weights.  ``rank·w`` must fit int64: the operator checks
    ``damping_pct · n_nodes · unit · max_weight < 2^63`` up front and
    tells you the max safe ``unit`` when it does not.

    Returns (node, rank_nano)."""
    with _EdgeTable(edges, src_col, dst_col, weight_col=weight_col) as t:
        return _rank_nano(t, iterations, damping_pct, unit)
