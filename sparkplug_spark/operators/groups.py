"""Connected components over near-duplicate pair lists, and
representative selection — the step that turns pairwise dedup output
(:func:`~.dedup.minhash_lsh_pairs` et al.) into per-cluster keep/drop
decisions for a training corpus.

Min-label propagation: every node repeatedly adopts the smallest label in
its closed neighborhood until fixpoint.  Iterations = graph diameter;
near-dup clusters are small and dense, so this converges in a handful of
rounds.  Each round is one join + one aggregate (two shuffles) over the
edge list; ``localCheckpoint`` truncates the growing lineage so round N
doesn't replay rounds 1..N-1.  This is iterative and data-dependent —
not expressible as one SQL query (driver records the rows-only check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import (
    checkpoint_tracked,
    fixpoint,
    materialize_release,
    unpersist_ids,
)
from ..partitioning import loop_partitions, shuffle_scope

__all__ = [
    "near_dup_groups",
    "connected_components_star",
    "dedup_keep_best",
    "update_components",
    "duplication_weights",
    "consensus_records",
]


def _no_groups(spark, ids: set[int], id_type) -> DataFrame:
    """The empty (id, group_id) result of an empty pair list, with the
    blocks of its (empty) edge checkpoint ``ids`` freed."""
    unpersist_ids(spark, ids)
    t = id_type.simpleString()
    return spark.createDataFrame([], f"id {t}, group_id {t}")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log² n) ROUNDS regardless of graph
    diameter, where min-label propagation needs diameter-many rounds — the
    scale path for chain-shaped near-dup graphs (A≈B≈C≈…).

    Each round is two groupBy-join phases over the edge list (same
    per-round shuffle cost as one label-propagation round); at fixpoint
    the edge list IS the component map {(node, component-min)}.  Output
    schema matches :func:`near_dup_groups`: (id, group_id)."""

    # undirected edge list, self-loops dropped — eagerly checkpointed so the
    # (possibly expensive) upstream pair pipeline runs exactly once, not
    # once per consumer in round 0
    e, e_ids = checkpoint_tracked(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        reliable=reliable_checkpoint,
    )
    spark = pairs.sparkSession
    n_edges = e.count()
    if n_edges == 0:
        return _no_groups(spark, e_ids, e.schema["u"].dataType)

    # convergence probe: (count, hash-sum, hash-xor) of the edge set
    # changing ⟹ not converged; matching stats trigger ONE exact exceptAll
    # confirmation, so a hash collision can never end the loop early with
    # wrong components.  The stats ride each round's checkpoint
    # materialization as observe metrics — no separate scan job per round.
    h = F.xxhash64("u", "v")
    # decimal sum: a LONG sum of 64-bit hashes overflows under ANSI
    _stat_aggs = (
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("hs"),
        F.bit_xor(h).alias("hx"),
    )
    prev = e.agg(*_stat_aggs).first().asDict()

    def step(e: DataFrame, _) -> DataFrame:
        # large-star: every node x links its LARGER neighbors to
        # min(N(x) ∪ {x})
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: direct edges at the larger endpoint x; link every
        # smaller neighbor (and x itself) to min(N(x))
        directed = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        return (
            directed.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("l"),
                F.greatest("u", "v").alias("g"),
            )
            .select(F.col("g").alias("u"), F.col("l").alias("v"))
            .distinct()
        )

    with shuffle_scope(spark, loop_partitions(spark, n_edges)):
        e, _, _, converged = fixpoint(
            e,
            step,
            max_iterations,
            observe=_stat_aggs,
            # matching stats are confirmed by an exact exceptAll against
            # round N-1, which stays readable until the stop test is done
            stop=lambda m, m0, new, old: m == m0
            and new.exceptAll(old).limit(1).count() == 0,
            ids=e_ids,
            metrics=prev,
            reliable=reliable_checkpoint,
        )
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} iterations"
        )
    # fixpoint: e = {(node, component-min)}; add the roots themselves
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("group_id"))
        .union(
            e.select(F.col("v").alias("id"), F.col("v").alias("group_id")).distinct()
        )
        .distinct()
    )


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """(id, group_id) for every id appearing in ``pairs``; ``group_id`` is
    the smallest id of the connected component.

    ``reliable_checkpoint=True`` truncates lineage with HDFS-backed
    ``checkpoint()`` instead of ``localCheckpoint()`` (the caller must
    ``spark.sparkContext.setCheckpointDir(...)`` first).  Local checkpoints
    live in executor block storage — losing one executor mid-computation
    kills the job; on a 1000-node cluster use the reliable flavor.

    Raises if the label propagation hasn't converged after
    ``max_iterations`` rounds (returning silently would hand back WRONG
    group labels for any component whose diameter exceeds the cap)."""

    spark = pairs.sparkSession
    # eager: the upstream pair pipeline runs exactly once, before the loop
    edges0, edge0_ids = checkpoint_tracked(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        reliable=reliable_checkpoint,
    )
    n_edges = edges0.count()
    if n_edges == 0:
        return _no_groups(spark, edge0_ids, edges0.schema["src"].dataType)
    with shuffle_scope(spark, loop_partitions(spark, n_edges)):
        # hash-partitioned on dst — the key every round's label join uses
        # (the un-partitioned layout re-exchanged the edge set per round);
        # partition count derived from the edge count (no-op at scale)
        edges, edge_ids = checkpoint_tracked(
            edges0.repartition("dst"), reliable=reliable_checkpoint
        )
        unpersist_ids(spark, edge0_ids)
        labels = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("__m"))
            .select(
                F.col("src").alias("id"), F.least("src", "__m").alias("label")
            )
        )

        def step(labels: DataFrame, _) -> DataFrame:
            # candidate labels: own label + each neighbor's label; adopt
            # the min
            nbr = (
                edges.join(
                    labels.withColumnsRenamed(
                        {"id": "dst", "label": "nbr_label"}
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("nbr_label").alias("nbr_label"))
            )
            # carry the previous label so the convergence count rides
            # the checkpoint — no separate scan job per round
            return labels.join(
                nbr.withColumnsRenamed({"src": "id"}), "id", "left"
            ).select(
                "id",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )

        labels, _, _, converged = fixpoint(
            labels,
            step,
            max_iterations,
            observe=[
                F.sum(
                    F.when(F.col("label") != F.col("__old"), 1).otherwise(0)
                ).alias("chg")
            ],
            stop=lambda m, *_: int(m["chg"] or 0) == 0,
            reliable=reliable_checkpoint,
        )
        # the edge blocks are dead once the loop has converged: the
        # returned DataFrame reads only the final round's checkpoint
        unpersist_ids(spark, edge_ids)
        if not converged:
            raise RuntimeError(
                f"near_dup_groups did not converge within {max_iterations} "
                "iterations — component diameter exceeds the cap; raise "
                "max_iterations"
            )
        return labels.select("id", F.col("label").alias("group_id"))


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality: Column | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates, keeping one representative per connected
    component: the highest ``quality`` row (ties → smallest id).  Rows in
    no pair are kept unchanged.  ``quality`` defaults to the
    :func:`~..functions.text.quality_score` of ``text``."""
    if quality is None:
        from ..functions.text import quality_score

        quality = quality_score(F.col("text"))
    groups = near_dup_groups(pairs, id_a=id_a, id_b=id_b)
    joined = df.join(
        groups.withColumnsRenamed({"id": id_col}), id_col, "left"
    ).withColumn("__grp", F.coalesce(F.col("group_id"), F.col(id_col)))
    w = Window.partitionBy("__grp").orderBy(quality.desc(), F.asc(id_col))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__grp", "group_id")
    )


def update_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Incremental connected components: fold a batch of NEW edges into
    an existing (id, group_id) component map without re-touching the
    original edge list — the ingestion-tier companion of
    :func:`near_dup_groups`/:func:`connected_components_star`, the same
    store-once/update-with-batches shape as the incremental dedup tiers
    (E44/E48).

    Key fact: a component map IS a spanning star forest of the processed
    graph (member → root edges), so connectivity of (old graph ∪ new
    edges) equals connectivity of (star forest ∪ new edges).  Only
    components actually TOUCHED by a new edge can change, so the
    recompute runs on the touched components' star edges plus the new
    edges; every other label row passes through untouched.  Labels stay
    canonical (group_id = min member id): an old root is the min of its
    old members, so the new min of a merged component is the min over
    the participating roots and new-edge nodes — all present in the
    subgraph.

    Scale shape: two semi-joins to carve out the affected slice (each
    shuffles ids, not edges), one CC run over |affected members| +
    |batch| edges (star topology ⇒ label-prop converges in ~2 rounds per
    merge chain), one anti-join pass-through.  The original corpus-scale
    edge list is never rebuilt or reshuffled.

    Returns (id, group_id) covering old ∪ new nodes.
    """
    raw = new_pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = raw.filter(F.col("u") != F.col("v"))
    # touched from the UNFILTERED batch: a self-pair (u, u) carries no
    # connectivity but does assert the node exists — near_dup_groups keeps
    # such nodes as singletons, so the incremental path must too
    touched = (
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    touched_groups = (
        labels.join(touched, "id", "semi").select("group_id").distinct()
    )
    affected = labels.join(touched_groups, "group_id", "semi")
    # star edges reconstruct affected components; union the new batch
    sub_pairs = affected.select(
        F.col("id").alias("id_a"), F.col("group_id").alias("id_b")
    ).unionByName(edges.selectExpr("u AS id_a", "v AS id_b"))
    updated = near_dup_groups(
        sub_pairs,
        max_iterations=max_iterations,
        reliable_checkpoint=reliable_checkpoint,
    )
    # CC drops self-loops: a singleton root with no new edge, or a brand-new
    # node whose only edge was a self-pair, must keep/seed its own label
    nodes = affected.select("id").union(touched).distinct()
    updated_full = (
        nodes.join(updated, "id", "left")
        .select("id", F.coalesce("group_id", F.col("id")).alias("group_id"))
    )
    untouched = labels.join(touched_groups, "group_id", "anti")
    return untouched.select("id", "group_id").unionByName(updated_full)


def duplication_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplication-aware training weights — the SOFT alternative to
    deleting near-duplicates: every document gets weight
    ``1e6 div |its near-dup cluster|`` (exact integer ppm), so a
    family of N copies contributes ~one document's worth of gradient
    in aggregate while keeping every variant's tokens available
    (the down-weighting recipe studied for repeated data, e.g.
    Muennighoff et al. 2023's repeat-epoch scaling).

    ``pairs`` is any near-dup pair list (:func:`~.dedup.
    jaccard_prefix_pairs` for the exact tier, MinHash/SimHash for
    scale); documents absent from it are singletons at full weight.

    Returns (id_col, group_id, group_size, weight_ppm).

    Scale shape: connected components over the pair list
    (:func:`near_dup_groups` — diameter-bounded label propagation on
    id-only rows) + one size aggregate + one broadcast-or-shuffle join
    back onto the corpus ids; corpus text never shuffles."""
    groups = near_dup_groups(pairs, id_a=id_a, id_b=id_b)
    base = df.select(F.col(id_col)).dropDuplicates([id_col])
    labeled = base.join(
        groups.withColumnRenamed("id", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce("group_id", F.col(id_col)).alias("group_id"),
    )
    sizes = labeled.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return labeled.join(sizes, "group_id").select(
        id_col,
        "group_id",
        "group_size",
        F.expr("1000000L div group_size").alias("weight_ppm"),
    )


def consensus_records(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    attr_cols: tuple = (),
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Golden records for entity resolution: given match PAIRS (from
    :func:`~.joins.edit_distance_pairs`, :func:`~.joins.blocked_link`,
    or any matcher), merge entities into clusters by connected
    components and emit ONE consensus row per cluster — the survivorship
    step every MDM/ER pipeline ends with.

    Consensus per attribute = the most frequent NON-NULL value in the
    cluster, ties to the smallest value — deterministic mode, the same
    lexicographic-struct-min argmax the engine uses everywhere.  A
    cluster whose attribute is entirely NULL stays NULL.  Entities in
    no pair form singleton clusters (their own golden record).

    Output: (cluster_id = smallest member id, n_members, one column per
    ``attr_cols``).

    Plan: components via the O(log² n) star-contraction CC (chain-shaped
    typo clusters converge round-bounded); ALL attributes ride one
    melted (cluster, attr, value) pass over the entity table — one
    count aggregate + one struct-min argmax pivoted back to columns —
    instead of one count + one argmax + one join PER attribute (the
    §2.3 combine-aggregates shape: A passes over the entity scan melt
    to a single pass, 2·A exchanges to 2).  Values keep their ORIGINAL
    Spark type through per-type slot columns (stacking mixed-type
    attributes into one string column would reorder numeric ties), so
    the deterministic mode/tie semantics — and the value hash — are
    bit-identical to the per-attribute form."""
    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")
    comp = connected_components_star(pairs, id_a=id_a, id_b=id_b)
    ents = df.select(F.col(id_col).alias("__eid"), *attr_cols)
    # lab feeds the member count plus the melted pass — persisted so
    # neither consumer re-runs the entity scan + comp join (the fan-out
    # invariant); base now has exactly ONE consumer and stays lazy
    lab = (
        ents.select("__eid")
        .distinct()
        .join(comp.withColumnRenamed("id", "__eid"), "__eid", "left")
        .select(
            "__eid",
            F.coalesce("group_id", F.col("__eid")).alias("cluster_id"),
        )
        .persist()
    )
    base = ents.join(lab, "__eid")
    members = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    # one typed value slot per DISTINCT attribute type; within a melted
    # (cluster, attr) group every other slot is constant NULL, so the
    # struct-min tiebreak falls through to the attribute's own slot —
    # exactly the old per-attribute (−count, value) ordering
    slot_types: list = []
    slot_of: dict[str, int] = {}
    for attr in attr_cols:
        key = ents.schema[attr].dataType.simpleString()
        if key not in slot_of:
            slot_of[key] = len(slot_types)
            slot_types.append(ents.schema[attr].dataType)
    slot_cols = [f"__v{j}" for j in range(len(slot_types))]
    entries = []
    for attr in attr_cols:
        s = slot_of[ents.schema[attr].dataType.simpleString()]
        entries.append(
            F.struct(
                F.lit(attr).alias("__attr"),
                F.col(attr).isNotNull().alias("__nn"),
                *[
                    (
                        F.col(attr)
                        if j == s
                        else F.lit(None).cast(slot_types[j])
                    ).alias(slot_cols[j])
                    for j in range(len(slot_types))
                ],
            )
        )
    melted = (
        base.select("cluster_id", F.explode(F.array(*entries)).alias("__m"))
        .select("cluster_id", "__m.*")
        .filter(F.col("__nn"))
        .drop("__nn")
    )
    cnt = melted.groupBy("cluster_id", "__attr", *slot_cols).agg(
        F.count(F.lit(1)).alias("__n")
    )
    best = cnt.groupBy("cluster_id").pivot("__attr", list(attr_cols)).agg(
        F.min(
            F.struct(
                (-F.col("__n")).alias("a"),
                *[F.col(c).alias(c) for c in slot_cols],
            )
        )
    )
    out = members.join(best, "cluster_id", "left").select(
        "cluster_id",
        "n_members",
        *[
            F.col(attr)[
                slot_cols[slot_of[ents.schema[attr].dataType.simpleString()]]
            ].alias(attr)
            for attr in attr_cols
        ],
    )
    return materialize_release(out, lab)
