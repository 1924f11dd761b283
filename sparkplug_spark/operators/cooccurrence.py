"""Market-basket co-occurrence: which items appear together.

:func:`basket_pairs` counts, for every unordered item pair, the baskets
(orders) containing both, plus the association lift in exact integer ppm.
This is the support/lift core of frequent-itemset mining (Agrawal &
Srikant, VLDB'94) restricted to pairs — the case that matters for
co-purchase recommendations and that stays tractable as one self-join.

Scale: the candidate pair count is sum over baskets of k·(k-1)/2 where k
is the basket's item count — linear in input when basket size is bounded
(retail orders: k ≤ ~10².  The ``max_basket_size`` guard drops
pathological baskets — a crawler cart with 10⁵ items would alone emit
5·10⁹ pairs — keeping the join's output proportional to the input).  All
shuffles carry (basket, item) pairs only; per-item totals and the basket
count are dimension-sized and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import materialize_release
from ._pairs import drop_hot_keys, same_key_pairs

__all__ = ["basket_pairs", "skipgram_pairs"]


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket_size: int = 1000,
    release: bool = True,
) -> DataFrame:
    """Unordered co-occurrence pairs with support and lift.

    Output, one row per item pair seen in ≥ ``min_count`` baskets
    (``item_a < item_b``):

    - ``n_baskets`` BIGINT — baskets containing both items
    - ``lift_ppm`` BIGINT — ``n_ab · N_baskets · 1_000_000 div
      (n_a · n_b)``: the observed-vs-independent co-occurrence ratio in
      exact truncating integer ppm (1_000_000 = independent); engine-
      exact, no float division.  Overflow headroom: the numerator needs
      ``n_ab · N_baskets < 9.2·10¹²`` (then ·10⁶ < 2⁶³) — ample for
      retail-shaped data (a pair in 10³ baskets of a 10⁹-basket corpus);
      corpora beyond that should rescale to per-mille before calling

    Duplicate (basket, item) rows count once.  Baskets with more than
    ``max_basket_size`` distinct items are excluded from PAIR generation
    (quadratic blow-up guard) but still count toward ``N_baskets`` and
    the per-item totals, so lift stays a property of the corpus, not of
    the guard.

    Plan: one distinct shuffle on (basket, item); the pair self-join
    reuses the basket key; per-item totals and the scalar basket count
    are broadcast to the pair aggregate."""
    b, i = F.col(basket_col), F.col(item_col)
    # five consumers (totals, item counts, sizes, join left/right): persist
    # the deduped (basket, item) set once instead of re-scanning the input
    bi = df.select(b.alias("__b"), i.alias("__i")).distinct().persist()
    n_baskets = bi.select(
        F.countDistinct("__b").cast("long").alias("__n_total")
    )
    item_counts = bi.groupBy("__i").agg(
        F.count(F.lit(1)).cast("long").alias("__n_item")
    )
    pairs = (
        same_key_pairs(drop_hot_keys(bi, ["__b"], max_basket_size), ["__b"], "__i")
        .groupBy(F.col("id_a").alias("item_a"), F.col("id_b").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )
    na = item_counts.select(
        F.col("__i").alias("item_a"), F.col("__n_item").alias("__n_a")
    )
    nb = item_counts.select(
        F.col("__i").alias("item_b"), F.col("__n_item").alias("__n_b")
    )
    out = (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            F.expr("n_baskets * __n_total * 1000000 div (__n_a * __n_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )
    # the filtered pair list is orders smaller than the (basket, item) set
    return materialize_release(out, bi, release=release)


def skipgram_pairs(
    df: DataFrame,
    key_cols: "list[str] | tuple[str, ...]" = ("user_id",),
    order_cols: "list[str] | tuple[str, ...]" = ("ts", "event_id"),
    item_col: str = "event_type",
    window: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """Word2vec-style skip-gram co-occurrence counts over ordered per-key
    sequences (Mikolov et al. 2013): for every position, each of the next
    ``window`` items is a (center, context) pair, counted in BOTH
    directions — the training-pair table an item2vec/embedding trainer
    consumes, built from event streams instead of sentences.

    ``order_cols`` must be a TOTAL order within each key (include a
    unique id as tie-break — timestamps alone tie), else pair counts are
    partition-order-dependent.

    Output: (item, context, n_pairs BIGINT), ``n_pairs >= min_count``.

    Scale shape: one shuffle on the key for the ordered window (all
    ``window`` leads computed in a single Window node), a narrow
    array-explode (no nulls cross it), then one partial-aggregated
    groupBy on the pair — count state is |item vocab|², tiny.  Per-key
    ordering means a hot key is a straggler, never a wrong answer (same
    per-key-isolation contract as the sessionize family)."""
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("window must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    sel = df.select(*keys, *order_cols, F.col(item_col).alias("__item"))
    with_leads = sel.select(
        "__item",
        *[
            F.lead("__item", j).over(w).alias(f"__l{j}")
            for j in range(1, window + 1)
        ],
    )
    fwd = with_leads.select(
        F.col("__item").alias("item"),
        F.explode(
            F.filter(
                F.array(*[F.col(f"__l{j}") for j in range(1, window + 1)]),
                lambda x: x.isNotNull(),
            )
        ).alias("context"),
    )
    sym = fwd.union(
        fwd.select(F.col("context").alias("item"), F.col("item").alias("context"))
    )
    return (
        sym.groupBy("item", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_count)
    )
