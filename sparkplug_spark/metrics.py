"""Dropped-work metrics for capped operators ("no silent caps").

Scale guards that drop work report it here.  The pair family's hot-key
cap (``operators/_pairs.py::hot_keys``) is the main one: every operator
that takes ``metrics: Observation`` (``blocked_link``,
``jaccard_ngram_pairs``, ``containment_pairs``, ``tfidf_cosine_pairs``,
``minhash_lsh_pairs``) gets EXACT counts of what its cap removed.

Why a dedicated query instead of an observe node inside the operator's
own plan: the capped subtree is the *broadcast build side* of an
anti-join, and AQE can prune or re-stage it (empty-relation propagation
being the worst case: an empty final result silently yields NO metrics —
observed in testing).  A metrics observation must be most reliable
exactly when everything got dropped, so the observe node goes on the
main path of its own tiny query, fired eagerly through the ``noop``
sink.  Cost: one small aggregate job over the operator's already-cached
intermediate, paid only when the caller asks for metrics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["observe_dropped"]


def observe_dropped(
    dropped: DataFrame, observation: Observation, **aggs: Column
) -> None:
    """Fire ``observation`` with the given aggregates over ``dropped``
    (the stream of capped-away keys/blocks), as its own eager query.

    Each aggregate is null-coalesced to 0 and cast to long, so an empty
    dropped set reports exact zeros instead of nulls or a missing
    observation.  Returns when the metrics are available via
    ``observation.get``.
    """
    exprs = [
        F.coalesce(expr.cast("long"), F.lit(0).cast("long")).alias(name)
        for name, expr in aggs.items()
    ]
    dropped.observe(observation, *exprs).write.format("noop").mode(
        "overwrite"
    ).save()
