"""The two steps every pair operator shares: the hot-key cap and the
same-key candidate join.

A pair operator turns its rows into (key, id) entries (shingles, LSH band
buckets, simhash chunks, blocks, baskets) and pairs the ids that share a
key.  A key held by k entries yields k·(k-1)/2 candidates, so one hot key
can dominate the whole join: :func:`drop_hot_keys` removes every key held
by more than ``cap`` entries before the join and, when asked, reports
exactly what it removed (see ``sparkplug_spark.metrics``).
:func:`same_key_pairs` is the join itself.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..metrics import observe_dropped

#: metric names of a stop-key cap: hot keys, and the entries they held
KEY_METRICS = ("dropped_keys", "dropped_entries")


def hot_keys(
    entries: DataFrame,
    keys: Sequence[str],
    cap: int | None,
    metrics: Observation | None = None,
    names: tuple[str, str] = KEY_METRICS,
) -> DataFrame | None:
    """The keys held by more than ``cap`` entries, as (*keys, __sz), or
    None when ``cap`` is None (no cap).  With ``metrics``, fires it with
    ``names[0]`` = the hot key count and ``names[1]`` = the entries they
    hold, as a dedicated query over ``entries``."""
    if cap is None:
        if metrics is not None:
            raise ValueError(
                "metrics requires an active stop-key cap (max_key_freq > 0)"
            )
        return None
    hot = (
        entries.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter(F.col("__sz") > cap)
    )
    if metrics is not None:
        observe_dropped(
            hot,
            metrics,
            **{names[0]: F.count(F.lit(1)), names[1]: F.sum("__sz")},
        )
    return hot


def drop_hot_keys(
    entries: DataFrame,
    keys: Sequence[str],
    cap: int | None,
    metrics: Observation | None = None,
    names: tuple[str, str] = KEY_METRICS,
) -> DataFrame:
    """``entries`` without the keys :func:`hot_keys` finds: a new lazy
    frame, so a caller that persisted ``entries`` still holds the handle
    to unpersist."""
    hot = hot_keys(entries, keys, cap, metrics, names)
    if hot is None:
        return entries
    # broadcast the HOT keys and anti-join them away: the hot set stays
    # tiny by definition, while the keep-set grows with the input and
    # would be an unbounded broadcast at 100 TB
    return entries.join(F.broadcast(hot.select(*keys)), list(keys), "left_anti")


def same_key_pairs(
    entries: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
    carry: Sequence[str] = (),
) -> DataFrame:
    """Self-join ``entries`` on equal ``keys`` with ``id_a < id_b``:
    (id_a, id_b, then ``{c}_a``, ``{c}_b`` for each carried column), one
    row per shared key, so callers distinct or aggregate.  Both arms read
    ``entries``: persist it unless it is cheap to recompute."""
    a, b = entries.alias("a"), entries.alias("b")
    cond = reduce(
        and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in carry],
    )
