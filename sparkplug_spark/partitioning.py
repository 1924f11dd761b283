"""Partition-layout helpers.

A scan of a small single-row-group parquet file (our local test data, or a
badly-written upstream table) yields ONE input partition, so every narrow
CPU-bound stage after it — shingling, hashing, signature computation, pair
scoring — serializes on one core no matter how many the cluster has.

:func:`spread` rebalances ONLY when the plan's partition count is below the
session's default parallelism.  At production scale (100 TB = tens of
thousands of splits) the check fails and it is a zero-cost no-op; on
under-partitioned inputs it trades one tiny round-robin shuffle for full
cluster utilization of everything downstream.
"""

from __future__ import annotations

import logging
import math
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "spread",
    "global_row_numbers",
    "global_prefix_sums",
    "loop_partitions",
    "shuffle_scope",
]

_log = logging.getLogger(__name__)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff ``df`` has fewer partitions than
    ``min_partitions`` (default: ``sparkContext.defaultParallelism``).

    Probes the partition count from ``queryExecution().toRdd()`` — the
    internal-row RDD, which shares the physical plan the query will
    execute but skips the Python-serializer conversion plan ``df.rdd``
    builds on top (measured 2x cheaper per call on 60-node plans; no job
    is triggered either way).  Production jobs whose inputs are known to
    be well-split should still disable the helper globally with
    ``spark.conf.set("spark.sparkplug.spread.enabled", "false")``, making
    every call a zero-cost pass-through.

    Streaming DataFrames pass through untouched (no RDD probe there; a
    micro-batch source's parallelism is governed by its own options)."""
    if df.isStreaming:
        return df
    sess = df.sparkSession
    if sess.conf.get("spark.sparkplug.spread.enabled", "true") == "false":
        return df
    target = min_partitions or sess.sparkContext.defaultParallelism
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # non-classic backends (Connect) lack _jdf
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def loop_partitions(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 32768
) -> int:
    """Shuffle-partition count DERIVED from an iterative loop's working-set
    size: ``ceil(n_rows / rows_per_partition)`` clamped to
    ``[1, spark.sql.shuffle.partitions]``.

    Why: an iterative operator persists/checkpoints loop-invariant tables,
    and a cached table's partitioning PINS every downstream join to its
    partition count — AQE cannot coalesce a shuffle that must co-partition
    with an InMemory/LogicalRDD scan, so a node-sized rank table inherits
    the session's batch-tuned count and every iteration pays
    ``partitions × iterations`` near-empty task launches (measured 2x wall
    on the integer-PageRank loop at bench scale).  Deriving the count from
    the data instead (guide: "make partitioning scale-adaptive — derive
    from input size") keeps tiny loops tiny while staying a NO-OP at
    production scale: once ``n_rows / rows_per_partition`` exceeds the
    configured ``spark.sql.shuffle.partitions`` the clamp returns the
    session value unchanged, so clusters keep their tuned parallelism."""
    hi = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_rows <= 0:
        return 1
    return max(1, min(hi, math.ceil(n_rows / int(rows_per_partition))))


@contextmanager
def shuffle_scope(spark: SparkSession, n_partitions: int):
    """Temporarily set ``spark.sql.shuffle.partitions`` (restored on exit)
    — the replay_file_stream override discipline generalized to iterative
    batch loops.  Callers must materialize (checkpoint) every result they
    return WITHIN the scope, so nothing plans against the override after
    it is lifted.  Session-scoped: don't run concurrent queries on the
    same session while a scope is active.  Kill-switch:
    ``spark.sparkplug.loopparts.enabled=false`` makes this a no-op (for
    A/B audits of the derived-partitioning behavior).

    AQE stays untouched inside the scope: an interleaved min-of-3 A/B
    over the graph loops showed adaptive execution (runtime join
    re-planning, partition coalescing of the loop-external stages) wins
    or ties on every operator once the partition count is right-sized —
    the one-job-per-exchange driver overhead it adds is smaller than
    what its re-planning saves."""
    if (
        spark.conf.get("spark.sparkplug.loopparts.enabled", "true")
        == "false"
    ):
        yield
        return
    # Guard: the override is session-global, so a streaming query running
    # micro-batches on THIS session while a scope is active would be a
    # silent hazard for any concurrent batch job submitted on it.  The
    # one legitimate overlap — rank loops inside a foreachBatch writer —
    # passes naturally: Structured Streaming hands foreachBatch a frame
    # bound to a PER-BATCH CLONED session (own SQLConf, empty
    # streams.active — verified empirically in r11), so operators using
    # the batch frame's own session never see the outer query here.
    try:
        active = list(spark.streams.active)
    except Exception as e:  # noqa: BLE001 - Connect backends may lack .streams
        _log.warning(
            "shuffle_scope: cannot list this session's streaming queries "
            "(%s: %s); the active-stream guard is skipped",
            type(e).__name__,
            e,
        )
        active = []
    if active:
        raise RuntimeError(
            "shuffle_scope: this session has active streaming queries; "
            "the scope would mutate session-global "
            "spark.sql.shuffle.partitions under them.  Inside "
            "foreachBatch, build the operator from the BATCH frame's own "
            "session (the per-batch clone), not the outer session."
        )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n_partitions)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _global_running(
    df: DataFrame,
    order_cols,
    weight,  # Column: per-row contribution (integer-typed)
    out_col: str,
    release: bool,
) -> DataFrame:
    """Shared core of :func:`global_row_numbers` /
    :func:`global_prefix_sums`: range-repartition on the order key,
    running-sum ``weight`` within each sorted partition, and add
    per-partition SUM offsets from a driver side job (#partitions rows —
    bounded by cluster size, never by data).

    The caller must make ``order_cols`` a TOTAL order (append a unique id
    as tiebreak) — equal keys can straddle a range boundary, making their
    relative order partition-dependent otherwise.  The persisted sort is
    load-bearing: the side job and the output pass must see IDENTICAL
    range boundaries, which only holds while the sorted frame is pinned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .caching import materialize_release

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    spark = df.sparkSession
    parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    sorted_df = (
        df.repartitionByRange(int(parts), *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__w", weight.cast("long"))
        .withColumn("__pid", F.spark_partition_id())
    ).persist()
    sums = {
        r["__pid"]: r["s"]
        for r in sorted_df.groupBy("__pid")
        .agg(F.sum("__w").alias("s"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid] or 0
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off long",
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        sorted_df.join(off_df, "__pid")
        .withColumn(
            out_col, (F.sum("__w").over(w) + F.col("__off")).cast("long")
        )
        .drop("__pid", "__off", "__w")
    )
    return materialize_release(out, sorted_df, release=release)


def global_row_numbers(
    df: DataFrame,
    order_cols,
    rn_col: str = "row_num",
    release: bool = True,
) -> DataFrame:
    """Exact 1-based global row numbers in ``order_cols`` order WITHOUT a
    single-partition window — row numbers ARE weight-1 prefix sums, so
    this is :func:`_global_running` with a unit weight.  The scalable
    twin of ``row_number() OVER (ORDER BY ...)`` (which Spark executes on
    ONE partition): same result at any row count, for one extra side job
    over the pinned sort (see the core's correctness note)."""
    from pyspark.sql import functions as F

    return _global_running(df, order_cols, F.lit(1), rn_col, release)


def global_prefix_sums(
    df: DataFrame,
    order_cols,
    weight_col: str,
    cum_col: str = "cum_weight",
    release: bool = True,
) -> DataFrame:
    """Exact running totals of ``weight_col`` in ``order_cols`` order
    WITHOUT a single-partition window — the weighted sibling of
    :func:`global_row_numbers` (same shared core; offsets are partition
    SUM prefixes).

    ``weight_col`` must be INTEGER-typed: the running total is exact
    BIGINT arithmetic, and silently truncating fractional weights would
    betray the "exact" contract — rescale (e.g. to micros) first."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[weight_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"global_prefix_sums: weight_col {weight_col!r} must be an "
            f"integer type for exact totals, got {dt.simpleString()} — "
            "rescale to integer units (e.g. micros) first"
        )
    return _global_running(df, order_cols, F.col(weight_col), cum_col, release)
