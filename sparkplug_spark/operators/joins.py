"""Join operators Spark lacks natively: as-of (nearest-predecessor) join
and bucketed range join.

Scale design: both avoid the O(n·m) conditional-join explosion a naive
``l.ts >= r.ts`` join produces.  The as-of join is the union + window plan
(one hash shuffle per side on the ``by`` keys, then a single ordered pass
per key group); the range join buckets time so the equi-join prunes
candidates to adjacent buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..caching import materialize_release
from ..partitioning import spread
from ._pairs import drop_hot_keys, same_key_pairs

__all__ = [
    "asof_join",
    "range_join",
    "interval_overlap_join",
    "salted_join",
    "blocked_link",
    "bloom_semi_join",
    "edit_distance_pairs",
    "radius_join",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = ("user_id",),
    right_cols: Sequence[str] = ("value",),
    prefix: str = "asof_",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach one right row from the same ``by`` group:

    - ``backward`` (default): the LAST right row with ``right.on <=
      left.on`` (ties included — DuckDB ``ASOF LEFT JOIN ... ON l.on >=
      r.on`` semantics).
    - ``forward``: the FIRST right row with ``right.on >= left.on``.
    - ``nearest``: whichever of the two is closer in time; exact-distance
      ties resolve backward.  Requires ``on`` castable to double
      (timestamp or numeric).

    Right rows contribute ``{prefix}{on}`` plus ``{prefix}{c}`` for each
    of ``right_cols``; left rows keep all columns.

    Plan: tag sides, union, then window passes per ``by`` group ordered
    by (on, side) taking the running ``last``/``first`` right struct with
    ``ignorenulls``.  Side ordering at equal timestamps makes the tie
    visible to the left row in the direction's frame.  No join node at
    all: the only shuffle is the window's hash partitioning on ``by``
    (``nearest`` adds a second sort, not a second shuffle) — skew follows
    the key distribution, same as any keyed window."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be backward, forward or nearest")
    by = list(by)
    right_cols = list(right_cols)
    lcols = left.columns

    from pyspark.sql.types import TimestampNTZType, TimestampType

    def numeric_key(col: Column, dt) -> Column:
        # timestamps compare as EXACT integer micros — a double-seconds
        # cast has ~0.25µs ulps near current epochs, which can flip an
        # exact-distance tie away from the documented backward resolution
        if isinstance(dt, TimestampNTZType):
            col = col.cast("timestamp")
            dt = TimestampType()
        if isinstance(dt, TimestampType):
            return F.unix_micros(col).cast("double")
        return col.cast("double")

    # __tsn rides inside the struct so `nearest` can compare distances
    # without re-joining the match back to the right side
    rv = F.struct(
        F.col(on).alias(on),
        *[F.col(c).alias(c) for c in right_cols],
        numeric_key(F.col(on), right.schema[on].dataType).alias("__tsn"),
    ).alias("__rv")
    r = right.select(
        *by,
        F.col(on).alias("__ts"),
        F.lit(0).alias("__side"),
        rv,
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in lcols],
    )
    l = left.select(
        *by,
        F.col(on).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
    )
    # backward frame: right rows sort BEFORE left at equal ts (side asc)
    # so `last` over the preceding frame sees the tie (>= semantics);
    # forward frame mirrors it (side desc, `first` over the following frame)
    wb = (
        Window.partitionBy(*by)
        .orderBy(F.asc("__ts"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*by)
        .orderBy(F.asc("__ts"), F.desc("__side"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    u = r.unionByName(l)
    if direction == "backward":
        u = u.withColumn("__match", F.last("__rv", ignorenulls=True).over(wb))
    elif direction == "forward":
        u = u.withColumn("__match", F.first("__rv", ignorenulls=True).over(wf))
    else:
        b = F.last("__rv", ignorenulls=True).over(wb)
        f = F.first("__rv", ignorenulls=True).over(wf)
        u = u.withColumn("__b", b).withColumn("__f", f)
        ltsn = numeric_key(F.col("__ts"), left.schema[on].dataType)
        u = u.withColumn(
            "__match",
            F.when(F.col("__f").isNull(), F.col("__b"))
            .when(F.col("__b").isNull(), F.col("__f"))
            .when(
                (ltsn - F.col("__b.__tsn")) <= (F.col("__f.__tsn") - ltsn),
                F.col("__b"),
            )
            .otherwise(F.col("__f")),
        )
    matched = u.filter(F.col("__side") == 1)
    return matched.select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        F.col(f"__match.{on}").alias(f"{prefix}{on}"),
        *[F.col(f"__match.{c}").alias(f"{prefix}{c}") for c in right_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str = "ts",
    right_start: str = "start",
    right_end: str = "end",
    by: Sequence[str] = (),
    bucket: str = "1 hour",
) -> DataFrame:
    """Inner join of left rows to right intervals containing them
    (``right_start <= left_ts < right_end``), bucketed so the equi-join on
    (by, time-bucket) prunes candidates instead of a full conditional
    cross product.  Right intervals are exploded into the buckets they
    overlap; intervals much longer than ``bucket`` replicate
    proportionally — pick ``bucket`` near the typical interval length."""
    by = list(by)
    secs = F.unix_timestamp
    bucket_s = F.lit(_duration_seconds(bucket))
    # floor, not double-divide + cast: cast truncates toward zero, which
    # disagrees with floor for pre-1970 (negative epoch) timestamps and
    # would bucket such rows off-by-one (silently dropping matches)
    lb = left.withColumn("__bucket", F.floor(secs(F.col(left_ts)) / bucket_s))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(secs(F.col(right_start)) / bucket_s),
                F.floor(secs(F.col(right_end)) / bucket_s),
            )
        ),
    )
    cond = [lb["__bucket"] == rb["__bucket"]] + [lb[c] == rb[c] for c in by]
    out = lb.join(rb, cond).filter(
        (rb[right_start] <= lb[left_ts]) & (lb[left_ts] < rb[right_end])
    )
    return out.drop(rb["__bucket"]).drop(lb["__bucket"]).drop(*[rb[c] for c in by])


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    by: Sequence[str] = (),
    bucket: str = "1 hour",
) -> DataFrame:
    """Inner join of overlapping intervals (half-open:
    ``l_start < r_end AND r_start < l_end``) — session-vs-session,
    outage-vs-job style matching — without the O(n·m) conditional-join
    cross product.

    Both sides explode into the time buckets they cover and equi-join on
    (by, bucket).  A pair overlapping several shared buckets would
    duplicate, so the join keeps only the FIRST shared bucket
    (``bucket == floor(greatest(l_start, r_start))``) — an equality
    predicate, no distinct pass needed.  Pick ``bucket`` near the typical
    interval length; longer intervals replicate proportionally."""
    by = list(by)
    secs = F.unix_timestamp
    bucket_s = F.lit(_duration_seconds(bucket))
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(secs(F.col(left_start)) / bucket_s),
                F.floor(secs(F.col(left_end)) / bucket_s),
            )
        ),
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(secs(F.col(right_start)) / bucket_s),
                F.floor(secs(F.col(right_end)) / bucket_s),
            )
        ),
    )
    first_shared = F.floor(
        F.greatest(secs(lb[left_start]), secs(rb[right_start])) / bucket_s
    )
    cond = [lb["__bucket"] == rb["__bucket"]] + [lb[c] == rb[c] for c in by]
    out = lb.join(rb, cond).filter(
        (lb[left_start] < rb[right_end])
        & (rb[right_start] < lb[left_end])
        & (lb["__bucket"] == first_shared)
    )
    return out.drop(rb["__bucket"]).drop(lb["__bucket"]).drop(*[rb[c] for c in by])


def _duration_seconds(text: str) -> int:
    qty, unit = text.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        unit.rstrip("s")
    ]
    return int(qty) * mult


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salts: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with key salting for skewed keys: left rows get a random
    salt in [0, salts); the (small-ish) right side is replicated once per
    salt value; the join key becomes (on, salt), splitting each hot key's
    rows across ``salts`` tasks instead of one straggler.

    AQE's skew-join handles sort-merge skew automatically; salting remains
    the tool when AQE can't help (hash aggregation downstream, or a single
    key too hot for any split AQE chooses).  Result set is identical to the
    unsalted join (salt is internal).  ``how`` limited to inner/left —
    replicating the right side breaks semi/anti semantics."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    l = left.withColumn("__salt", (F.rand(seed) * salts).cast("int"))
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = l.join(r, [on, "__salt"], how)
    return out.drop("__salt")


def blocked_link(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_distance: int = 2,
    max_block_size: int = 10_000,
    release: bool = True,
    metrics: Observation | None = None,
) -> DataFrame:
    """Record linkage by blocking + edit distance: candidate pairs are
    generated only WITHIN a block (equal values of ``block_cols`` — the
    classic blocking step of Fellegi–Sunter-style entity resolution), then
    kept when ``levenshtein(name_a, name_b) <= max_distance``.

    Output: (id_a, id_b, distance BIGINT), ``id_a < id_b``, one row per
    linked pair.  NULL block keys never match (SQL equality semantics —
    a NULL-keyed row joins nothing).

    Scale: the self-join shuffles once on the block key and its output is
    sum of block_size² — linear in input only while blocks stay small, so
    blocks larger than ``max_block_size`` are dropped from candidate
    generation entirely (the E3-style stop-key guard: an under-specified
    block key on 100 TB would otherwise emit quadrillions of pairs; a
    dropped block is a recall trade recorded by the caller's choice of
    key, never an OOM).  Levenshtein runs JVM-side inside codegen on the
    already-filtered candidates.

    Pass an ``Observation`` as ``metrics`` for exact ``dropped_blocks`` /
    ``dropped_rows`` counts (``_pairs.hot_keys``)."""
    if not block_cols:
        raise ValueError("block_cols must be non-empty")
    blocks = [F.col(c) for c in block_cols]
    # struct-keyed join treats NULL fields as equal; SQL equality must not
    # — rows with any NULL block key can never link, so drop them first
    null_free_cond = blocks[0].isNotNull()
    for b in blocks[1:]:
        null_free_cond = null_free_cond & b.isNotNull()
    null_free = df.filter(null_free_cond)
    # three consumers (sizes + join left/right): persist the narrow
    # projection once instead of re-scanning the input per consumer.
    # spread() first: the block self-join broadcasts its build side, so
    # the O(Σ block²) candidate filter + levenshtein DP inherit the
    # SCAN's partitioning — a single-row-group input would run the whole
    # quadratic stage on one core (the CLAUDE.md 1-partition invariant;
    # no-op on well-split production inputs)
    base = spread(null_free.select(
        F.struct(*blocks).alias("__blk"),
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
    )).persist()
    small = drop_hot_keys(
        base, ["__blk"], max_block_size, metrics, ("dropped_blocks", "dropped_rows")
    )
    # its own join, not ``same_key_pairs``: this one renames each side
    # BEFORE the join, which keeps the optimized and physical plans the
    # graph_pair benchmark measures unchanged
    left = small.select(
        "__blk", F.col("__id").alias("id_a"), F.col("__name").alias("__na")
    )
    right = small.select(
        "__blk", F.col("__id").alias("id_b"), F.col("__name").alias("__nb")
    )
    out = (
        left.join(right, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # length pre-filter: |len(a)-len(b)| > d makes edit distance > d,
        # so the O(len²) levenshtein DP never runs on hopeless pairs
        .filter(
            F.abs(F.length("__na") - F.length("__nb")) <= max_distance
        )
        # bounded levenshtein (threshold arg): the DP early-exits once a
        # row of the band exceeds d and returns -1 — O(d·len) not O(len²)
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__na"), F.col("__nb"), int(max_distance))
            .cast("long")
            .alias("distance"),
        )
        .filter(F.col("distance") >= 0)
    )
    # linked pairs are orders smaller than the blocked candidate set
    return materialize_release(out, base, release=release)


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    key: str | None = None,
    bits: int = 1 << 20,
    hashes: int = 5,
    mode: str = "semi",
) -> DataFrame:
    """EXACT semi/anti join of ``big`` against the distinct ``key`` set of
    ``keys``, with a Bloom prefilter so the shuffle only ever sees the
    bloom-positive sliver of ``big``.

    The target shape is the 100 TB one where ``keys`` is too large to
    broadcast (so Spark would hash-shuffle BOTH sides) but its distinct
    key set fits a ``bits``-bit bitmap (2^20 bits = 128 KB ≈ 1% false
    positives at ~10^5 keys).  The filter is built distributed (one
    ``bit_or`` aggregation, ``bits/8`` bytes to the driver — independent
    of key count, `functions/bloom.py::build_bloom`), then probed by a
    narrow Arrow kernel on ``big``'s scan side: no shuffle, no explode.
    Bloom has NO false negatives, so results are bit-identical to the
    plain join:

    - ``mode="semi"``: bloom-negative rows are definite non-members and
      are dropped before the exact LEFT SEMI join; only positives (true
      members + ~1% false positives) shuffle.
    - ``mode="anti"``: bloom-negative rows are KEPT outright; only the
      positive sliver pays the exact LEFT ANTI join, then the two are
      unioned.  ``big`` is scanned twice (each pass a pruned columnar
      scan + narrow filter) — at scale two scans are far cheaper than
      shuffling the full table, and a caller that already persisted
      ``big`` pays one.

    NULL join keys probe negative: semi drops them (SQL semi join never
    matches NULL), anti keeps them (LEFT ANTI keeps unmatched rows) —
    both matching the plain-join behavior the oracle checks."""
    from ..functions.bloom import bloom_contains_key, build_bloom
    from ..functions.text import hash60

    if mode not in ("semi", "anti"):
        raise ValueError("mode must be semi or anti")
    key = key or on
    key_hashes = keys.select(hash60(F.col(key).cast("string")).alias("__bk"))
    blob = build_bloom(key_hashes, "__bk", bits, hashes)
    probe = bloom_contains_key(
        blob, bits, hashes, hash60(F.col(on).cast("string"))
    )
    keyset = keys.select(F.col(key).alias(on)).dropDuplicates([on])
    if mode == "semi":
        return big.filter(probe).join(keyset, on, "left_semi")
    positives = big.filter(probe).join(keyset, on, "left_anti")
    return big.filter(~probe).unionByName(positives)


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "name",
    id_col: str = "id",
    max_distance: int = 1,
    q: int = 2,
    release: bool = True,
) -> DataFrame:
    """EXACT edit-distance self-join: all pairs whose Levenshtein
    distance is ≤ ``max_distance`` — typo-level entity matching (names,
    SKUs, addresses) where token/shingle similarity is too coarse.
    Candidates via **ED-Join prefix filtering** (Xiao, Wang & Lin,
    VLDB'08): one edit destroys at most ``q`` positional q-grams, so
    strings within distance k share ≥ max(n_a, n_b) − q·k grams
    (multiset, n = len − q + 1) — which by the prefix principle means
    their first ``q·k + 1`` grams under a global rarest-first order must
    intersect.  Only those prefix slivers are indexed and joined —
    complete, no stop-key cap, and the Zipf-head grams (shared
    boilerplate prefixes like ``Customer#``) land in almost no prefix.

    Strings too short for the bound to bite (len < q·k + q, where a
    qualifying pair can share zero grams) are handled by a separate
    all-pairs pass over the short sliver — bounded by the short-string
    count, which on any real corpus is tiny (document if yours is not).

    Verification is ``levenshtein(a, b, k)`` — Spark's thresholded DP
    cuts off at k+1 rows, so verify cost is O(k·len) per candidate, not
    O(len²).  Returns (id_a, id_b, distance) with ``id_a < id_b``.

    Plan: one gram explode persisted and shared by the freq / prefix
    consumers (released on return); per-string prefix rank is a
    PER-STRING window; the join shuffles only (gram, occ) prefix
    postings ≤ (q·k+1) rows/string; texts re-join by id only for the
    candidate pairs."""
    from pyspark.storagelevel import StorageLevel

    if max_distance < 1:
        raise ValueError("max_distance must be >= 1")
    if q < 1:
        raise ValueError("q must be >= 1")
    k = int(max_distance)
    prefix_len = q * k + 1
    min_long_len = q * k + q  # longer side shorter than this -> short pass

    # NOTE: deliberately NOT spread() here (r11 A/B: +0.4 s at sf0.1,
    # flat for golden_records) — the rank-window exchange right below
    # already redistributes before every expensive stage, unlike
    # blocked_link where the quadratic DP inherits the scan layout
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    ).withColumn("len", F.length("t"))
    # positional q-gram multiset as (gram, occ) set elements: occ numbers
    # repeat occurrences so multiset intersection = set join
    grams = (
        base.filter(F.col("len") >= q)
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(t) - {q} + 1),"
                    f" i -> substring(t, i, {q}))"
                )
            ).alias("pos", "g"),
        )
        .withColumn(
            "occ",
            F.row_number().over(
                Window.partitionBy("id", "g").orderBy(F.asc("pos"))
            ),
        )
        .select("id", "g", "occ")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = grams.groupBy("g", "occ").agg(F.count(F.lit(1)).alias("__f"))
    wp = Window.partitionBy("id").orderBy(F.asc("__f"), F.asc("g"), F.asc("occ"))
    # persisted: BOTH sides of the candidate self-join read this frame —
    # un-persisted, the freq join + rank window execute twice (and race
    # the grams cache), tripling the operator's wall time
    prefix = (
        grams.join(freq, ["g", "occ"])
        .withColumn("__pos", F.row_number().over(wp))
        .filter(F.col("__pos") <= prefix_len)
        .select("id", "g", "occ")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = same_key_pairs(prefix, ["g", "occ"]).distinct()
    # short sliver: pairs where BOTH sides are under the bound's reach
    short = base.filter(F.col("len") < min_long_len).select("id", "len")
    sa, sb = short.alias("sa"), short.alias("sb")
    cand_short = sa.join(
        sb,
        (F.col("sa.id") < F.col("sb.id"))
        & (F.abs(F.col("sa.len") - F.col("sb.len")) <= k),
    ).select(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
    all_cand = cand.unionByName(cand_short).distinct()
    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("__ta"),
                     F.col("len").alias("__la"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("__tb"),
                     F.col("len").alias("__lb"))
    out = (
        all_cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= k)
        .withColumn(
            "distance",
            F.levenshtein(F.col("__ta"), F.col("__tb"), k).cast("long"),
        )
        .filter((F.col("distance") >= 0) & (F.col("distance") <= k))
        .select("id_a", "id_b", "distance")
    )
    return materialize_release(out, grams, prefix, release=release)


def radius_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str = "id_a",
    id_right: str = "id_b",
    lat_col: str = "lat_udeg",
    lon_col: str = "lon_udeg",
    radius_udeg: int = 100_000,
) -> DataFrame:
    """Planar radius join over integer micro-degree points — the
    spatial join Spark lacks, in the exact-integer house style:
    ``(id_left, id_right, d2_udeg2)`` for every cross pair within
    ``radius_udeg`` of each other, where ``d2_udeg2`` is the EXACT
    integer squared planar distance ``dlat² + dlon²``.

    Semantics are planar micro-degrees (the grid-file approximation
    every cell-based spatial join makes at city/regional scale);
    callers needing great-circle truth at continental radii should
    post-filter with haversine on the surviving (already tiny) pair
    set — documented boundary, matching how the banded-LSH tiers hand
    exact verification a bounded candidate set.

    Plan: coordinates shift non-negative (lat+90e6, lon+180e6) so
    integer division floors identically in Spark and DuckDB, each
    point maps to a radius-sized grid cell, the LEFT side fans out to
    its 3x3 cell neighborhood (9x|L| candidate rows — the standard
    grid trade) and equi-joins the right side's single home cell, so
    every qualifying pair surfaces EXACTLY once (no dedup pass); the
    exact integer filter then decides.  Only (id, two coords, two cell
    ints) shuffle; dlat,dlon <= 360e6 keep d2 < 2^63.  Skewed cells
    (a city) are AQE's skew-join case, same as any hot join key.
    Self-joining one table: persist the frame BEFORE passing it as
    both sides (the r7 un-persisted-self-join rule — both arms would
    otherwise re-execute and race its chain)."""
    if radius_udeg < 1:
        raise ValueError("radius_udeg must be >= 1")
    r = int(radius_udeg)

    def prep(df: DataFrame, id_col: str, tag: str) -> DataFrame:
        lat = F.col(lat_col).cast("long")
        lon = F.col(lon_col).cast("long")
        return (
            df.where(lat.isNotNull() & lon.isNotNull())
            .select(
                F.col(id_col).alias(f"__id{tag}"),
                lat.alias(f"__lat{tag}"),
                lon.alias(f"__lon{tag}"),
                F.expr(
                    f"({lat_col} + 90000000L) div {r}"
                ).alias(f"__cy{tag}"),
                F.expr(
                    f"({lon_col} + 180000000L) div {r}"
                ).alias(f"__cx{tag}"),
            )
        )

    l = prep(spread(left), id_left, "l")
    rt = prep(right, id_right, "r")
    # 3x3 neighborhood fan-out on the LEFT only: each right point keeps
    # its single home cell, so a pair can match through exactly one cell
    lx = l.select(
        "__idl",
        "__latl",
        "__lonl",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dy ->"
                " transform(sequence(-1, 1), dx ->"
                " struct(__cyl + dy AS cy, __cxl + dx AS cx))))"
            )
        ).alias("__c"),
    ).select(
        "__idl",
        "__latl",
        "__lonl",
        F.col("__c.cy").alias("__cy"),
        F.col("__c.cx").alias("__cx"),
    )
    d2 = F.expr(
        "(__latl - __latr) * (__latl - __latr)"
        " + (__lonl - __lonr) * (__lonl - __lonr)"
    )
    return (
        lx.join(
            rt.withColumnsRenamed({"__cyr": "__cy", "__cxr": "__cx"}),
            ["__cy", "__cx"],
        )
        .where(d2 <= F.lit(r * r))
        .select(
            F.col("__idl").alias(id_left),
            F.col("__idr").alias(id_right),
            d2.cast("long").alias("d2_udeg2"),
        )
    )
