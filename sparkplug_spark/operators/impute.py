"""Null imputation — the statistical complement of the rules engine.

The reference fills data holes with explicit SQL rules (its README's
stated purpose); this operator fills them from the DATA: per-column
strategies computed per group and joined back.  Use rules when the fix
is knowable ("brand X implies category Y"), impute_nulls when it is
statistical ("missing price → group median").

Strategies (all deterministic, engine-reproducible):

- ``("const", v)`` — literal fill.
- ``"median"`` — exact rank-pick lower median of the non-null values
  (``ceil(n/2)``-th in (value, ascending) order — never interpolation,
  so the filled value is a value that exists and both engines agree).
- ``"mode"`` — most frequent non-null value; ties resolve to the
  smallest value.
- ``"mean"`` — arithmetic mean (float; NOT oracle-hash-stable across
  engines because double summation order differs — fine inside Spark,
  avoid when results must reproduce bit-exactly elsewhere).

Plan shape: one aggregation per (strategy) over the group key builds a
tiny fill table (one row per group), broadcast-joined back, then a
narrow ``coalesce`` projection.  Shuffles touch only (group, value)
pairs; the input scans once per distinct strategy kind plus once for the
output join.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine import _ident

__all__ = ["impute_nulls", "suggest_fill_rules"]


def _fill_table(
    df: DataFrame, by: list[str], col: str, strategy
) -> DataFrame:
    """(by..., __fill_<col>) one row per group with non-null values."""
    nn = df.filter(F.col(col).isNotNull())
    out_col = f"__fill_{col}"
    if strategy == "median":
        w = Window.partitionBy(*by).orderBy(F.asc(col))
        cw = Window.partitionBy(*by)
        ranked = nn.select(
            *by,
            F.col(col),
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(cw).alias("__n"),
        )
        return ranked.filter(
            F.col("__rn") == F.ceil(F.col("__n") / 2)
        ).select(*by, F.col(col).alias(out_col))
    if strategy == "mode":
        counts = nn.groupBy(*by, col).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.partitionBy(*by).orderBy(F.desc("__c"), F.asc(col))
        return (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*by, F.col(col).alias(out_col))
        )
    if strategy == "mean":
        return nn.groupBy(*by).agg(F.avg(col).alias(out_col))
    raise ValueError(f"unknown strategy {strategy!r} for column {col}")


def impute_nulls(
    df: DataFrame,
    strategies: Mapping[str, object],
    by: Sequence[str] = (),
) -> DataFrame:
    """Fill nulls per column: ``strategies`` maps column → ``"median"`` |
    ``"mode"`` | ``"mean"`` | ``("const", value)``; ``by`` computes the
    statistic per group (a group whose values are ALL null keeps its
    nulls — there is nothing to learn from; chain a const fill after
    when a hard default is required)."""
    if not strategies:
        raise ValueError("strategies must be non-empty")
    by = list(by)
    out = df
    for col, strat in strategies.items():
        if isinstance(strat, tuple):
            kind, value = strat
            if kind != "const":
                raise ValueError(f"unknown strategy {strat!r} for column {col}")
            out = out.withColumn(
                col,
                F.coalesce(
                    F.col(col), F.lit(value).cast(df.schema[col].dataType)
                ),
            )
            continue
        fills = _fill_table(df, by, col, strat)
        if by:
            # null-safe join: a NULL group key is still a group and must
            # receive the fill computed for it; fill keys renamed so the
            # join keeps unambiguous names to drop afterwards
            fills = fills.select(
                *[F.col(c).alias(f"__by_{c}") for c in by], f"__fill_{col}"
            )
            cond = [
                F.col(c).eqNullSafe(F.col(f"__by_{c}")) for c in by
            ]
            joined = out.join(F.broadcast(fills), cond, "left").drop(
                *[f"__by_{c}" for c in by]
            )
        else:
            # LEFT join on true, never crossJoin: an all-null column
            # yields a 0-row fill table, and a cross join would silently
            # drop every output row instead of keeping the nulls
            joined = out.join(F.broadcast(fills), F.lit(True), "left")
        out = joined.withColumn(
            col,
            F.coalesce(
                F.col(col),
                F.col(f"__fill_{col}").cast(df.schema[col].dataType),
            ),
        ).drop(f"__fill_{col}")
    return out


def _sql_literal(v, col: str) -> str:
    """Render a Python value as a Spark SQL literal for a rule condition.
    Only types that round-trip exactly through SQL text are accepted."""
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        raise ValueError(
            f"group value for {col!r} is non-finite ({v!r}); NaN/inf cannot "
            "be carried in a rule condition literal"
        )
    if isinstance(v, (int, float)):
        return repr(v)
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, decimal.Decimal):
        if not v.is_finite():
            raise ValueError(f"group value for {col!r} is non-finite: {v!r}")
        return str(v)
    if not isinstance(v, str):
        raise ValueError(
            f"group value for {col!r} has type {type(v).__name__}, which "
            "does not round-trip through a rule condition literal"
        )
    if "\\" in v or "\n" in v:
        raise ValueError(
            f"group value for {col!r} contains characters a rule condition "
            f"literal cannot carry safely: {v!r}"
        )
    return "'" + v.replace("'", "''") + "'"


def suggest_fill_rules(
    df: DataFrame,
    strategies: Mapping[str, object],
    by: Sequence[str] = (),
    name_prefix: str = "fill",
    version: str = "v1",
    max_groups: int = 10_000,
):
    """Turn per-group statistical fills into DECLARATIVE rules — the
    bridge from :func:`impute_nulls` (learn the fill from data) to the
    rules engine (ship the fill as a reviewable, versioned rule set, the
    reference's native currency).

    For every target column and group, emits one ``PlugRule`` whose
    condition is ``<col> IS NULL AND <by> = <group>`` and whose single
    action writes the group's median/mode/const as a literal.  Applying
    the returned rules with ``SparkPlug.plug`` reproduces
    ``impute_nulls(df, strategies, by)`` exactly (oracle-checked by the
    ``impute_rules`` query) — but the fills become inspectable, diffable
    artifacts that survive the dataset they were learned from.

    The fill tables are tiny (one row per group) — collecting them to the
    driver is the point: rules are driver-side objects.  That only holds
    while the group cardinality is bounded, so a ``count()`` pre-check
    fails loudly above ``max_groups`` (default 10k) instead of letting a
    high-cardinality ``by`` key OOM the driver.  ``"mean"`` is
    rejected (float literals round-trip through rule text; medians and
    modes are values that exist in the data)."""
    from ..models import PlugAction, PlugRule

    if not strategies:
        raise ValueError("strategies must be non-empty")
    if max_groups <= 0:
        raise ValueError("max_groups must be positive")
    by = list(by)
    if by:
        # One count() against the distinct group keys before ANY per-column
        # fill table is collected: a rule set is a reviewable artifact, and
        # nobody reviews a million rules — fail loudly, don't OOM the driver.
        n_groups = df.select(*by).distinct().count()
        if n_groups > max_groups:
            raise ValueError(
                f"suggest_fill_rules: {n_groups} distinct groups for "
                f"by={by} exceeds max_groups={max_groups}; a rule per group "
                "would not be a reviewable rule set (and collecting the fill "
                "table could exhaust driver memory). Coarsen the grouping or "
                "raise max_groups explicitly."
            )
    rules = []
    for col, strat in strategies.items():
        if isinstance(strat, tuple):
            kind, value = strat
            if kind != "const":
                raise ValueError(f"unknown strategy {strat!r} for column {col}")
            if "`" in str(value):
                raise ValueError(
                    f"const fill for {col!r} contains a backtick, which the "
                    f"rule language reserves for expressions: {value!r}"
                )
            rules.append(
                PlugRule(
                    f"{name_prefix}_{col}_const",
                    version,
                    f"{_ident(col)} IS NULL",
                    (PlugAction(col, str(value)),),
                )
            )
            continue
        if strat == "mean":
            raise ValueError(
                "mean fills are float-valued and do not round-trip through "
                "rule literals exactly; use 'median' or ('const', v)"
            )
        fills = _fill_table(df, by, col, strat)
        rows = sorted(
            fills.collect(), key=lambda r: tuple(str(r[c]) for c in by)
        )
        for i, r in enumerate(rows):
            conds = [f"{_ident(col)} IS NULL"] + [
                f"{_ident(c)} IS NULL"
                if r[c] is None
                else f"{_ident(c)} = {_sql_literal(r[c], c)}"
                for c in by
            ]
            fill = r[f"__fill_{col}"]
            value = str(fill)
            if "`" in value:
                raise ValueError(
                    f"fill value for {col!r} contains a backtick, which the "
                    f"rule language reserves for expressions: {value!r}"
                )
            rules.append(
                PlugRule(
                    f"{name_prefix}_{col}_{i}",
                    version,
                    " AND ".join(conds),
                    (PlugAction(col, value),),
                )
            )
    return rules
