"""The SparkPlug engine: sequential conditional-override rules, Spark-first.

Reference semantics (``SparkPlug.scala``, ``PlugRule.scala``) re-expressed
without temp views or UDFs.  Like the reference's generated ``select``
(``PlugRule.scala:49-77``), each rule compiles to SQL text: one
``CASE WHEN`` string per written column under one ``F.expr``, with
conditions and backtick values parsed alone before they are embedded
(``_rule_columns``):

- one rule = one ``CASE WHEN`` text per written column, every expression
  reading the rule's *input* columns (identical to the reference's single
  generated ``select``, ``SparkPlug.scala:98-107``);
- rules fold sequentially, so rule k+1 observes rule k's writes
  (``SparkPlug.scala:42-50``).  ``SparkPlug.plug`` applies the fold in
  *levels*: a maximal run of consecutive rules in which no rule reads a
  column an earlier rule of the run writes is one ``df.withColumns``, one
  analysis and one ``Project``, because each rule's input is the level's
  input.  What a rule reads comes from the parse of its fragments (column
  and lambda-variable names, compared as ``spark.sql.caseSensitive``
  says) plus its own action keys; a star, a regex column or a subquery
  may read any column and gets a level of its own;
- the rule chain runs as a narrow, shuffle-free chain of projections in
  one codegen stage.  Catalyst's ``CollapseProject`` merges consecutive
  levels only while no level reads an earlier level's write more than
  once.  Measured over a checkpointed input, with plug details on: 20
  rules that each test and rewrite their own column are one level and
  optimize to 1 ``Project`` (20 as a fold of per-rule ``apply_rule``);
  25 rules that each test and rewrite the same column are 25 levels and
  25 ``Project`` nodes; the benchmark's 20-rule ``rules_deep`` chain is
  13 levels and 13 ``Project`` nodes (20 as a per-rule fold).  The
  reference needed checkpoint cadence because per-rule temp views + UDF
  boundaries defeated fusion; the cadence stays an opt-in knob for long chains
  (``SparkPlug.scala:109-125``), and a level ends where it fires;
- plug-details audit appends ``array(named_struct(...))`` entries gated on
  ``condition AND any value actually changed`` using null-safe equality
  (``PlugRule.scala:49-77``, ``SparkPlugUDFs.scala:14-31``), one
  ``concat`` per level with the entries in rule order;
- changed-row metrics via ``DataFrame.observe`` — piggybacks on the caller's
  action instead of the reference's extra accumulator job
  (``SparkPlug.scala:52-62``).

SQL text, not ``Column`` composition, because on PySpark classic every
``Column`` call makes 10-20 py4j round trips (call-site capture) and a rule
needs dozens of them; one ``F.expr`` per written column makes 3.

Documented deviations (SURVEY §2.1 Q1-Q4): struct keys work at any depth in
both validate and apply; old-value columns drop correctly; coercion failures
raise unless ``lenient=True`` (reference silently wrote SQL ``null``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import utils as sql_utils

from .models import (
    DEFAULT_PLUG_DETAILS_COLUMN,
    PLUG_DETAILS_SCHEMA_DDL,
    PlugRule,
    PlugRuleValidationError,
)
from .validation import (
    CoercionError,
    build_fields_map,
    coerce_action_value,
    validate_rules,
)

__all__ = [
    "SparkPlug",
    "CheckpointConfig",
    "PlugDetailsConfig",
    "PlugRuleValidationException",
    "apply_rule",
    "apply_rule_reference_compat",
    "plug",
    "default_details_entry",
]


class PlugRuleValidationException(Exception):
    """Raised by :meth:`SparkPlug.plug` when validation is enabled and fails
    (pythonic replacement for the reference's ``Either``,
    ``SparkPlug.scala:29-40``)."""

    def __init__(self, errors: list[PlugRuleValidationError]):
        self.errors = errors
        super().__init__("; ".join(f"{e.name}: {e.error}" for e in errors))


@dataclass(frozen=True)
class CheckpointConfig:
    """Lineage-control cadence (reference ``SparkPlugCheckpointDetails``,
    ``SparkPlug.scala:14``, ``:109-125``).  The rule chain stays
    shuffle-free, but each level of rules that reads an earlier level's
    write more than once adds one ``Project`` to the plan (a chain of rules
    that all test and rewrite one column adds one per rule), so very long
    rule pipelines at large scale can cut lineage with this cadence.  A
    level ends where the cadence fires, so the repartitions and checkpoints
    land after the same rules as in a per-rule fold."""

    checkpoint_dir: str
    rules_per_stage: int
    num_partitions: int


def default_details_entry(rule: PlugRule) -> Column:
    """Audit entry appended per matched rule — shape of ``PlugDetail``
    (reference ``SparkPlugUDFs.scala:19-25``)."""
    return F.struct(
        F.lit(rule.name).alias("name"),
        F.lit(rule.version).alias("version"),
        F.array(*[F.lit(k) for k in rule.field_names]).alias("fieldNames"),
    )


@dataclass(frozen=True)
class PlugDetailsConfig:
    """Audit-column config; ``entry_builder`` is the extension point the
    reference modeled as a custom UDF subclass (``SparkPlugUDFs.scala:14-25``,
    README.md:108-136) — here just a ``rule -> Column(struct)`` callback plus
    the matching array schema DDL."""

    column: str = DEFAULT_PLUG_DETAILS_COLUMN
    schema_ddl: str = PLUG_DETAILS_SCHEMA_DDL
    entry_builder: Callable[[PlugRule], Column] = default_details_entry


def _value_column(
    action, data_type: T.DataType, lenient: bool
) -> Column:
    """Action value → Column: backtick SQL expression passthrough, else a
    typed literal (reference ``PlugRule.scala:126-141``)."""
    if action.is_expression:
        return F.expr(action.expression)
    try:
        return F.lit(coerce_action_value(action.value, data_type)).cast(data_type)
    except CoercionError:
        if lenient:
            # Reference quirk Q3: unvalidated coercion failure writes null
            # (PlugRule.scala:129).
            return F.lit(None).cast(data_type)
        raise


def _null_of(data_type: T.DataType) -> Column:
    return F.lit(None).cast(data_type)


def _ident(name: str) -> str:
    """Backtick-quoted identifier: any column name parses as one name."""
    return "`" + name.replace("`", "``") + "`"


def _quote(path: str) -> str:
    """Dotted column path as SQL text, each segment backtick-quoted."""
    return ".".join(_ident(p) for p in path.split("."))


def _sql_string(v: str, ddl: str = "STRING") -> str:
    # hex of the UTF-8 bytes: no quote, backslash, comment or newline in v
    # can reach the SQL lexer, whatever spark.sql.parser.escapedStringLiterals
    return f"CAST(X'{v.encode().hex()}' AS {ddl})"


def _sql_type(data_type: T.DataType) -> str:
    """DDL that parses back to ``data_type``; timestamps are spelled
    ``TIMESTAMP_LTZ`` so ``spark.sql.timestampType`` cannot retype them."""
    if isinstance(data_type, T.TimestampType):
        return "TIMESTAMP_LTZ"
    if isinstance(data_type, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{_ident(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in data_type.fields
        ) + ">"
    if isinstance(data_type, T.ArrayType):
        return f"ARRAY<{_sql_type(data_type.elementType)}>"
    if isinstance(data_type, T.MapType):
        return f"MAP<{_sql_type(data_type.keyType)}, {_sql_type(data_type.valueType)}>"
    return data_type.simpleString()


def _literal_sql(value: str, data_type: T.DataType, lenient: bool) -> str:
    """A literal action value as SQL text typed exactly like
    ``F.lit(coerce_action_value(value, data_type)).cast(data_type)``."""
    try:
        v = coerce_action_value(value, data_type)
    except CoercionError:
        if lenient:
            # Reference quirk Q3: unvalidated coercion failure writes null
            # (PlugRule.scala:129).
            return f"CAST(NULL AS {_sql_type(data_type)})"
        raise
    ddl = _sql_type(data_type)
    if isinstance(data_type, T.BooleanType):
        return "true" if v else "false"
    if isinstance(data_type, (T.FloatType, T.DoubleType)):
        # repr round-trips every double, nan/inf/-0.0 included
        return f"CAST(CAST('{v!r}' AS DOUBLE) AS {ddl})"
    if isinstance(data_type, T.StringType):
        return _sql_string(v, ddl)
    if isinstance(data_type, T.DecimalType):
        return f"CAST({v}BD AS {ddl})"
    if isinstance(data_type, T.DateType):
        return f"DATE'{v.isoformat()}'"
    if isinstance(data_type, T.TimestampType):
        # the process-local-time conversion createDataFrame applies; F.lit's
        # java.sql.Timestamp path agrees from ~1900 on, but before that it
        # applies the hybrid Julian calendar and the old zone offsets
        return f"timestamp_micros({T.TimestampType().toInternal(v)}L)"
    return f"CAST({v}L AS {ddl})"  # the integer types


def _require_classic() -> None:
    if sql_utils.is_remote():
        raise RuntimeError(
            "the rules engine needs a classic SparkSession (classic sessions "
            "only): plug() and validate() parse rule SQL with the JVM "
            "session's parser, which Spark Connect does not expose"
        )


def _parser(spark: SparkSession) -> Callable[[str], object]:
    """The session's SQL expression parser; raises ``ParseException``
    (``F.expr`` only parses when the plan is analyzed)."""
    return spark._jsparkSession.sessionState().sqlParser().parseExpression


_EXPRESSIONS = "org.apache.spark.sql.catalyst.expressions."
_ANALYSIS = "org.apache.spark.sql.catalyst.analysis."
# parsed nodes that name a column; inside a lambda body the parser makes a
# lambda variable of every plain name, an outer column included
_NAMING = frozenset(
    {_ANALYSIS + "UnresolvedAttribute", _EXPRESSIONS + "UnresolvedNamedLambdaVariable"}
)
# unresolved nodes that name no column; any other unresolved node (a star, a
# regex column, IDENTIFIER(...)) may read any column, and so may a subquery
_NAMELESS = frozenset(
    _ANALYSIS + c for c in ("UnresolvedFunction", "UnresolvedExtractValue", "UnresolvedAlias")
)
_SUBQUERIES = frozenset(_EXPRESSIONS + c for c in ("ListQuery", "ScalarSubquery", "Exists"))


def _names_read(tree) -> set[str] | None:
    """Every part of every name a parsed fragment reads, each part split
    again at ``", "`` (``toJSON`` prints name parts joined by it), so the
    set holds a piece of every column the fragment reads; ``None`` when
    the fragment may read any column.  One py4j call, no analysis (the
    unresolved tree's ``references`` misses lambda bodies, stars and
    subqueries)."""
    try:
        nodes = json.loads(tree.toJSON())
    except Exception:  # noqa: BLE001 - a tree we cannot read reads anything
        return None
    names: set[str] = set()
    todo = [nodes]
    while todo:
        node = todo.pop()
        if isinstance(node, list):
            todo.extend(node)
            continue
        if not isinstance(node, dict):
            continue
        todo.extend(node.values())  # the copies some nodes hold of children
        cls = node.get("class")
        if cls is None or cls in _NAMELESS:
            continue
        if cls in _NAMING:
            parts = node.get("nameParts")
            if not isinstance(parts, str) or parts[:1] + parts[-1:] != "[]" or (
                parts.endswith(" more fields]")  # truncated
            ):
                return None
            names.update(parts[1:-1].split(", "))
        elif not isinstance(cls, str) or not cls.startswith(_EXPRESSIONS) or cls in _SUBQUERIES:
            return None
    return names


def _fold_case(name: str) -> str:
    """Each character as the lower case of its upper case (one character
    each way), so names Spark's case-insensitive resolver equates (Java's
    ``equalsIgnoreCase``) fold to one string."""
    if name.isascii():
        return name.lower()
    return "".join((u if len(u := c.upper()) == 1 else c).lower()[0] for c in name)


def _pieces(names: Iterable[str], fold: Callable[[str], str]) -> set[str]:
    """``names`` folded and split at ``", "`` like :func:`_names_read`."""
    return {p for n in names for p in fold(n).split(", ")}


def _level_columns(
    level: list[tuple[dict[str, str | Column], str, str | Column | None]],
    details_column: str | None,
    schema_ddl: str,
) -> dict[str, Column]:
    """ONE projection for a level of compiled rules: every rule's written
    columns, and the details column with each rule's entry appended in rule
    order, ``concat(<details>, CASE WHEN <gate> THEN array(<entry>) ELSE
    <empty> END, ...)``."""
    cols = {
        name: F.expr(c) if isinstance(c, str) else c
        for written, _, _ in level
        for name, c in written.items()
    }
    if details_column is not None:
        details, empty = _quote(details_column), f"CAST(array() AS {schema_ddl})"
        if all(isinstance(entry, str) for _, _, entry in level):
            cols[details_column] = F.expr(
                f"concat({details}, "
                + ", ".join(
                    f"CASE WHEN {gate} THEN array({entry}) ELSE {empty} END"
                    for _, gate, entry in level
                )
                + ")"
            )
        else:
            cols[details_column] = F.concat(
                F.expr(details),
                *(
                    F.when(F.expr(gate), F.array(entry)).otherwise(F.expr(empty))
                    for _, gate, entry in level
                ),
            )
    return cols


def _apply_level(
    df: DataFrame, level: list, details_column: str | None, schema_ddl: str
) -> DataFrame:
    """``df`` with a level applied in one ``withColumns``.  If that fails,
    the level's rules are applied one by one, so the first failing rule
    raises its own error, as it does in a per-rule fold."""
    try:
        return df.withColumns(_level_columns(level, details_column, schema_ddl))
    except Exception:
        for compiled in level:
            df = df.withColumns(_level_columns([compiled], details_column, schema_ddl))
        raise


def _compile_rule(
    rule: PlugRule,
    fields: dict[str, T.DataType],
    entry_builder: Callable[[PlugRule], Column] | None,
    keep_old_field: bool,
    lenient: bool,
    parse: Callable[[str], object],
) -> tuple[dict[str, str | Column], str, str | Column | None]:
    """Compile ONE rule: its written top-level columns except the details
    column, each the reference's generated ``select`` item
    (``PlugRule.scala:49-77``) as SQL text that reads the rule's INPUT
    columns; its change gate; and its details entry (``None`` without an
    ``entry_builder``).

    A condition or backtick value is parsed ALONE first (``parse``), so a
    fragment such as ``a = 1) OR (b = 2`` raises instead of changing the
    text around it; it is then embedded as ``(<fragment>\\n)``, which also
    ends a trailing ``--`` comment.  Nested struct keys go through
    ``withField`` and a custom ``entry_builder`` keeps its ``Column``
    contract; both compose ``Column`` calls around the same SQL text.
    """

    def fragment(text: str) -> str:
        parse(text)
        return f"({text}\n)"

    def when(then: str, otherwise: str) -> str:
        return f"CASE WHEN {cond} THEN {then} ELSE {otherwise} END"

    def invalid(msg: str) -> PlugRuleValidationException:
        return PlugRuleValidationException([PlugRuleValidationError(rule.name, msg)])

    cond = fragment(rule.condition)
    # Value text + null-safe change gate per action, both against the INPUT
    # columns (PlugRule.scala:54-65): not(key <=> value), PlugRule.scala:58.
    values: dict[str, str] = {}
    gates: list[str] = []
    for action in rule.actions:
        dt = fields.get(action.key)
        if dt is None:
            raise invalid(f'Field "{action.key}" not found in the schema.')
        if action.is_expression:
            v = fragment(action.expression)
        else:
            try:
                v = _literal_sql(action.value, dt, lenient)
            except CoercionError:
                raise invalid(
                    f'Value "{action.value}" cannot be assigned to '
                    f"field {action.key}."
                ) from None
        values[action.key] = v
        gates.append(f"NOT ({_quote(action.key)} <=> {v})")

    # Group actions by top-level column; one replacement column each.
    by_parent: dict[str, list] = {}
    for action in rule.actions:
        by_parent.setdefault(action.update_key, []).append(action)

    out: dict[str, str | Column] = {}
    for parent, actions in by_parent.items():
        cur: str | Column = _quote(parent)  # SQL text until a withField
        for action in actions:
            v = values[action.key]
            if action.key == parent:
                # whole-column override
                cur = (
                    when(v, cur) if isinstance(cur, str)
                    else F.when(F.expr(cond), F.expr(v)).otherwise(cur)
                )
            else:
                # nested struct field, arbitrary depth via withField
                # (fixes reference Q2/Q4 — PlugRule.scala:102-124 handled
                # exactly 2 levels and collided on multi-action structs).
                if isinstance(cur, str):
                    cur = F.expr(cur)
                cur = cur.withField(
                    action.key.split(".", 1)[1],
                    F.expr(when(v, _quote(action.key))),
                )
        if not isinstance(cur, str):
            # Null parent stays null; the action does not materialize the
            # struct (PlugRule.scala:111, SparkPlugSpec.scala:394).
            cur = F.when(
                F.expr(f"{_quote(parent)} IS NULL"), _null_of(fields[parent])
            ).otherwise(cur)
        out[parent] = cur

        if keep_old_field:
            # <updateKey>_<ruleName>_old (PlugRule.scala:83,153; README:186-194)
            out[f"{parent}_{rule.name}_old"] = _quote(parent)

    gate = f"{cond} AND ({' OR '.join(gates) or 'false'})"
    if entry_builder is None:
        entry = None
    elif entry_builder is default_details_entry:
        names = ", ".join(_sql_string(k) for k in rule.field_names)
        entry = (
            f"named_struct('name', {_sql_string(rule.name)}, "
            f"'version', {_sql_string(rule.version)}, "
            f"'fieldNames', array({names}))"
        )
    else:
        entry = entry_builder(rule)
    return out, gate, entry


def _rule_columns(
    rule: PlugRule,
    fields: dict[str, T.DataType],
    details_column: str | None,
    entry_builder: Callable[[PlugRule], Column],
    keep_old_field: bool,
    lenient: bool,
    parse: Callable[[str], object],
    alias_prefix: str | None = None,
) -> dict[str, Column]:
    """ONE rule's written top-level columns under one ``F.expr`` each (see
    :func:`_compile_rule`), the details column included: every expression
    reads the rule's INPUT columns.  With ``alias_prefix`` every column is
    named ``<alias_prefix><column>``."""
    out, gate, entry = _compile_rule(
        rule,
        fields,
        entry_builder if details_column is not None else None,
        keep_old_field,
        lenient,
        parse,
    )
    if details_column is not None:
        details = _quote(details_column)
        if isinstance(entry, str):
            out[details_column] = (
                f"CASE WHEN {gate} THEN concat({details}, array({entry})) "
                f"ELSE {details} END"
            )
        else:
            d = F.expr(details)
            out[details_column] = F.when(
                F.expr(gate), F.concat(d, F.array(entry))
            ).otherwise(d)

    def column(name: str, c: str | Column) -> Column:
        if alias_prefix is None:
            return F.expr(c) if isinstance(c, str) else c
        alias = alias_prefix + name
        return F.expr(f"{c} AS {_ident(alias)}") if isinstance(c, str) else c.alias(alias)

    return {name: column(name, c) for name, c in out.items()}


def apply_rule(
    df: DataFrame,
    rule: PlugRule,
    details_column: str | None = None,
    details_entry_builder: Callable[[PlugRule], Column] = default_details_entry,
    keep_old_field: bool = False,
    lenient: bool = False,
    fields: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Apply ONE rule as a single projection over ``df``.

    Equivalent of the reference's generated
    ``select *, if(cond, v, col) as col_new, ... from __plug_table__`` plus
    the rename dance (``SparkPlug.scala:98-102``, ``PlugRule.scala:49-97``):
    each written column is one SQL ``CASE WHEN`` text (see
    :func:`_rule_columns`) applied with ``withColumns``, so every expression
    reads the rule's input row, no temp view is registered, and Catalyst
    collapses consecutive rules where it can.

    ``fields`` is the dotted-path -> DataType map of ``df``'s schema; pass it
    when folding many rules so each step skips the ``df.schema`` analysis
    round-trip.  Caveat: only LITERAL writes preserve column types — a
    backtick EXPRESSION action can retype its column, after which a cached
    map is stale for that column's subtree and must be rebuilt from the
    current schema before coercing later literal writes to it
    (``SparkPlug.plug`` tracks this automatically).
    """
    if fields is None:
        fields = build_fields_map(df.schema)
    return df.withColumns(
        _rule_columns(
            rule,
            fields,
            details_column,
            details_entry_builder,
            keep_old_field,
            lenient,
            _parser(df.sparkSession),
        )
    )


def apply_rule_reference_compat(
    df: DataFrame,
    rule: PlugRule,
    details_column: str | None = None,
    details_entry_builder: Callable[[PlugRule], Column] = default_details_entry,
    keep_old_field: bool = False,
    lenient: bool = False,
) -> DataFrame:
    """Apply ONE rule with the REFERENCE's exact mechanics — migration-parity
    mode (``SparkPlug(compat="reference")``) for users porting live rule sets
    from the Scala engine who need byte-for-byte identical output, quirks
    included.

    Reproduces the generated ``select *, <new cols>`` followed by the
    per-action rename/drop fold (``SparkPlug.scala:98-102``,
    ``PlugRule.scala:79-97``) using the same DataFrame operations, so the
    documented quirks fall out structurally rather than being simulated:

    - **Q1** (``PlugRule.scala:83-87`` vs ``:11,153``): the post-rename drop
      uses the FULL dotted action key (``drop("price.min_<rule>_old")``, a
      column that never exists), so struct actions leave a residual
      ``<parent>_<rule>_old`` column even without ``keepOldField`` — and the
      new value column moves to the END of the column order (it was appended
      as ``<parent>_new`` and renamed in place).
    - **Q2** (``PlugRule.scala:121``, README.md:143-159): two actions on the
      same struct parent in one rule each emit their own
      ``named_struct(...) AS <parent>_new``; the duplicate aliases then feed
      a rename fold whose ``withColumnRenamed`` calls rename EVERY matching
      column, so the parent column is destroyed exactly the way the
      reference destroys it (no test covered the advertised case).
    - Struct keys are limited to exactly TWO levels: the reference's
      ``val Array(parent, child) = x.split('.')`` throws ``MatchError`` on
      deeper keys (Q4, ``PlugRule.scala:107`` vs validation ``:146-151``);
      here that surfaces as a ``ValueError`` naming the quirk instead of a
      Scala stack trace.

    The default engine (:func:`apply_rule`) fixes all of this; this path
    exists so a migration can first prove output parity against the Scala
    engine, then flip to ``compat="fixed"`` deliberately.  Per-rule analysis
    cost matches the reference's per-rule temp-view codegen — this is a
    migration aid, not the 100 TB path.
    """
    fields = build_fields_map(df.schema)
    cond = F.expr(rule.condition)
    new_cols: list[Column] = []
    changed_preds: list[Column] = []
    for action in rule.actions:
        dt = fields.get(action.key)
        if dt is None:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name, f'Field "{action.key}" not found in the schema.'
                    )
                ]
            )
        try:
            v = _value_column(action, dt, lenient)
        except CoercionError:
            raise PlugRuleValidationException(
                [
                    PlugRuleValidationError(
                        rule.name,
                        f'Value "{action.value}" cannot be assigned to '
                        f"field {action.key}.",
                    )
                ]
            ) from None
        changed_preds.append(~F.col(action.key).eqNullSafe(v))
        if "." in action.key:
            parts = action.key.split(".")
            if len(parts) != 2:
                raise ValueError(
                    f"compat='reference' supports struct keys of exactly two "
                    f"levels, got {action.key!r} (the Scala engine throws "
                    "MatchError here — PlugRule.scala:107; use the default "
                    "engine for N-level keys)"
                )
            parent, child = parts
            parent_dt = fields[parent]
            members = [
                (
                    F.when(cond, v).otherwise(F.col(action.key)).alias(f.name)
                    if f.name == child
                    else F.col(f"{parent}.{f.name}").alias(f.name)
                )
                for f in parent_dt.fields
            ]
            new_cols.append(
                F.when(F.col(parent).isNull(), _null_of(parent_dt))
                .otherwise(F.struct(*members))
                .alias(f"{parent}_new")
            )
        else:
            new_cols.append(
                F.when(cond, v)
                .otherwise(F.col(action.key))
                .alias(f"{action.key}_new")
            )

    if details_column is not None:
        changed = (
            reduce(lambda a, b: a | b, changed_preds)
            if changed_preds
            else F.lit(False)
        )
        details = F.col(details_column)
        new_cols.append(
            F.when(
                cond & changed,
                F.concat(details, F.array(details_entry_builder(rule))),
            )
            .otherwise(details)
            .alias(f"{details_column}_updated")
        )

    out = df.select("*", *new_cols)

    # The reference's rename/drop fold (PlugRule.scala:79-97), operation for
    # operation.  withColumnRenamed renames EVERY matching column — load-
    # bearing for Q2.
    for action in rule.actions:
        uk = action.update_key
        out = out.withColumnRenamed(uk, f"{uk}_{rule.name}_old")
        out = out.withColumnRenamed(f"{uk}_new", uk)
        if not keep_old_field:
            # Q1: full dotted key — a no-op drop for struct actions
            out = out.drop(f"{action.key}_{rule.name}_old")
    if details_column is not None:
        out = out.drop(details_column).withColumnRenamed(
            f"{details_column}_updated", details_column
        )
    return out


@dataclass(frozen=True)
class SparkPlug:
    """Engine facade + builder (reference ``SparkPlug.scala:129-159``).

    >>> plugged = (SparkPlug.builder(spark)
    ...            .enable_plug_details()
    ...            .enable_rules_validation()
    ...            .create()
    ...            .plug(df, rules))
    """

    spark: SparkSession
    plug_details: PlugDetailsConfig | None = None
    validate_rules: bool = False
    checkpoint: CheckpointConfig | None = None
    metrics_observation: Observation | None = None
    keep_old_field_enabled: bool = False
    lenient: bool = False
    #: "fixed" (default) = the documented-deviation engine (Q1-Q4 repaired);
    #: "reference" = byte-for-byte Scala-engine parity, quirks included
    #: (see apply_rule_reference_compat) — for proving migration parity.
    compat: str = "fixed"

    def __post_init__(self) -> None:
        # metrics need the details column to count changed rows; auto-enable
        # it (as enable_metrics does) so direct construction / one-shot
        # plug(..., metrics_observation=...) kwargs don't hit a None deref
        if self.metrics_observation is not None and self.plug_details is None:
            object.__setattr__(
                self,
                "plug_details",
                PlugDetailsConfig(
                    DEFAULT_PLUG_DETAILS_COLUMN,
                    PLUG_DETAILS_SCHEMA_DDL,
                    default_details_entry,
                ),
            )

    # -- builder -----------------------------------------------------------
    @staticmethod
    def builder(spark: SparkSession) -> "SparkPlug":
        return SparkPlug(spark)

    def enable_plug_details(
        self,
        column: str = DEFAULT_PLUG_DETAILS_COLUMN,
        entry_builder: Callable[[PlugRule], Column] = default_details_entry,
        schema_ddl: str = PLUG_DETAILS_SCHEMA_DDL,
    ) -> "SparkPlug":
        return replace(
            self,
            plug_details=PlugDetailsConfig(column, schema_ddl, entry_builder),
        )

    def enable_rules_validation(self) -> "SparkPlug":
        return replace(self, validate_rules=True)

    def enable_checkpointing(
        self, checkpoint_dir: str, rules_per_stage: int, num_partitions: int
    ) -> "SparkPlug":
        return replace(
            self,
            checkpoint=CheckpointConfig(
                checkpoint_dir, rules_per_stage, num_partitions
            ),
        )

    def enable_metrics(self, observation: Observation | None = None) -> "SparkPlug":
        """Changed-row count via ``observe`` — replaces the reference's
        accumulator + extra ``foreach`` job (``SparkPlug.scala:52-62``) with
        a zero-cost observation on the caller's own action.  Implies plug
        details (as the reference's ``enableAccumulators`` did)."""
        out = self if self.plug_details is not None else self.enable_plug_details()
        return replace(out, metrics_observation=observation or Observation("sparkplug"))

    def keep_old_field(self) -> "SparkPlug":
        return replace(self, keep_old_field_enabled=True)

    def with_compat(self, mode: str) -> "SparkPlug":
        """``"fixed"`` (default) or ``"reference"`` (Scala-engine parity,
        quirks Q1/Q2 reproduced — see :func:`apply_rule_reference_compat`)."""
        if mode not in ("fixed", "reference"):
            raise ValueError(f"compat must be 'fixed' or 'reference', got {mode!r}")
        return replace(self, compat=mode)

    def create(self) -> "SparkPlug":
        """No-op for builder-API symmetry with the reference."""
        return self

    # -- API ---------------------------------------------------------------
    def validate(
        self, schema: T.StructType, rules: Sequence[PlugRule]
    ) -> list[PlugRuleValidationError]:
        """Validate against the INPUT schema (reference contract,
        ``PlugRule.scala:46-47``): a literal write to a column that an
        earlier backtick expression retypes mid-fold is reported as a
        coercion error here even though the unvalidated engine path
        handles the retype — the reference validated the same way, and a
        rule set that only type-checks against a mid-fold schema is
        fragile by construction."""
        _require_classic()
        return validate_rules(schema, list(rules), spark=self.spark)

    def plug(self, df: DataFrame, rules: Iterable[PlugRule]) -> DataFrame:
        _require_classic()
        rules = list(rules)
        if self.validate_rules:
            errors = self.validate(df.schema, rules)
            if errors:
                raise PlugRuleValidationException(errors)

        if self.checkpoint is not None and not df.isStreaming:
            self.spark.sparkContext.setCheckpointDir(self.checkpoint.checkpoint_dir)

        out = self._pre_process(df)

        if self.compat == "reference":
            # Migration-parity path: the reference re-analyzed per rule
            # (temp view + codegen each step); so do we — no fields-map
            # bookkeeping survives the rename dance anyway.
            for i, rule in enumerate(rules):
                out = apply_rule_reference_compat(
                    out,
                    rule,
                    details_column=(
                        self.plug_details.column if self.plug_details else None
                    ),
                    details_entry_builder=(
                        self.plug_details.entry_builder
                        if self.plug_details
                        else default_details_entry
                    ),
                    keep_old_field=self.keep_old_field_enabled,
                    lenient=self.lenient,
                )
                out = self._repartition_and_checkpoint(out, i)
            return self._observe_metrics(out, df)

        # ONE schema analysis for the whole fold: LITERAL rule writes never
        # change column types, so the dotted-path -> type map stays valid
        # across rules (per-rule df.schema calls re-analyze the growing
        # plan — a driver-side O(rules^2) py4j tax on long chains).
        # EXPRESSION actions (backtick values) CAN retype a column, so
        # every path under such an action's top-level column is marked
        # stale and re-read from the schema only when a later rule actually
        # touches a stale path — the common all-literal chain stays O(rules).
        #
        # Rules apply in LEVELS: maximal runs of consecutive rules in which
        # no rule reads (its fragments, or its own action keys through the
        # change gate and ELSE branch) or writes a column an earlier rule of
        # the run writes.  Every rule of a level then reads the level's input
        # exactly as it would read its own, so the level is one withColumns:
        # one analysis and one Project, not one per rule.  A rule touching a
        # path the pending level made stale reads that level's write, so it
        # starts a new level; the map is re-read at that boundary.
        pd = self.plug_details
        details = pd.column if pd else None
        parse = _parser(self.spark)
        case_sensitive = self.spark.conf.get("spark.sql.caseSensitive") == "true"
        fold = (lambda n: n) if case_sensitive else _fold_case
        fields = build_fields_map(out.schema)
        stale: set[str] = set()  # stale paths written by applied levels
        level: list = []  # compiled rules of the pending level
        level_stale: set[str] = set()  # stale paths it writes
        written: set[str] = set()  # what it writes, as _pieces

        def flush() -> None:
            nonlocal out
            if level:
                out = _apply_level(out, level, details, pd.schema_ddl if pd else "")
                level.clear()
                written.clear()
                stale.update(level_stale)
                level_stale.clear()

        def touches(paths: set[str], rule: PlugRule) -> bool:
            return bool(paths) and any(
                a.key in paths or a.update_key in paths for a in rule.actions
            )

        for i, rule in enumerate(rules):
            if touches(level_stale, rule):
                flush()
            if touches(stale, rule):
                # the applied plan has every stale path's type; the pending
                # level's keep-old paths are not in it yet, so update in place
                for p in stale:
                    fields.pop(p, None)
                fields.update(build_fields_map(out.schema))
                stale.clear()
            reads: set[str] | None = set()

            def parse_and_read(text: str) -> None:
                nonlocal reads
                names = _names_read(parse(text))
                reads = None if names is None or reads is None else reads | names

            try:
                compiled = _compile_rule(
                    rule,
                    fields,
                    pd.entry_builder if pd else None,
                    self.keep_old_field_enabled,
                    self.lenient,
                    parse_and_read,
                )
            except Exception:
                flush()  # an earlier rule's analysis error comes first
                raise
            writes = _pieces(compiled[0], fold)
            if reads is not None:
                reads = _pieces(reads, fold) | _pieces(
                    (a.update_key for a in rule.actions), fold
                )
            if reads is None or not written.isdisjoint(reads | writes):
                flush()
            level.append(compiled)
            written.update(writes)
            if details is not None:
                written.update(_pieces([details], fold))
            for a in rule.actions:
                if a.is_expression:
                    # the expression's result type is unknown without
                    # analysis; poison the whole top-level column subtree
                    level_stale.update(
                        p for p in fields if p == a.update_key
                        or p.startswith(a.update_key + ".")
                    )
            if self.keep_old_field_enabled:
                # keep-old copies add real columns mid-fold; keep the map
                # (including nested struct paths) in sync so later rules
                # may reference them.
                for parent in {a.update_key for a in rule.actions}:
                    old = f"{parent}_{rule.name}_old"
                    fields[old] = fields[parent]
                    if isinstance(fields[parent], T.StructType):
                        fields.update(
                            build_fields_map(fields[parent], prefix=f"{old}.")
                        )
                    if parent in level_stale:
                        level_stale.add(old)
            cadence = (
                self.checkpoint is not None
                and (i + 1) % self.checkpoint.rules_per_stage == 0
            )
            if reads is None or cadence:
                # a rule that may read any column is a level of its own, and
                # the cadence lands after the same rules as in a per-rule fold
                flush()
            if cadence:
                out = self._repartition_and_checkpoint(out, i)
        flush()

        return self._observe_metrics(out, df)

    # -- internals ----------------------------------------------------------
    def _observe_metrics(self, out: DataFrame, source: DataFrame) -> DataFrame:
        if self.metrics_observation is None or source.isStreaming:
            return out
        dc = self.plug_details.column
        return out.observe(
            self.metrics_observation,
            F.count(F.when(F.size(F.col(dc)) > 0, True)).alias("changed"),
            F.count(F.lit(1)).alias("total"),
        )

    def _pre_process(self, df: DataFrame) -> DataFrame:
        if self.plug_details is None:
            return df
        # Initialize the audit column to [] (reference SparkPlug.scala:88-91;
        # empty-details UDF replaced by a cast literal).
        pd = self.plug_details
        return df.withColumn(pd.column, F.array().cast(pd.schema_ddl))

    def _repartition_and_checkpoint(self, df: DataFrame, rule_number: int) -> DataFrame:
        cd = self.checkpoint
        if cd is None or df.isStreaming:
            return df
        out = df
        if (rule_number + 1) % cd.rules_per_stage == 0:
            out = out.repartition(cd.num_partitions)
        if (rule_number + 1) % (2 * cd.rules_per_stage) == 0:
            out = out.checkpoint()
        return out


def plug(
    spark: SparkSession,
    df: DataFrame,
    rules: Iterable[PlugRule],
    **builder_kwargs,
) -> DataFrame:
    """One-shot functional entry point: ``plug(spark, df, rules)``."""
    return SparkPlug(spark, **builder_kwargs).plug(df, rules)
