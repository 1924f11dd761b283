"""Rule validation: structural checks, literal-coercion probe, SQL dry-run.

Mirrors the reference's validation semantics and error strings:

- duplicate rule-name check            — ``SparkPlug.scala:67-73``
- at-least-one-action                  — ``PlugRule.scala:23-26``
- action key present in schema         — ``PlugRule.scala:28-44, 146-151``
- value coercible to field type        — ``PlugRule.scala:132-141``
- SQL dry-run on an empty DataFrame    — ``SparkPlug.scala:78-86``
  (runs only when the structural pass found nothing, matching the
  ``Option(...).filter(nonEmpty).getOrElse(...)`` short-circuit at
  ``SparkPlug.scala:74-76``)

Deviation from the reference (documented, SURVEY §2.1 Q3/Q4): the coercion
matrix supports the full numeric/boolean/decimal/date lattice (the reference
only int/double/string), and nested keys validate AND apply at any depth.
"""

from __future__ import annotations

import datetime
import decimal
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from .models import PlugRule, PlugRuleValidationError

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "build_fields_map",
    "coerce_action_value",
    "CoercionError",
    "validate_rules",
    "validate_rule_sql",
]


class CoercionError(ValueError):
    """Literal cannot be represented in the target Spark type."""


def build_fields_map(schema: T.StructType, prefix: str = "") -> dict[str, T.DataType]:
    """Recursive ``dotted.path -> DataType`` map over a StructType
    (reference ``PlugRule.scala:146-151``)."""
    fields: dict[str, T.DataType] = {}
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        fields[path] = f.dataType
        if isinstance(f.dataType, T.StructType):
            fields.update(build_fields_map(f.dataType, prefix=f"{path}."))
    return fields


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)

_INT_BOUNDS = {
    T.ByteType: (-(2**7), 2**7 - 1),
    T.ShortType: (-(2**15), 2**15 - 1),
    T.IntegerType: (-(2**31), 2**31 - 1),
    T.LongType: (-(2**63), 2**63 - 1),
}


def coerce_action_value(value: str, data_type: T.DataType):
    """Coerce an action's literal string to a Python value for ``F.lit``.

    Backtick expressions bypass coercion entirely (reference
    ``PlugRule.scala:132-134``) — callers check ``action.is_expression``
    first; this function only handles plain literals.

    Raises :class:`CoercionError` when the literal cannot be assigned —
    the validated path surfaces it as a validation error; the unvalidated
    path raises (deviation from the reference's silent ``null``,
    ``PlugRule.scala:129``; pass ``lenient=True`` to the engine to mimic).
    """
    try:
        if isinstance(data_type, _INT_TYPES):
            v = int(value)  # int("2.1") raises, matching Scala toInt
            lo, hi = _INT_BOUNDS[type(data_type)]
            if not lo <= v <= hi:
                raise CoercionError(value)
            return v
        if isinstance(data_type, _FLOAT_TYPES):
            return float(value)
        if isinstance(data_type, T.StringType):
            return value
        if isinstance(data_type, T.BooleanType):
            low = value.strip().lower()
            if low in ("true", "false"):
                return low == "true"
            raise CoercionError(value)
        if isinstance(data_type, T.DecimalType):
            return decimal.Decimal(value)
        if isinstance(data_type, T.DateType):
            return datetime.date.fromisoformat(value)
        if isinstance(data_type, T.TimestampType):
            return datetime.datetime.fromisoformat(value)
    except CoercionError:
        raise
    except (ValueError, ArithmeticError) as e:
        raise CoercionError(str(e)) from e
    # Struct/array/map/binary targets take expressions only.
    raise CoercionError(f"unsupported target type {data_type.simpleString()}")


def _validate_structural(
    schema: T.StructType, rules: list[PlugRule]
) -> list[PlugRuleValidationError]:
    errors: list[PlugRuleValidationError] = []

    # Duplicate rule names: one version per rule (SparkPlug.scala:68-73).
    seen: dict[str, int] = {}
    for r in rules:
        seen[r.name] = seen.get(r.name, 0) + 1
    for name, n in seen.items():
        if n > 1:
            errors.append(
                PlugRuleValidationError(
                    name, "Only one version per rule should be applied."
                )
            )

    fields = build_fields_map(schema)
    for rule in rules:
        if not rule.actions:
            errors.append(
                PlugRuleValidationError(
                    rule.name, "At the least one action must be specified per rule."
                )
            )
            continue
        for action in rule.actions:
            dt = fields.get(action.key)
            if dt is None:
                errors.append(
                    PlugRuleValidationError(
                        rule.name, f'Field "{action.key}" not found in the schema.'
                    )
                )
            elif not action.is_expression:
                try:
                    coerce_action_value(action.value, dt)
                except CoercionError:
                    errors.append(
                        PlugRuleValidationError(
                            rule.name,
                            f'Value "{action.value}" cannot be assigned to '
                            f"field {action.key}.",
                        )
                    )
    return errors


def _dry_run(
    empty: "DataFrame", fields: dict[str, T.DataType], rules: list[PlugRule]
) -> None:
    """Analyze every rule's compiled columns in ONE ``select`` over
    ``empty``; raises what the first failing rule raises."""
    from .engine import _parser, _rule_columns  # local import to avoid cycle

    parse = _parser(empty.sparkSession)
    empty.select(
        *(
            c
            for i, rule in enumerate(rules)
            for c in _rule_columns(
                rule, fields, None, None, False, False, parse, alias_prefix=f"{i}:"
            ).values()
        )
    ).schema  # force analysis


def _sql_errors(
    empty: "DataFrame", fields: dict[str, T.DataType], rule: PlugRule
) -> list[PlugRuleValidationError]:
    """One rule's dry run: the engine's own ``apply_rule`` over ``empty``."""
    from .engine import apply_rule  # local import to avoid cycle

    try:
        apply_rule(empty, rule, fields=fields).schema  # force analysis
    except Exception as e:  # ParseException, AnalysisException and friends
        msg = getattr(e, "desc", None) or str(e)
        return [PlugRuleValidationError(rule.name, f"[SQL Error] {msg}")]
    return []


def validate_rule_sql(
    spark: "SparkSession", schema: T.StructType, rule: PlugRule
) -> list[PlugRuleValidationError]:
    """SQL dry-run: build the rule's plan over an empty DataFrame of the
    target schema and surface parse and analysis errors (reference
    ``SparkPlug.scala:78-86``).  Analysis is eager, so a ``try`` suffices;
    no job runs (empty local relation)."""
    return _sql_errors(spark.createDataFrame([], schema), build_fields_map(schema), rule)


def validate_rules(
    schema: T.StructType,
    rules: list[PlugRule],
    spark: "SparkSession | None" = None,
) -> list[PlugRuleValidationError]:
    """Full validation pass.  The SQL dry-run runs only when structural
    validation is clean AND a SparkSession is supplied
    (reference ``SparkPlug.scala:67-76``).  All rules are analyzed in one
    ``select`` over one empty relation; only when that fails is each rule
    dry-run alone, to name the failing rules with their own messages."""
    errors = _validate_structural(schema, rules)
    if errors or spark is None or not rules:
        return errors
    empty = spark.createDataFrame([], schema)
    fields = build_fields_map(schema)
    try:
        _dry_run(empty, fields, rules)
    except Exception:  # noqa: BLE001 - attributed per rule below
        return [e for rule in rules for e in _sql_errors(empty, fields, rule)]
    return []
